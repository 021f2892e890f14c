"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — these must work at 100 TB):

- **Exact dedup** hashes content to a 128-bit digest and groups on it; the
  shuffle key is the digest, never the document body, so shuffle volume is
  O(rows·16B) not O(corpus bytes).
- **MinHash** uses engine-independent hashes derived from md5 (so the
  DuckDB oracle can reproduce them bit-for-bit — no JVM-private xxhash).
  Signatures are built by explode→groupBy: one shuffle of
  (doc, shingle-hash) pairs, map-side combined to per-doc minima.
- **LSH banding** turns the O(n²) all-pairs problem into a self-join on
  (band_id, band_hash) buckets — candidate generation is a hash join whose
  key cardinality ≈ n·bands/avg_bucket, embarrassingly parallel. Skewed
  buckets (boilerplate shingles) are bounded by AQE skew-join splitting.
- **Verification** (exact Jaccard) runs only on candidate pairs.

No step materializes anything driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bricolage_spark.catalog import spread
from bricolage_spark.exception import JobFailure

# ---------------------------------------------------------------------------
# shared hashing primitives (engine-independent: md5-based)
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for hashing."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_hash(col: Column) -> Column:
    """128-bit content digest of normalized text."""
    return F.md5(normalize_text(col))


def hash32(col: Column, seed: int) -> Column:
    """Deterministic 32-bit integer hash of a string under ``seed``.

    first-8-hex-chars of md5("<seed>|<value>") → BIGINT in [0, 2^32).
    Reproducible in any engine with md5 (DuckDB oracle parity).
    """
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), col)), 1, 8), 16, 10
    ).cast("bigint")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) content; keep the min-id representative.

    Returns (content_hash, keep_id, dup_count). Cluster sizes are retained
    so downstream can weight/sample; callers wanting the surviving rows
    semi-join ``keep_id`` back to the corpus.
    """
    return (
        df.select(
            content_hash(F.col(text_col)).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def incremental_dedup(
    df: DataFrame,
    registry: DataFrame | None,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against the accumulated corpus digest registry.

    The production shape of exact dedup: the historical corpus is
    represented only by its digest registry (a parquet table with one
    16-byte ``content_hash`` per ever-seen document), never rescanned.
    Returns ``(novel, new_digests)``:

    - ``novel`` — the input rows that survive BOTH in-batch first-seen
      dedup (min-``id_col`` representative per digest) and the anti-join
      against the registry;
    - ``new_digests`` — the digests to append to the registry (exactly
      the digests of ``novel``), which the caller persists, e.g.
      ``engine.save_table(new_digests, "dedup_registry", mode="append")``.

    Scale design: the anti-join shuffles 16-byte digests on both sides
    (at 100 TB the registry is ~1.6 TB per 10¹¹ docs — joinable, never
    broadcast); in-batch dedup is ONE ``min_by`` aggregation keyed on
    the digest — map-side combine keeps one candidate row per (mapper,
    digest), so at most one document body per distinct digest ever
    shuffles, and there is no join-back (the former groupBy +
    rejoin shape shuffled every batch body through the join AND — the
    r12 plan-gate finding — let the static planner pick the
    batch-proportional first-seen side as a broadcast build). The same
    registry-anti-join contract as streaming_load's exactly-once file
    ledger, applied to content identity.

    NULL-``text_col`` AND NULL-``id_col`` rows are dropped EXPLICITLY:
    a contentless row has no content identity to dedup on (the family
    contract — ``bpe_encode``'s "nothing to rebuild"), and a digest
    group whose ids are ALL NULL would make ``min_by`` return a NULL
    struct — one all-NULL representative that then survives the
    anti-join (NULL never matches the registry). Both drops were
    implicit in the pre-r12 join-back shape (a NULL digest never
    equi-joins; SQL ``min`` ignores NULL ids so the join-back found no
    partner) and in the q67 oracle; the min_by shape makes them
    explicit so it cannot silently diverge.

    ``content_hash`` is a RESERVED output column: if the input already
    carries one (e.g. this function's own ``novel`` output fed back
    in), it is dropped and recomputed from ``text_col`` — otherwise
    the representative struct would duplicate the column name and the
    final projection would raise an ambiguous-reference error.
    """
    base_cols = [c for c in df.columns if c != "content_hash"]
    digested = df.select(*base_cols).where(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    ).withColumn("content_hash", content_hash(F.col(text_col)))
    batch_novel = (
        digested.groupBy("content_hash")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in base_cols]), F.col(id_col)
            ).alias("_rep")
        )
        .select("content_hash", "_rep.*")
    )
    if registry is not None:
        # family invariant (r11 64x octave, twice-proven failure mode):
        # in a left-anti join only the REGISTRY side is broadcastable,
        # and the registry is corpus-scale by construction — but a
        # registry derived inline (Generate/Aggregate chain) carries a
        # tiny STATIC size estimate, so pin the probe join to
        # sort-merge. Production registries are bucketed parquet reads
        # that feed SMJ Exchange-free anyway.
        batch_novel = batch_novel.join(
            registry.select("content_hash").hint("merge"),
            "content_hash",
            "left_anti",
        )
    novel = batch_novel.select(*base_cols, "content_hash")
    return novel, novel.select("content_hash")


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_array(text_col: Column, k: int = 3) -> Column:
    """Word k-shingle strings of a text column, as a row-local array —
    the ONE shared definition of the k-shingle (built with
    sequence+transform+slice, pure Catalyst): :func:`word_shingles`
    melts it for the MinHash pipeline, ``textual.fingerprint`` sketches
    it. A shingle-semantics change lands in both consumers by
    construction."""
    words = F.split(normalize_text(text_col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle).

    PRECONDITION (caller-facing): ``id_col`` must be unique per row —
    one row per document. The within-row dedup below is the global
    (id, shingle) distinct ONLY under that invariant; a table with
    duplicate ids (e.g. an arbitrary user table fed to the leakage
    audit) would yield duplicate postings and inflate row-count
    consumers such as the df table. Every in-repo corpus table has
    unique ids; pre-aggregate (`dropDuplicates([id_col])`) before
    calling if yours may not.

    Shingles are built with array ops (sequence+transform+slice) — pure
    Catalyst expressions, whole-stage-codegen'd, no Python in the loop.

    r15 optimization (guide §2.4: remove shuffles outright — "a distinct
    on data that is already unique"): dedup is ROW-LOCAL
    (``array_distinct`` before the explode), not a global ``.distinct()``
    — every shingle of a document originates in that document's single
    input row, so within-row dedup IS the full (id, shingle) distinct,
    and the corpus-wide shuffle of the biggest table in the dedup family
    (one row per (doc, shingle)) disappears from the index build. The
    result SET is identical; row order was never part of the contract
    (every consumer aggregates or joins).
    """
    return spread(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_array(F.col(text_col), k))).alias(
            "shingle"
        ),
    )


def positional_anchors(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, *, with_total: bool = False
) -> DataFrame:
    """Positional word k-gram postings: (id, pos, anchor) with 1-based
    ``pos``, one row per k-gram start. Unlike :func:`word_shingles` the
    positions are kept (span detection needs them) and duplicates are NOT
    collapsed. Docs shorter than k words emit nothing.

    ``with_total`` adds ``n_grams`` (= word count − k + 1, the doc's
    gram count) as a per-doc constant computed at melt time — consumers
    that need it (q79's full-window filter) avoid a COUNT() OVER
    (PARTITION BY id) window pass over the gram stream.

    Pure Catalyst (sequence+explode+slice), whole-stage-codegen'd.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    # guard the short-doc case explicitly: sequence(1, 0) is a DESCENDING
    # [1, 0] in Spark, not empty
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    total = [(n - (k - 1)).cast("bigint").alias("n_grams")] if with_total else []
    return (
        spread(df, id_col)
        .select(F.col(id_col), words.alias("_w"), *total, F.explode(idx).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos").cast("bigint").alias("pos"),
            *(["n_grams"] if with_total else []),
            F.concat_ws(" ", F.slice(F.col("_w"), F.col("pos"), F.lit(k))).alias(
                "anchor"
            ),
        )
    )


def positional_anchor_keys(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Positional anchor KEYS for the span-registry family: (id, pos,
    ahash) with ``ahash = xxhash64`` of the word k-gram SLICE — no
    per-position anchor string is ever allocated and no cryptographic
    digest is paid (``duplicate_spans``' key discipline, shared here by
    q110, the ``span-registry`` job class, and the foreachBatch span
    scrub).

    ADJUDICATION (r11, VERDICT r10 #3) — measured alternatives for the
    q110 probe at sf0.1, best-of-3 noop-sink wall sec, local[32]:

    - md5(concat_ws(slice)) string keys (the r9-r10 shape): 1.647 s
    - xxhash64(anchor string), md5 dropped:                 1.411 s
    - xxhash64(slice array), no string, no md5 (THIS):      1.425 s
      (interleaved same-session A/B re-run, full q110, two rounds:
      old 1.536/1.430 s vs new 1.477/1.255 s — new wins every pairing)
    - winnowed md5 anchors, w=4 (~2/(w+1) density):         1.392 s
      (semi-join + per-doc agg only — winnowing changes span
      reconstruction semantics AND pays a per-doc window min that
      cancels most of the row savings at this scale; it remains the
      documented SCALE.md fallback where the registry's byte size, not
      probe CPU, is the binding constraint)

    Verdict: the anchor melt itself (explode + shuffle), not the
    digest, dominates — the hash swap buys ~13% and, more importantly,
    shrinks every registry row from a 32-char md5 hex string to an
    8-byte BIGINT (~4x narrower at O(history tokens) rows: the
    corpus-scale registry's dominant cost). Probe spans verified
    identical to the md5 shape at sf0.1. Collision bias, same argument
    as ``duplicate_spans``: a 64-bit collision creates a stray HIT
    anchor that lands in its own island of span_len = anchor_len <
    min_span and is filtered; only a collision adjacent to a real span
    could stretch it by a few tokens.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return (
        spread(df, id_col)
        .select(F.col(id_col), words.alias("_w"), F.explode(idx).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos").cast("bigint").alias("pos"),
            F.xxhash64(F.slice(F.col("_w"), F.col("pos"), F.lit(k))).alias(
                "ahash"
            ),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    anchor_len: int = 8,
    min_span: int = 12,
    max_postings: int = 8,
) -> DataFrame:
    """Substring-level exact dedup: maximal cross-document duplicated
    token SPANS, the sequence-level dual of whole-doc near-dup — the
    public "Deduplicating Training Data" (Lee et al. 2022) 50-token-
    overlap method re-expressed as bucketed joins instead of a suffix
    array.

    Bucketed design, never all-pairs — and ONE corpus-sized shuffle:

    1. positional anchor postings — every word ``anchor_len``-gram with
       its start offset (one corpus scan, row-local); the shuffle key is
       ``xxhash64(anchor)``, so shuffle rows are fixed-width (8 B key +
       two ints), never the anchor text;
    2. one groupBy collects each anchor's posting list and keeps only
       lists of size [2, max_postings]: singletons can't witness a
       duplicate, and boilerplate anchors above the cap are dropped at
       index time (q48's df-cutoff discipline);
    3. aligned matches expand ROW-LOCALLY from the collected list
       (≤ max_postings² struct pairs per anchor, doc_a < doc_b keeps
       cross-doc pairs once) — no keep-join, no self-join: a duplicated
       span of L tokens shows up as L−k+1 matches at a CONSTANT offset
       difference ``pos_a − pos_b``;
    4. gaps-and-islands per (doc_a, doc_b, diff): consecutive anchor
       starts collapse to one maximal span via the pos − row_number()
       trick; span token length = last_start − first_start + anchor_len.

    A 64-bit anchor-hash collision can create a stray aligned match, but
    it lands in its own (doc pair, diff) island of span_len = anchor_len
    < min_span and is filtered; corrupting a real span would need the
    collision to align at an existing island's offset — at which point a
    128-bit digest key (md5) is the dial to turn, same plan shape.
    Returns (doc_a, doc_b, a_start, b_start, span_len), spans of at
    least ``min_span`` tokens.
    """
    from pyspark.sql import Window

    # inline postings (same shape as positional_anchors, minus the anchor
    # STRING: the k-word slice array feeds xxhash64 directly, so no
    # per-position string is ever allocated)
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    idx = F.when(n >= anchor_len, F.sequence(F.lit(1), n - (anchor_len - 1))).otherwise(
        F.array().cast("array<int>")
    )
    p = (
        spread(df, id_col)
        .select(F.col(id_col), words.alias("_w"), F.explode(idx).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos").cast("bigint").alias("pos"),
            F.xxhash64(F.slice(F.col("_w"), F.col("pos"), F.lit(anchor_len))).alias("ah"),
        )
    )
    grouped = (
        p.groupBy("ah")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("L"))
        .filter((F.size("L") >= 2) & (F.size("L") <= max_postings))
    )
    m = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "L",
                        lambda x: F.transform(
                            "L",
                            lambda y: F.struct(
                                x["d"].alias("doc_a"),
                                y["d"].alias("doc_b"),
                                x["p"].alias("pos_a"),
                                y["p"].alias("pos_b"),
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.doc_a", "pr.doc_b", "pr.pos_a", "pr.pos_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("diff", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pos_a")
    isl = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diff", "grp")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(anchor_len)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            F.col("a_start").cast("bigint").alias("a_start"),
            F.col("b_start").cast("bigint").alias("b_start"),
            F.col("span_len").cast("bigint").alias("span_len"),
        )
    )


MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Stable md5-derived (a, b) pairs for the affine MinHash families.

    a < 2^20 keeps a·base < 2^52: exact in int64 AND in a double, so any
    engine reproduces the values.
    """
    import hashlib

    params = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh-a{i}".encode()).hexdigest()[:8], 16) % (2**20 - 1) + 1
        b = int(hashlib.md5(f"mh-b{i}".encode()).hexdigest()[:8], 16)
        params.append((a, b))
    return params


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: (id, h0..h{num_hashes-1}).

    One md5 per shingle, then ``num_hashes`` affine transforms
    (aᵢ·h + bᵢ) mod P — the classic universal-hash family. (Hashing each
    shingle ``num_hashes`` times with md5 costs ~num_hashes× more CPU for
    no statistical benefit.) One aggregation pass; map-side partial min
    keeps shuffle width at num_hashes×8 bytes per doc.
    """
    base = hash32(F.col("shingle"), 0)
    aggs = [
        F.min((F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_affine_params(num_hashes))
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def band_buckets(
    signatures: DataFrame, id_col: str, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Melt MinHash signatures into the LSH banding table
    (id, band_id, band_hash) — one row per (doc, band).

    This row format IS the near-dup signature registry a recurring
    ingest persists: ~40 bytes per (doc, band) regardless of document
    size, so cross-snapshot near-dedup joins hashes, never bodies, and
    history is never rescanned (see ``incremental_neardup_flags``).
    """
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws(",", *cols)).alias("band_hash"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_rows)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Returns distinct (id_a, id_b) with id_a < id_b. Self-join key is
    (band_id, band_hash) — but the classic equality self-join has an
    unguarded O(B²) pair *output* per band bucket of B docs, and AQE
    only splits shuffle PARTITIONS, it cannot shrink join output: one
    boilerplate band shared by 10⁶ template-spam crawl pages would emit
    10¹² pairs (the pathology q93's cluster-size histogram exists to
    detect). So the capped path runs ``duplicate_spans``' shape
    instead: ONE groupBy collects each bucket's member list, buckets of
    size outside [2, max_bucket] are dropped whole — exactly the family
    discipline (``duplicate_spans`` drops posting lists above
    max_postings at index time; ``ngram_jaccard_pairs``' df cutoff
    prunes high-df shingles; a band value shared by that many docs is a
    boilerplate collision carrying no per-pair near-dup signal, its
    members better handled as a CLUSTER via the q93 histogram →
    q62-style pipeline) — and surviving pairs expand ROW-LOCALLY
    (≤ max_bucket² structs per bucket). One corpus pass, one shuffle,
    no self-join.

    ADJUDICATION (r11): capped variants measured on the full q33 shape
    at sf0.1, best-of-3 × 2 interleaved rounds, identical results
    verified against the uncapped join:
    uncapped self-join 0.58/0.93 s · row_number truncation 1.88 s ·
    whole-bucket drop via unordered window 1.56/1.88 s · count+
    broadcast-anti-join 1.91/2.12 s · one-side window 1.17/1.42 s ·
    **groupBy + row-local expansion (THIS) 1.08/1.26 s** — every
    window/filter variant recomputes the signature lineage on both
    join sides (the filtered output satisfies the join distribution,
    so no reusable Exchange exists between the sides), while this
    shape pays one extra aggregation stage at toy scale and strictly
    LESS at 100 TB: the uncapped join's two-sided shuffle + unbounded
    pair stream is replaced by one map-side-combinable aggregation
    whose output is bounded by cap² per bucket.

    Memory discipline: a naive collect-then-filter would still
    MATERIALIZE a blown bucket's full member list in one aggregation
    buffer before dropping it (O(B) transient heap for a 10⁸-doc spam
    bucket). The collect is therefore two-level: phase 1 groups by
    (bucket, salt = xxhash64(id) mod 64) so every aggregation buffer is
    bounded at ~B/64; the bucket total rides a window over the TINY
    phase-1 table (≤64 rows per bucket, spillable sort buffer — one
    lineage, no recompute), and blown buckets are dropped BEFORE their
    sub-lists are ever flattened into one array. Measured equal to the
    single-level collect at sf0.1 (1.6–2.0 s both, identical pairs).

    Documented bias: a doc in a blown bucket loses candidacy *via that
    band only* — it still pairs through its other ``bands − 1``
    buckets. ``max_bucket=0`` disables the cap and runs the classic
    self-join (audit use; quadratic by construction).

    r16 (guide §2.3, narrower shuffle keys): the internal melt groups on
    the RAW per-band signature tuple (``array(h_i..)`` — 8 bytes per
    row-hash) instead of ``band_buckets``' md5 hex string (32 chars +
    an md5 per (doc, band) of pure CPU). Bucket partitions are
    IDENTICAL: two docs share a band iff their row-hash tuples are
    equal, and md5 equality on equal inputs is exactly tuple equality
    (an md5 COLLISION could only have merged distinct buckets — the
    digest-free form is the strictly-more-exact one). ``band_buckets``
    itself is untouched: its md5 hex row format is the persisted
    REGISTRY contract (q82/q101/q112 band registries, ~40-byte rows).
    """
    from pyspark.sql import Window

    band_rows = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band_id"), F.array(*cols).alias("band_key")
            )
        )
    melted = signatures.select(
        F.col(id_col), F.explode(F.array(*band_rows)).alias("band")
    ).select(id_col, "band.band_id", "band.band_key")
    if max_bucket:
        salted = melted.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(64))
        )
        p1 = salted.groupBy("band_id", "band_key", "_salt").agg(
            F.collect_list(F.col(id_col)).alias("_part"),
            F.count(F.lit(1)).alias("_c"),
        )
        w = Window.partitionBy("band_id", "band_key")
        grp = (
            p1.withColumn("_n", F.sum("_c").over(w))
            .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
            .groupBy("band_id", "band_key")
            .agg(F.flatten(F.collect_list("_part")).alias("_ids"))
        )
        ids = F.array_sort(F.col("_ids"))
        return (
            grp.select(
                F.explode(
                    F.flatten(
                        F.transform(
                            ids,
                            lambda x, i: F.transform(
                                F.slice(ids, i + 2, F.size(ids)),
                                lambda y: F.struct(
                                    x.alias("id_a"), y.alias("id_b")
                                ),
                            ),
                        )
                    )
                ).alias("p")
            )
            .select("p.id_a", "p.id_b")
            .distinct()
        )

    a = melted.alias("a")
    b = melted.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_id") == F.col(f"b.band_id"))
            & (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def incremental_neardup_flags(
    batch_bands: DataFrame,
    registry_bands: DataFrame,
    id_col: str,
    *,
    registry_distinct: bool = False,
) -> DataFrame:
    """Flag NEW-batch docs that near-duplicate the already-ingested
    corpus, using only its band-signature registry — the MinHash
    extension of ``incremental_dedup``'s exact-digest registry.

    ``batch_bands`` is the new batch's banding table
    (``band_buckets``); ``registry_bands`` holds the accumulated
    (band_id, band_hash) buckets of everything ever ingested (doc ids
    not required for a keep/drop verdict; deduplicated here
    defensively so per-doc hit counts stay well-defined). Returns one
    row per batch doc: (id, n_hit_bands, hist_neardup).

    Scale design — what a recurring 100 TB crawl actually runs:
    history is represented by ~40-byte band rows, never rescanned; the
    probe is ONE left join of batch bands against the deduplicated
    registry buckets with a hit mark + a doc-keyed count (hashes
    shuffle, bodies never move). Zero-hit docs ride the same left join
    — no separate id spine, no join-back (the former semi-join +
    outer-join shape scanned the batch bands twice and paid two extra
    stage materializations per probe). New batches append their own
    bands to the registry afterwards, so cost stays O(batch) per
    snapshot, not O(corpus).

    ``registry_distinct=True`` skips the defensive key dedup: a
    registry maintained by ``registry-compact`` (jobs/curation.py)
    already holds one row per (band_id, band_hash), so re-aggregating
    it per probe is a wasted stage. Leave False for raw append-only
    registries, where duplicate keys would multiply the left join.
    """
    reg = registry_bands.select("band_id", "band_hash")
    if not registry_distinct:
        reg = reg.distinct()
    reg = reg.withColumn("_hit", F.lit(1))
    # family invariant (see incremental_dedup): in a left-outer join
    # only the registry side is broadcastable; pin it to sort-merge so
    # an inline-derived registry's tiny static estimate can never turn
    # the corpus-scale side into a broadcast build (q82's MinHash
    # registry AND q101's SRP band registry both probe through here).
    joined = batch_bands.join(reg.hint("merge"), ["band_id", "band_hash"], "left")
    hits = joined.groupBy(id_col).agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_n")
    )
    return hits.select(
        F.col(id_col),
        F.col("_n").cast("bigint").alias("n_hit_bands"),
        (F.col("_n") > 0).alias("hist_neardup"),
    )


def ngram_jaccard_pairs(
    shingles: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs.

    Runs only on candidates — the LSH step already pruned the n² space.
    Returns (id_a, id_b, jaccard), one row per candidate pair that
    shares at least one shingle (zero-intersection band-hash-collision
    candidates are dropped, the original contract).

    r15 optimization (guide §2.4, the shape ``ngram_jaccard_neardup``
    already ships): |A∩B| is ``array_intersect`` over per-doc shingle
    SETS joined to the pair table — two id-keyed joins and a row-local
    intersection — instead of the exploded shape (pairs ⋈ shingles on
    id_a, ⋈ shingles again on (id_b, shingle), a per-pair groupBy, then
    two size joins). Shuffle bytes at scale are comparable — either
    path moves each candidate doc's shingles once — but this is 3 fewer
    shuffles (plan audit on q33: 10 → 7 Exchanges), and callers holding
    the STAGED per-doc set table (``_doc_shingle_sets``) pass it in so
    the corpus-side aggregation is served from the materialized index,
    exactly as a production near-dup pass reads the forward index its
    build stage wrote. Sizes are ``size(set)`` — free, and identical to
    the per-doc counts (shingles are distinct per doc); intersection
    stays integer arithmetic, so the Jaccard is bit-identical.

    Broadcast pin (r11 adjudication, unchanged invariant): the
    candidate-pair table is data-proportional but its logical plan ends
    in Generate/Aggregate chains whose STATIC size estimate is tiny —
    at a 64x scale probe the planner broadcast a 12.9M-row pairs table
    and OOM'd the build. Both pair-lineage joins stay merge-hinted: the
    pairs side is never a broadcast build (gate-enforced in
    test_plan_quality.py).
    """
    if sets is None:
        # r16 (guide §2.3): collect 8-byte xxhash64 digests, not shingle
        # strings — |A∩B|/|A|/|B| are digest-invariant (absent an
        # in-pair collision, ~|A|·|B|/2⁶⁴), and the set aggregation +
        # both verify joins shuffle ~4× fewer bytes per shingle. The
        # n_inter > 0 drop contract below also holds only up to such a
        # collision: a cross-doc xxhash64 collision can keep a candidate
        # whose true intersection is empty. The staged path (callers
        # passing ``sets``) stores digests too
        # (llm_ops._doc_shingle_sets).
        sets = shingles.groupBy(id_col).agg(
            F.collect_set(F.xxhash64("shingle")).alias("sh_set")
        )
    pa = sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
    pb = sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
    joined = (
        pairs.hint("merge")
        .join(pa, "id_a")
        .hint("merge")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            F.size("set_a").alias("sz_a"),
            F.size("set_b").alias("sz_b"),
        )
    )
    return joined.where(F.col("n_inter") > 0).select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
            4,
        ).alias("jaccard"),
    )


def ngram_jaccard_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int = 50,
    shingles: DataFrame | None = None,
    freq: DataFrame | None = None,
    sets: DataFrame | None = None,
    rare: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup, no MinHash: inverted-index candidates.

    The classic sketch-free path: docs become candidate pairs iff they
    share at least one *rare* shingle (document frequency <= ``max_df``),
    then exact Jaccard over the FULL shingle sets keeps pairs >= threshold.

    Scale design: the all-pairs n² problem is bounded by the inverted
    index — pair generation is a self-join on ``shingle`` whose blowup per
    shingle is df², and the df cutoff caps that at max_df² (boilerplate
    shingles — the ones that would explode — are exactly the ones pruned;
    they carry no near-dup signal). Recall is exact for any pair whose
    similarity is carried by at least one sub-max_df shingle. Jaccard is
    integer arithmetic (|A∩B|, |A|, |B|) so every engine agrees bit-for-bit.
    Returns (id_a, id_b, jaccard >= threshold).
    """
    # shingles feed four consumers (df counts, inverted index, sizes,
    # intersection) — persist once; the explode+distinct is the expensive
    # part and would otherwise run four times. A caller that already holds
    # the staged index tables (posting frame, per-shingle df, per-doc
    # sets) passes them in and keeps ownership — that is the production
    # shape: the index is materialized once per corpus, every near-dup
    # pass reads it.
    owns = shingles is None
    sh = word_shingles(df, id_col, text_col, k=k).persist() if owns else shingles
    if rare is None:
        if freq is None:
            freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfc"))
        rare = sh.join(freq.filter(F.col("dfc") <= max_df), "shingle").select(
            id_col, "shingle"
        )
    a = rare.select(F.col(id_col).alias("id_a"), "shingle")
    b = rare.select(F.col(id_col).alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify via per-doc shingle SETS + row-local array_intersect, not by
    # re-joining the exploded shingle frame: one collect_set aggregation
    # replaces two shuffle-joins + a pair groupBy + two size-joins (the
    # sizes are size(set), free). Shuffle bytes at scale are unchanged —
    # either path moves each doc's shingles once — but this is 3 fewer
    # stages, and the doc-sets frame (one row per doc) broadcasts when
    # small. Intersection stays integer arithmetic: bit-identical Jaccard
    # in any engine.
    if sets is None:
        # digests, not strings (same §2.3 narrowing as ngram_jaccard_pairs;
        # Jaccard is digest-invariant absent an in-pair collision)
        sets = sh.groupBy(id_col).agg(
            F.collect_set(F.xxhash64("shingle")).alias("sh_set")
        )
    pa = sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
    pb = sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    out = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter
                / (F.size("set_a") + F.size("set_b") - n_inter),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if owns:
        # materialize the (tiny: verified near-dup pairs only) result
        # eagerly and release the cache — a long-lived engine must not
        # accumulate per-query cached RDDs.
        out = out.localCheckpoint(eager=True)
        sh.unpersist(blocking=False)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over word features: (id, simhash).

    Each word hashes to ``bits`` bits; per bit position, +1 if set else −1,
    summed over all words (with multiplicity); fingerprint bit = sign.
    Implemented as explode(words)×explode(bit positions) → two-phase agg.
    Near-dup docs differ in few bits (Hamming distance on the fingerprint).
    """
    words = spread(df, id_col).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word"),
    )
    # one md5 per word, then ``bits`` conditional sums in a single groupBy
    # (no row explosion per bit). shiftright needs a literal shift amount,
    # so bit b is tested as floor(h / 2^b) % 2 — exact: h < 2^32.
    # r15: the 16 agg columns + the fingerprint fold are memoized
    # generated SQL (identical trees to the previous Column-built loop —
    # ~50 Py4J-built Columns per call, profiled at ~0.25 s of
    # plan-build time per q34 run; parsed once per session instead).
    from bricolage_spark.operators.similarity import _memo_expr

    hashed = words.select(F.col(id_col), hash32(F.col("word"), 7777).alias("h"))
    aggs = [
        _memo_expr(
            ("simhash_s", b),
            f"sum(CASE WHEN (CAST(h / {float(1 << b)!r}D AS BIGINT) % 2) = 1 "
            f"THEN 1 ELSE -1 END)",
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*aggs)
    fp = _memo_expr(
        ("simhash_fp", bits),
        "CAST("
        + " + ".join(
            f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
        )
        + " AS BIGINT)",
    )
    return sums.select(F.col(id_col), fp.alias("simhash"))


def sentence_digest_melt(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 20
) -> DataFrame:
    """Per-doc DISTINCT eligible-sentence digests (id, sd): sentences
    split on '. ', normalized, md5-hashed, length-filtered. The shared
    melt both the q86 profile and the q92 apply key on; its groupBy
    over ``sd`` is the sentence-digest doc-frequency artifact."""
    sents = F.split(normalize_text(F.col(text_col)), r"\. ")
    return (
        df.select(F.col(id_col), F.explode(sents).alias("sent"))
        .where(F.length("sent") >= min_len)
        .select(id_col, F.md5(F.col("sent")).alias("sd"))
        .dropDuplicates([id_col, "sd"])
    )


def sentence_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 20,
    digest_df: DataFrame | None = None,
) -> DataFrame:
    """Sentence-level duplication profile: per doc, how many of its
    sentences also appear (normalized-exact) in OTHER documents.

    The sub-document granularity between q31's whole-doc digests and
    q74's span mining: sentences split on ". ", normalized, md5-hashed;
    a sentence "is shared" when its digest occurs in >= 2 distinct docs.
    Returns (id, n_sents, n_shared, shared_frac).

    Docs with NO sentence of at least ``min_len`` chars emit no row:
    this is a duplication PROFILE over the measurable sentences, not a
    keep/drop verdict — absence means "nothing eligible to judge", and
    a consumer gating docs on the profile must left-join and choose its
    own default for the missing rows (the q92 APPLY stage, by contrast,
    carries every doc through unconditionally).

    TWO shuffles total, melt computed once: the melt repartitions by the
    16-byte digest, and everything digest-keyed then piggybacks on that
    one exchange via the subset-partitioning rule — the (id, digest)
    dedup aggregate and the per-digest doc-frequency window both have
    ``sd`` in their clustering keys, so neither inserts an exchange
    (replacing the former distinct -> groupBy -> join-back shape, which
    shuffled three times and computed the melt twice). The only other
    shuffle is the final per-doc rollup of (id, two counts) rows; at
    100 TB nothing wider than (digest, id) ever moves.

    ``digest_df``: a prebuilt (sd, n_docs_with) doc-frequency table —
    the STAGED artifact q86 and q92 share. When given, the window pass
    is replaced by one digest-keyed join against it (broadcast when the
    distinct-digest table is small enough, AQE's call), and the melt is
    one pass with no forced repartition.
    """
    from pyspark.sql import Window

    if digest_df is not None:
        melted = sentence_digest_melt(df, id_col, text_col, min_len)
        counted = melted.join(digest_df, "sd")
    else:
        sents = F.split(normalize_text(F.col(text_col)), r"\. ")
        melted = (
            df.select(F.col(id_col), F.explode(sents).alias("sent"))
            .where(F.length("sent") >= min_len)
            .select(id_col, F.md5(F.col("sent")).alias("sd"))
            .repartition(F.col("sd"))
            .dropDuplicates([id_col, "sd"])
        )
        counted = melted.withColumn(
            "n_docs_with", F.count(F.lit(1)).over(Window.partitionBy("sd"))
        )
    per_doc = counted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sents"),
        F.sum(
            F.when(F.col("n_docs_with") >= 2, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_shared"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_sents").cast("bigint").alias("n_sents"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.round(
            F.col("n_shared").cast("double") / F.col("n_sents").cast("double"), 4
        ).alias("shared_frac"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Keep-first substring-dedup APPLY: strip every duplicated span's
    NON-keeper occurrence and rebuild the doc in word order — the Lee et
    al. 2022 removal step over ``duplicate_spans``' detection table,
    closing the detect (q74) / measure (q78) / apply triad the way q92
    closed q86's for sentences.

    ``spans`` rows are (doc_a < doc_b, a_start, b_start, span_len): the
    lower doc_id is the keeper, so removal intervals are the b-side
    occurrences only — a doc keeps text that later docs duplicated, and
    loses text it duplicated from earlier ones (deterministic,
    order-free, and exactly one surviving copy per pairwise span).

    Scale shape: interval rows are 3 ints keyed by doc; the island merge
    windows over ONE doc's intervals (bounded by its span count, never a
    corpus-wide window); merged intervals collapse to a per-doc ARRAY
    (collect_list bounded the same way) that joins the corpus once; the
    rebuild is a row-local positional filter over the word array. Docs
    never shuffle by anything but their id. NULL-text docs are dropped
    (nothing to rebuild — bpe_encode's contract).

    Returns (id, n_words, n_removed, clean_text) with clean_text the
    normalized surviving words space-joined ('' if fully covered).
    """
    from pyspark.sql import Window

    iv = spans.select(
        F.col("doc_b").alias(id_col),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_len")).alias("e"),
    ).distinct()  # distinct: same interval via different keepers must
    #               collapse so (s, e) totally orders each doc's rows
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    fl = iv.select(
        F.col(id_col),
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("f"),
    )
    isl = fl.select(F.col(id_col), "s", "e", F.sum("f").over(w_run).alias("g"))
    merged = isl.groupBy(id_col, "g").agg(
        F.min("s").alias("mn"), F.max("e").alias("mx")
    )
    cuts = merged.groupBy(id_col).agg(
        F.collect_list(F.struct("mn", "mx")).alias("_ivs")
    )
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), words.alias("_w"))
        .join(cuts, id_col, "left")
    )
    pos = lambda i: i + 1  # filter() indexes 0-based; spans are 1-based
    kept = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(
            F.col("_ivs"),
            lambda v: (pos(i) >= v["mn"]) & (pos(i) < v["mx"]),
        ),
    )
    return base.select(
        F.col(id_col),
        F.size("_w").cast("bigint").alias("n_words"),
        F.when(F.col("_ivs").isNull(), F.lit(0))
        .otherwise(F.size("_w") - F.size(kept))
        .cast("bigint")
        .alias("n_removed"),
        F.when(F.col("_ivs").isNull(), F.array_join(F.col("_w"), " "))
        .otherwise(F.array_join(kept, " "))
        .alias("clean_text"),
    )


def apply_span_scrub(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The span-removal APPLY transform shared by the ``span-scrub`` /
    ``span-registry`` job classes and the streaming foreachBatch path:
    rewrite ``df`` with the non-keeper occurrences of ``spans``
    (doc_b, b_start, span_len — :func:`duplicate_spans`' keeper shape)
    stripped.

    Only docs that actually LOST a span take the rewritten (normalized)
    text; untouched docs keep their ORIGINAL casing and spacing, and
    NULL-text rows pass through unmodified. An ``n_chars`` column, when
    present, is refreshed to the published lengths. Returns the input
    columns plus ``n_removed`` (0 for untouched rows) — with withColumn
    OVERWRITE semantics when the input already carries an ``n_removed``
    (a re-scrub of a prior scrub report; the internal count joins under
    a private alias so the existing column never becomes ambiguous) —
    callers observe or drop it.
    """
    cleaned = remove_duplicate_spans(df, spans, id_col, text_col)
    out = (
        df.join(
            cleaned.select(
                id_col,
                F.col("clean_text").alias("_clean"),
                F.col("n_removed").alias("_scrub_removed"),
            ),
            id_col,
            "left",
        )
        .withColumn("_scrub_removed", F.coalesce("_scrub_removed", F.lit(0)))
        .withColumn(
            text_col,
            F.when(F.col("_scrub_removed") > 0, F.col("_clean")).otherwise(
                F.col(text_col)
            ),
        )
        .drop("_clean")
    )
    if "n_chars" in df.columns:
        out = out.withColumn("n_chars", F.length(F.col(text_col)))
    out = out.withColumn("n_removed", F.col("_scrub_removed")).drop(
        "_scrub_removed"
    )
    extra = [] if "n_removed" in df.columns else ["n_removed"]
    return out.select(*df.columns, *extra)


def span_registry_probe(
    batch_anchors: DataFrame,
    registry: DataFrame,
    id_col: str,
    *,
    anchor_len: int = 8,
    min_span: int = 12,
) -> DataFrame:
    """Cross-snapshot SPAN-level dedup probe: flag the token spans of a
    NEW batch that verbatim-duplicate any previously ingested history —
    the substring-granularity member of the incremental-dedup registry
    family (doc digests :func:`incremental_dedup`/q67, MinHash bands
    :func:`incremental_neardup_flags`/q82, SRP bands/q101; spans here).

    ``batch_anchors``: the batch's positional anchor postings
    (id, pos, ahash) — :func:`positional_anchor_keys` output (8-byte
    xxhash64 keys; measured adjudication and collision note there).
    ``registry``: the history's DISTINCT anchor digests —
    maintained by the ``span-registry`` job class (wired in the example
    jobnet with a ``registry-compact`` branch): one O(batch) APPEND per
    snapshot — never the band registries' insert-delta rewrite, because
    this registry is CORPUS-scale — history TEXT is never rescanned.
    Unlike its O(docs)/O(docs x bands) siblings the row count is
    O(distinct history k-grams) ≈ history tokens (~0.5 PB at a
    25T-token history), so the serve layout matters: store it bucketed
    CLUSTERED BY (ahash) (``registry-buckets``) so this semi-join reads
    co-located buckets and the registry never shuffles (the only
    Exchange is the batch side), and let Spark's runtime Bloom filter
    (built from the small batch side, pushed into the registry scan)
    drop unmatched registry rows at the scan. Full sizing math,
    compaction discipline, and the winnowed fallback: SCALE.md
    "Span-anchor registry".

    One left-semi join on the digest, then gaps-and-islands per doc
    (q74's pos − row_number trick; the window partitions by doc and is
    bounded by its hit count): a duplicated span of L tokens appears as
    L−k+1 consecutive hit positions and collapses to one maximal span.
    Returns (id, span_start, span_len, n_anchors) for spans of at least
    ``min_span`` tokens.
    """
    from pyspark.sql import Window

    b_t = batch_anchors.schema["ahash"].dataType
    r_t = registry.schema["ahash"].dataType
    if b_t != r_t:
        # a bigint-vs-string key join would implicitly cast and null out
        # every hit — i.e. silently admit every historical duplicate. An
        # md5-era (string) registry meeting xxhash64 (bigint) batch keys
        # needs the one-time rewrite, not a quiet empty probe.
        raise JobFailure(
            f"span registry key type mismatch: batch ahash is "
            f"{b_t.simpleString()}, registry ahash is {r_t.simpleString()}"
            " — an md5-era registry must be re-keyed once "
            "(re-run span-registry over the published history, or "
            "rebuild the registry with positional_anchor_keys) before "
            "probing with xxhash64 keys."
        )
    # pin the semi-join to sort-merge: in a left-semi join only the
    # REGISTRY side is broadcastable, and the registry is corpus-scale
    # by construction — but a bench/test-shaped registry derived inline
    # (Generate→Aggregate chain) carries a tiny STATIC size estimate,
    # and at the 64x scale probe the planner broadcast a ~50M-key
    # registry and OOM'd the build. SMJ is also exactly the production
    # shape: the bucketed registry scan feeds it Exchange-free and the
    # runtime Bloom filter arms on it (both test-asserted).
    hits = batch_anchors.join(
        registry.select("ahash").distinct().hint("merge"), "ahash", "left_semi"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") - F.min("pos") + anchor_len)
            .cast("bigint")
            .alias("span_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
        .where(F.col("span_len") >= min_span)
        .drop("grp")
    )


def span_registry_doc_report(
    batch_anchors: DataFrame,
    registry: DataFrame,
    id_col: str,
    *,
    anchor_len: int = 8,
    min_span: int = 12,
) -> DataFrame:
    """Per-DOC span-probe report — the fused aggregation form of
    :func:`span_registry_probe` for consumers (q110) that only need
    per-doc span statistics, not the individual spans.

    Same probe semantics and semi-join discipline (type guard, merge
    hint, bucketed-registry / runtime-Bloom contract — see
    :func:`span_registry_probe`), but the gaps-and-islands tail is
    computed ROW-LOCALLY: hit positions collect to one sorted array per
    doc (a position is unique within its doc, so the array is strictly
    increasing) and islands are derived with higher-order functions, so
    the per-doc Sort + Window(row_number) + two aggregation passes of
    the per-span form collapse into one aggregation + one projection.
    The per-doc state is bounded by the doc's own hit count (≤ its token
    count) — the same bound the window form's partition already had.

    Returns (id, n_spans, n_hit_anchors, max_span_len, first_span_start)
    for docs with at least one span of ``min_span`` tokens — exactly
    ``span_registry_probe(...).groupBy(id).agg(count, sum n_anchors,
    max span_len, min span_start)`` (oracle-verified equal on q110).
    """
    b_t = batch_anchors.schema["ahash"].dataType
    r_t = registry.schema["ahash"].dataType
    if b_t != r_t:
        raise JobFailure(
            f"span registry key type mismatch: batch ahash is "
            f"{b_t.simpleString()}, registry ahash is {r_t.simpleString()}"
            " — an md5-era registry must be re-keyed once "
            "(re-run span-registry over the published history, or "
            "rebuild the registry with positional_anchor_keys) before "
            "probing with xxhash64 keys."
        )
    hits = batch_anchors.join(
        registry.select("ahash").distinct().hint("merge"), "ahash", "left_semi"
    )
    per_doc = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("_ps")
    )
    # Island decomposition of the strictly-increasing position array:
    # run starts are positions with no predecessor pos-1, run ends are
    # positions with no successor pos+1; zipping them pairs up each
    # maximal run. span_len = last - first + anchor_len, exactly the
    # window form's MAX(pos) - MIN(pos) + anchor_len per island.
    runs = (
        f"zip_with("
        f"  filter(sequence(0, size(_ps) - 1),"
        f"         i -> i = 0 OR _ps[i] != _ps[i - 1] + 1),"
        f"  filter(sequence(0, size(_ps) - 1),"
        f"         i -> i = size(_ps) - 1 OR _ps[i + 1] != _ps[i] + 1),"
        f"  (s, e) -> struct(_ps[s] AS start,"
        f"                   _ps[e] - _ps[s] + {int(anchor_len)} AS len,"
        f"                   CAST(e - s + 1 AS BIGINT) AS na))"
    )
    qual = f"filter({runs}, r -> r.len >= {int(min_span)})"
    return (
        per_doc.withColumn("_runs", F.expr(qual))
        .where(F.size("_runs") > 0)
        .select(
            F.col(id_col),
            F.size("_runs").cast("bigint").alias("n_spans"),
            F.expr(
                "aggregate(_runs, CAST(0 AS BIGINT), (a, r) -> a + r.na)"
            ).alias("n_hit_anchors"),
            F.expr("array_max(transform(_runs, r -> r.len))")
            .cast("bigint")
            .alias("max_span_len"),
            F.expr("array_min(transform(_runs, r -> r.start))")
            .cast("bigint")
            .alias("first_span_start"),
        )
    )
