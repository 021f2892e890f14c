"""LLM-data-pipeline query inventory (SURVEY.md §2.7): dedup, similarity
search, text analysis, multimodal plumbing — over the ``documents`` and
``embeddings`` testdata tables.

Every hash used is md5-derived so the DuckDB oracle reproduces Spark's
results bit-for-bit (no engine-private hash functions). DuckDB dialect
notes honored in the oracles: ``regexp_replace(... , 'g')`` for global
replace; ``//`` vs ``/``; ``range()`` end-exclusive.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bricolage_spark.catalog import read_table, spread
from bricolage_spark.operators import curation as C
from bricolage_spark.operators import dedup as D
from bricolage_spark.operators import graph as G
from bricolage_spark.operators import multimodal as M
from bricolage_spark.operators import similarity as S
from bricolage_spark.operators import textual as T
from bricolage_spark.queries import QUERIES, register
from bricolage_spark.session import ARTIFACTS, artifact

# Shared oracle CTE: normalized documents + word arrays (mirrors
# operators.dedup.normalize_text exactly, incl. the 'g' flag).
_DOCS_CTE = """
    docs AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
        FROM documents
    )
"""

# hash32(s, seed) in DuckDB (mirrors operators.dedup.hash32)
def _h32(expr: str, seed: int) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5('{seed}|' || {expr}), 1, 8)) AS UBIGINT) AS BIGINT)"
    )


# word 3-shingles per doc, distinct (mirrors operators.dedup.word_shingles)
_SHINGLES_CTE = f"""
    shingles AS (
        SELECT DISTINCT doc_id,
               array_to_string(words[i : i + 2], ' ') AS shingle
        FROM docs, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i)
    )
"""


def _persisted(df: DataFrame) -> DataFrame:
    """Persist ``df`` and materialise it: the build of a staged artifact
    returns only once its data is stored."""
    df = df.persist()
    df.count()
    return df


# Shared word-3-shingle corpus: q32, q33, and q48 all consume the SAME
# explode+distinct shingle set, which is the expensive step of each (one
# row per distinct (doc, shingle)). Build and persist it once per corpus —
# the same index-build/serve split as q49's IVF cache. At 100 TB this is
# the materialized shingle table a dedup pipeline would write to storage
# once and join against from every pass. Staleness caveat: entries are
# per-path, so regenerating parquet under the SAME sf_dir requires an
# explicit ``ARTIFACTS.release(sf_dir)``.
@artifact
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return _persisted(D.word_shingles(docs, "doc_id", "text", k=3))


# Derived members of the staged shingle index, materialized alongside the
# posting table (the other two tables a production dedup index writes):
#   freq — per-shingle document frequency (the inverted index's df column)
#   sets — per-doc shingle set + size (the forward index)
# Consumers (q48 verify, q53 heavy hitters) serve from these instead of
# re-aggregating the posting table per query.
@artifact
def _shingle_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _persisted(
        _doc_shingles(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("dfc"))
    )


@artifact
def _shingle_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRUNED inverted index (shingles with df <= _NJ_MAX_DF) — the
    table an exact near-dup pass self-joins; boilerplate shingles are
    dropped at index-build time, once, not per query."""
    sh = _doc_shingles(spark, sf_dir)
    freq = _shingle_freq(spark, sf_dir)
    return _persisted(
        sh.join(freq.filter(F.col("dfc") <= _NJ_MAX_DF), "shingle").select(
            "doc_id", "shingle"
        )
    )


@artifact
def _doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.3, narrower shuffle keys): the forward index stores
    # per-doc sets of 8-byte xxhash64 DIGESTS, not shingle strings. The
    # only consumers (q33/q48 verify, verified_pairs) compute
    # |A∩B| / |A| / |B| — values identical to the string form absent an
    # in-pair xxhash64 collision (~|A|·|B|/2⁶⁴ per pair; oracle
    # hash-match re-verified at sf0.001/sf0.01 after the change), so
    # the collect_set aggregation AND the two verify joins shuffle ~4×
    # fewer bytes per shingle, and array_intersect compares longs, not
    # strings. Measured variants (sf0.1, warm postings, interleaved ×4):
    # digest collect_set 0.13–0.18 s ≈ string collect_set 0.12–0.15 s
    # locally (the narrowing pays at scale, not here); a row-local
    # rebuild from the documents scan (zero-shuffle) measured 0.70 s
    # steady-state — it re-pays the normalize+shingle CPU the postings
    # build already spent, and contended badly inside the staging pool,
    # so the postings-derived aggregation stays.
    return _persisted(
        _doc_shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("shingle")).alias("sh_set"))
    )


@artifact
def _bench_shingle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED benchmark shingle-count table (shingle, bc): the eval
    set's index, fixed-size while the corpus grows — q51 joins the
    counts, q90 uses the keys. A decontamination pipeline materializes
    this once per benchmark release, not per scrub."""
    return _persisted(
        _doc_shingles(spark, sf_dir)
        .filter(F.col("doc_id") % _CONTAM_MOD == 0)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("bc"))
    )


# --------------------------------------------------------------------------
# q31 exact dedup (hash-groupBy)
# --------------------------------------------------------------------------
@register(
    "q31_dedup_exact",
    oracle=f"""
    WITH {_DOCS_CTE}
    SELECT md5(norm)        AS content_hash,
           MIN(doc_id)      AS keep_id,
           COUNT(*)         AS dup_count
    FROM docs
    GROUP BY md5(norm)
    """,
    doc="Exact dedup: md5-groupBy, min-id representative. Shuffle key is a "
    "16-byte digest regardless of document size.",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q32 MinHash signatures
# --------------------------------------------------------------------------
def _affine_mins(num_hashes: int) -> str:
    """MIN((a·h + b) mod P) per family, over the md5 base hash (seed 0)."""
    base = _h32("shingle", 0)
    return ",\n           ".join(
        f"MIN(({a} * {base} + {b}) % {D.MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(D.minhash_affine_params(num_hashes))
    )


def _minhash_oracle(num_hashes: int = 8) -> str:
    return f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE}
    SELECT doc_id, {_affine_mins(num_hashes)}
    FROM shingles
    GROUP BY doc_id
    """


@register(
    "q32_minhash_signatures",
    oracle=_minhash_oracle(8),
    doc="MinHash signatures (8 md5-derived hash families) over word "
    "3-shingles; one explode+groupBy pass, map-side partial min.",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(
        _doc_shingles(spark, sf_dir), "doc_id", num_hashes=8
    )


# --------------------------------------------------------------------------
# q33 MinHash-LSH near-dup pairs, verified by exact n-gram Jaccard
# --------------------------------------------------------------------------
_N_HASHES, _BANDS, _ROWS_PER_BAND, _JACCARD_MIN = 16, 8, 2, 0.2
# The hot-bucket cap the PRODUCTION banding path runs with
# (lsh_candidate_pairs' default; dedup.py adjudication r11). Named here
# because the ORACLES must model it too: every oracle-checked caller
# passes this constant explicitly, and _lsh_pair_ctes/_banding_audit
# embed the same [2, _MAX_BUCKET] whole-bucket filter — so oracle
# equality holds on ANY corpus, including one where a boilerplate band
# bucket blows past the cap (at sf0.1 no bucket does, but the contract
# must not depend on that).
_MAX_BUCKET = 256


def _lsh_pair_ctes() -> str:
    """CTE chain ending in ``verified`` = the LSH-candidate, Jaccard-
    verified near-dup pairs (id_a, id_b, jaccard). Shared by the q33
    (pairs) and q50 (connected components over the pairs) oracles.

    ``sized`` models lsh_candidate_pairs' hot-bucket guard: a band
    bucket outside [2, _MAX_BUCKET] docs is dropped WHOLE before pair
    expansion, exactly the implementation's semantics.
    """
    mins = _affine_mins(_N_HASHES)
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_id, "
        f"md5(concat_ws(',', h{b * _ROWS_PER_BAND}, h{b * _ROWS_PER_BAND + 1})) AS band_hash FROM sigs"
        for b in range(_BANDS)
    )
    return f"""{_DOCS_CTE}, {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, {mins}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    ),
    sized AS (
        SELECT band_id, band_hash
        FROM bands GROUP BY band_id, band_hash
        HAVING COUNT(*) BETWEEN 2 AND {_MAX_BUCKET}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sized s
        JOIN bands a ON a.band_id = s.band_id AND a.band_hash = s.band_hash
        JOIN bands b ON b.band_id = s.band_id AND b.band_hash = s.band_hash
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.id_a
        JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    verified AS (
        SELECT i.id_a, i.id_b,
               ROUND(n_inter / (za.sz + zb.sz - n_inter), 4) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE n_inter / (za.sz + zb.sz - n_inter) >= {_JACCARD_MIN}
    )"""


def _lsh_oracle() -> str:
    return f"""
    WITH {_lsh_pair_ctes()}
    SELECT id_a, id_b, jaccard FROM verified
    """


@register(
    "q33_minhash_lsh_pairs",
    oracle=_lsh_oracle(),
    doc="Near-dedup: shingle→minhash→band→bucket-join candidates, then "
    "exact Jaccard ≥ 0.2 verification on candidates only (never n²).",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingles feed three consumers here (signatures, intersection, sizes)
    # plus q32/q48 — served from the shared persisted corpus cache.
    sh = _doc_shingles(spark, sf_dir).withColumnRenamed("doc_id", "id")
    sigs = D.minhash_signatures(sh, "id", num_hashes=_N_HASHES)
    pairs = D.lsh_candidate_pairs(
        sigs,
        "id",
        bands=_BANDS,
        rows_per_band=_ROWS_PER_BAND,
        # explicit, not defaulted: the oracle embeds this exact cap
        max_bucket=_MAX_BUCKET,
    )
    # verify over the STAGED per-doc set table (the forward index built
    # once per corpus) — row-local array_intersect, 3 fewer shuffles
    # than the exploded intersect shape (see ngram_jaccard_pairs).
    sets = _doc_shingle_sets(spark, sf_dir).withColumnRenamed("doc_id", "id")
    jac = D.ngram_jaccard_pairs(sh, pairs, id_col="id", sets=sets)
    return jac.filter(F.col("jaccard") >= _JACCARD_MIN)


# --------------------------------------------------------------------------
# q34 SimHash fingerprints
# --------------------------------------------------------------------------
@register(
    "q34_simhash",
    oracle=f"""
    WITH {_DOCS_CTE},
    wordlist AS (
        SELECT doc_id, UNNEST(words) AS word FROM docs
    ),
    hashed AS (
        SELECT doc_id, {_h32('word', 7777)} AS h FROM wordlist
    ),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hashed, UNNEST(range(0, 16)) AS t(b)
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    """,
    doc="16-bit SimHash over word features: near-dups land within small "
    "Hamming distance; two-phase aggregation, no n² anywhere.",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=16)


# --------------------------------------------------------------------------
# q35 brute-force cosine top-k (exact ANN baseline)
# --------------------------------------------------------------------------
_K, _NQ = 5, 8


@register(
    "q35_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {_NQ}
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    sims AS (
        SELECT query_id, neighbor_id,
               ROUND(CASE WHEN list_dot_product(qv, qv) > 0
                           AND list_dot_product(cv, cv) > 0
                      THEN list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)))
                      ELSE 0.0 END, 4) AS cos_sim
        FROM c, q
        WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM sims
    ) WHERE rank <= {_K}
    """,
    doc="Exact cosine top-k: broadcast query set × one corpus scan; dot "
    "products are codegen'd array exprs (zip_with/aggregate), no UDF.",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NQ)
    return S.brute_force_cosine_topk(emb, queries, k=_K)


def _srp_oracle(n_planes: int = 6, dims: int = 64) -> str:
    # identical constants to operators.similarity.plane_components:
    # repr(float) round-trips exactly, so both engines use the same doubles
    plane = lambda p: (
        "[" + ", ".join(repr(c) for c in S.plane_components(p, dims)) + "]"
    )
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    u AS (
        SELECT vec_id,
               CAST({bucket} AS BIGINT) AS bucket,
               CASE WHEN list_dot_product(e, e) > 0
                    THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                    ELSE list_transform(e, x -> 0.0) END AS ue
        FROM v
    ),
    q AS (SELECT vec_id AS query_id, bucket, ue AS qe FROM u WHERE vec_id < {_NQ}),
    c AS (SELECT vec_id AS neighbor_id, bucket, ue AS ce FROM u),
    sims AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qe, ce), 4) AS cos_sim
        FROM c JOIN q USING (bucket)
        WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM sims
    ) WHERE rank <= {_K}
    """


@register(
    "q36_ann_lsh_bucketed",
    oracle=_srp_oracle(),
    doc="Scale-path ANN: sign-random-projection LSH buckets. Hyperplanes "
    "are md5-derived, so even this *approximate* index is reproduced "
    "bit-for-bit by the oracle (bucket parity verified across engines). "
    "At 100 TB the corpus is written partitioned by bucket (IVF layout).",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NQ)
    return S.lsh_bucketed_topk(emb, queries, k=_K, n_planes=6)


# --------------------------------------------------------------------------
# q113 multi-probe SRP ANN (the measured recall dial)
# --------------------------------------------------------------------------
_MP_FLIPS = 2


def _multiprobe_oracle(
    n_planes: int = 6, dims: int = 64, n_flip: int = _MP_FLIPS, n_flip2: int = 0
) -> str:
    # identical plane constants to operators.similarity.plane_components
    # (repr round-trips doubles exactly), identical margin rounding (6 dp
    # HALF_UP) and identical struct-lexicographic tie-break — DuckDB
    # re-derives the exact probe set, so even the multi-probe *candidate
    # expansion* is verified bit-for-bit, not just the final ranking.
    # ``n_flip2`` re-derives the SECOND-ORDER probes the same way the
    # engine builds them (operators/similarity.py pair expansion): all
    # pairs of the 4 lowest-margin planes, margin-SUM-sorted with the
    # flipped bucket value as tie-break — a sum of two identically
    # 6-dp-rounded doubles is the same IEEE operation in both engines,
    # so the pair order (and hence the probe set) is bit-reproducible.
    plane = lambda p: (
        "[" + ", ".join(repr(c) for c in S.plane_components(p, dims)) + "]"
    )
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    margins = ", ".join(
        f"{{'m': ROUND(ABS(list_dot_product(e, {plane(p)})), 6), 'p': {p}}}"
        for p in range(n_planes)
    )
    probes = (
        f"[bucket] || list_transform(list_slice(sm, 1, {n_flip}), "
        "s -> xor(bucket, CAST(1 AS BIGINT) << s.p))"
    )
    if n_flip2:
        pp = min(n_planes, 4)
        pair_structs = ", ".join(
            f"{{'m': sm[{i + 1}].m + sm[{j + 1}].m, "
            f"'h': xor(xor(bucket, CAST(1 AS BIGINT) << sm[{i + 1}].p), "
            f"CAST(1 AS BIGINT) << sm[{j + 1}].p)}}"
            for i in range(pp)
            for j in range(i + 1, pp)
        )
        probes += (
            f" || list_transform(list_slice(list_sort([{pair_structs}]), "
            f"1, {n_flip2}), x -> x.h)"
        )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    u AS (
        SELECT vec_id, e,
               CAST({bucket} AS BIGINT) AS bucket,
               CASE WHEN list_dot_product(e, e) > 0
                    THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                    ELSE list_transform(e, x -> 0.0) END AS ue
        FROM v
    ),
    q00 AS (
        SELECT vec_id AS query_id, ue AS qe, bucket,
               list_sort([{margins}]) AS sm
        FROM u WHERE vec_id < {_NQ}
    ),
    q0 AS (
        SELECT query_id, qe, {probes} AS probes FROM q00
    ),
    q AS (SELECT query_id, qe, UNNEST(probes) AS bucket FROM q0),
    c AS (SELECT vec_id AS neighbor_id, bucket, ue AS ce FROM u),
    sims AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qe, ce), 4) AS cos_sim
        FROM c JOIN q USING (bucket)
        WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM sims
    ) WHERE rank <= {_K}
    """


@register(
    "q113_ann_multiprobe",
    oracle=_multiprobe_oracle(),
    doc="Multi-probe SRP ANN: each query searches its own bucket plus the "
    "buckets reached by flipping its lowest-|margin| planes (Lv et al., "
    "VLDB 2007) — the recall dial that does NOT re-index: the corpus "
    "keeps one bucket per vector (same partitioned layout as q36), the "
    "query side explodes into 1+n_flip broadcast probe rows, and scanned "
    "fraction grows linearly in probes vs exponentially per removed "
    "plane. The probe-set derivation (margin rounding, struct sort, bit "
    "flips) is reproduced exactly by the oracle.",
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NQ)
    return S.lsh_multiprobe_topk(
        emb, queries, k=_K, n_planes=6, n_flip=_MP_FLIPS
    )


_MP_PAIRS = 4


@register(
    "q114_ann_multiprobe_pairs",
    oracle=_multiprobe_oracle(n_flip2=_MP_PAIRS),
    doc="Second-order multi-probe SRP ANN (the dial past the single-bit "
    "plateau): on top of q113's own-bucket + 2 lowest-margin single "
    "flips, each query probes the 4 margin-sum-lowest PAIR flips over "
    "its 4 lowest-margin planes — the next entries of Lv et al.'s "
    "perturbation sequence, the configuration SCALE.md measured at "
    "recall 1.0 on the jittered fixture. The oracle re-derives the "
    "full pair expansion (margin sums of 6-dp-rounded projections, "
    "struct sort with flipped-bucket tie-break, xor bit flips), so the "
    "second-order probe SET is cross-engine verified bit-for-bit, not "
    "just the final ranking. Corpus layout identical to q36/q113: the "
    "dial never re-indexes.",
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NQ)
    return S.lsh_multiprobe_topk(
        emb, queries, k=_K, n_planes=6, n_flip=_MP_FLIPS, n_flip2=_MP_PAIRS
    )


# --------------------------------------------------------------------------
# q42 embedding-cosine near-duplicate pairs
# --------------------------------------------------------------------------
_NEARDUP_MIN = 0.4


@register(
    "q42_embedding_neardup",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             CASE WHEN list_dot_product(a.e, a.e) > 0
                   AND list_dot_product(b.e, b.e) > 0
              THEN list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e)))
              ELSE 0.0 END,
             4) AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CASE WHEN list_dot_product(a.e, a.e) > 0
                AND list_dot_product(b.e, b.e) > 0
           THEN list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e)))
           ELSE 0.0 END
          >= {_NEARDUP_MIN}
    """,
    doc="Embedding-cosine near-dup: candidate pairs restricted to the same "
    "coarse bucket (label = the IVF cell), cosine ≥ 0.4 kept (threshold "
    "tuned to the synthetic embeddings' similarity range). At 100 TB "
    "the bucket join replaces the n² self-join; buckets come from SRP-LSH "
    "or a trained coarse quantizer.",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_table(spark, sf_dir, "embeddings"), "vec_id")
    # r15: norms precomputed ONCE PER ROW below the label-join exchange
    # (the barrier stops project-collapse from re-inlining them), so the
    # quadratic within-bucket pair stage is one dot + one divide per
    # pair instead of three dots — the same discipline
    # brute_force_cosine_topk documents. The vectors themselves stay
    # FLOAT through the exchange (guide §2.3: narrower types — casting
    # before the join would double the shuffled embedding bytes); the
    # float→double cast happens at the pair stage exactly as cosine_sim
    # did, so every double is bit-identical.
    ed = F.col("embedding").cast("array<double>")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        S.norm(ed).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("label"),
        F.col("embedding").alias("eb"),
        S.norm(ed).alias("nb"),
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    sims = pairs.select(
        "id_a",
        "id_b",
        S.guarded_cosine(
            S.dot(
                F.col("ea").cast("array<double>"),
                F.col("eb").cast("array<double>"),
            ),
            F.col("na"),
            F.col("nb"),
        ).alias("raw"),
    )
    return sims.filter(F.col("raw") >= _NEARDUP_MIN).select(
        "id_a", "id_b", F.round("raw", 4).alias("cos_sim")
    )


# --------------------------------------------------------------------------
# q37 language ID (marker-word heuristic)
# --------------------------------------------------------------------------
def _langid_oracle() -> str:
    hits = {
        lang: "len(list_filter(words, w -> w IN ("
        + ", ".join(f"'{m}'" for m in marks)
        + ")))"
        for lang, marks in T.LANG_MARKERS.items()
    }
    return f"""
    WITH {_DOCS_CTE},
    scored AS (
        SELECT doc_id,
               {hits['en']} AS hits_en,
               {hits['es']} AS hits_es,
               {hits['fr']} AS hits_fr,
               {hits['de']} AS hits_de,
               {hits['zh']} AS hits_zh
        FROM docs
    )
    SELECT doc_id,
           CASE
             WHEN hits_zh > GREATEST(hits_en, hits_es, hits_fr, hits_de) THEN 'zh'
             WHEN hits_de > GREATEST(hits_en, hits_es, hits_fr) THEN 'de'
             WHEN hits_fr > GREATEST(hits_en, hits_es) THEN 'fr'
             WHEN hits_es > hits_en THEN 'es'
             ELSE 'en'
           END AS pred_lang,
           CAST(GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_zh) AS BIGINT) AS marker_hits
    FROM scored
    """


@register(
    "q37_language_id",
    oracle=_langid_oracle(),
    doc="Heuristic language ID: argmax of function-word hits per language; "
    "pure codegen column expressions.",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.detect_language(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q38 token counting
# --------------------------------------------------------------------------
@register(
    "q38_token_stats",
    oracle=f"""
    WITH {_DOCS_CTE}
    SELECT d.doc_id,
           CAST(len(words) AS BIGINT)                                  AS n_words,
           CAST(len(regexp_extract_all(t.text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_tokens_regex,
           CAST(CEIL(length(t.text) / 4.0) AS BIGINT)                  AS n_tokens_bpe_est,
           CAST(length(t.text) AS BIGINT)                              AS n_chars
    FROM docs d JOIN documents t USING (doc_id)
    """,
    doc="Token counting: whitespace words, GPT-2-style word/punct regex "
    "tokens, and the chars/4 BPE budget estimate.",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.token_stats(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q39 quality scoring
# --------------------------------------------------------------------------
_STOPLIST = ", ".join(f"'{m}'" for m in T.LANG_MARKERS["en"])


@register(
    "q39_quality_score",
    oracle=f"""
    WITH {_DOCS_CTE},
    feats AS (
        SELECT d.doc_id,
               length(t.text)                                          AS n_chars,
               len(words)                                              AS n_words,
               len(regexp_extract_all(t.text, '[^\\w\\s]'))            AS n_punct,
               len(list_filter(words, w -> w IN ({_STOPLIST})))        AS stop_hits,
               length(array_to_string(words, ''))                      AS sum_word_len
        FROM docs d JOIN documents t USING (doc_id)
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT)                                     AS n_chars,
           ROUND(n_punct / GREATEST(n_chars, 1), 4)                    AS punct_ratio,
           ROUND(stop_hits / GREATEST(n_words, 1), 4)                  AS stopword_ratio,
           ROUND(sum_word_len / GREATEST(n_words, 1), 4)               AS avg_word_len,
           ROUND((
               LEAST(GREATEST((n_chars - 100) / 900.0, 0.0), 1.0)
             + LEAST(ROUND(stop_hits / GREATEST(n_words, 1), 4) / 0.05, 1.0)
             + LEAST(GREATEST(1.0 - ROUND(n_punct / GREATEST(n_chars, 1), 4) / 0.2, 0.0), 1.0)
           ) / 3.0, 4)                                                 AS quality
    FROM feats
    """,
    doc="C4/Gopher-style quality heuristics: length, punctuation density, "
    "stopword ratio → clamped composite score.",
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.quality_score(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q40 document fingerprinting
# --------------------------------------------------------------------------
@register(
    "q40_fingerprint",
    oracle=f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    minsh AS (
        SELECT doc_id, MIN({_h32('shingle', 0)}) AS min_shingle_hash
        FROM (SELECT doc_id, array_to_string(words[i : i + 2], ' ') AS shingle
              FROM docs, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i))
        GROUP BY doc_id
    )
    SELECT d.doc_id, md5(d.norm) AS digest, m.min_shingle_hash
    FROM docs d JOIN minsh m USING (doc_id)
    """,
    doc="Doc fingerprint: content digest + single-value MinHash sketch of "
    "word 3-shingles (rolling-hash family).",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.fingerprint(docs, "doc_id", "text", k=3)


# --------------------------------------------------------------------------
# q43 as-of join (point-in-time): latest signup before each purchase
# --------------------------------------------------------------------------
@register(
    "q43_asof_join",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        FROM events WHERE event_type = 'signup'
    )
    SELECT p.event_id,
           p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT)   AS ts_us,
           ROUND(p.value, 2)                AS value,
           s.event_id                       AS prior_signup_id,
           CAST(epoch_us(s.ts) AS BIGINT)   AS signup_ts_us
    FROM p ASOF LEFT JOIN s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc="Backward as-of join via union+running-last window (one shuffle, "
    "no range-join blowup); oracle uses DuckDB's native ASOF JOIN. "
    "Timestamps emitted as epoch micros (events parquet is nanos; Spark "
    "reads micros).",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.asof import asof_join

    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(purchases, signups, on="ts", by="user_id", suffix="_s")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 2).alias("value"),
        F.col("event_id_s").alias("prior_signup_id"),
        F.unix_micros("ts_s").alias("signup_ts_us"),
    )


# --------------------------------------------------------------------------
# q41 multimodal binary-column pipeline (Arrow-batched mapInPandas)
# --------------------------------------------------------------------------
@register(
    "q41_multimodal_features",
    oracle="""
    SELECT doc_id                                        AS media_id,
           'text/plain'                                  AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT)    AS byte_len,
           md5(text)                                     AS digest
    FROM documents
    """,
    doc="Binary media column + typed metadata through an Arrow-batched "
    "mapInPandas decode/feature stage (decode is a documented "
    "deterministic stub — codecs absent in this container). Feature "
    "vector column is dropped for the oracle projection; full schema is "
    "pytest-verified.",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # cap=8: python-worker spin-up dominates below ~1k rows/partition
    media = M.documents_as_media(spread(docs, "doc_id", cap=8))
    feats = M.extract_features(media, dim=8)
    return feats.select("media_id", "media_type", "byte_len", "digest")


# --------------------------------------------------------------------------
# q48 n-gram Jaccard near-dup (exact, sketch-free inverted-index path)
# --------------------------------------------------------------------------
_NJ_MAX_DF, _NJ_MIN = 5, 0.5


@register(
    "q48_ngram_jaccard_neardup",
    oracle=f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    freq AS (SELECT shingle, COUNT(*) AS dfc FROM shingles GROUP BY shingle),
    rare AS (
        SELECT s.doc_id, s.shingle
        FROM shingles s JOIN freq USING (shingle)
        WHERE dfc <= {_NJ_MAX_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM rare a JOIN rare b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.id_a
        JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT i.id_a, i.id_b,
               ROUND(CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter), 4)
                   AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
    ) WHERE jaccard >= {_NJ_MIN}
    """,
    doc="Sketch-free exact near-dedup: inverted-index candidates (pairs "
    "sharing a rare shingle, document frequency <= 5 — the df cutoff caps "
    "the per-shingle join blowup at df², and the pruned boilerplate "
    "shingles carry no near-dup signal), exact Jaccard >= 0.5 over full "
    "shingle sets. Complements q33's MinHash-LSH: same contract, exact "
    "recall for rare-shingle overlap, integer-arithmetic similarity.",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_neardup(
        docs,
        "doc_id",
        "text",
        k=3,
        threshold=_NJ_MIN,
        max_df=_NJ_MAX_DF,
        shingles=_doc_shingles(spark, sf_dir),
        freq=_shingle_freq(spark, sf_dir),
        sets=_doc_shingle_sets(spark, sf_dir),
        rare=_shingle_rare(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# q49 IVF ANN (trained coarse quantizer — the FAISS-style scale path)
# --------------------------------------------------------------------------
_IVF_CELLS, _IVF_NPROBE, _IVF_SEED = 8, 2, 4242


@artifact
def _centroids(spark: SparkSession, sf_dir: str, cells: int) -> list:
    """Trained IVF coarse quantizer over the embeddings (``cells``
    centroids, driver metadata): q49/q68 train 8 cells, SemDeDup
    ``_SEM_CELLS``. Training is deterministic (md5 seeding, 6-dp rounded
    Lloyd step), so the memo returns bit-identical centroids."""
    emb = read_table(spark, sf_dir, "embeddings")
    return S.ivf_centroids(emb, k_cells=cells, seed=_IVF_SEED)


@artifact
def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus labeled with its q49 cell — the inverted-list layout,
    materialized once per corpus (at 100 TB: the partitionBy(cell) corpus
    layout on storage)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return _persisted(S.ivf_index(emb, _centroids(spark, sf_dir, _IVF_CELLS)))


def _ivf_a1_ctes(dims: int = 64, cells: int | None = None) -> str:
    """CTE chain ending in ``a1`` = every (vector, trained-centroid) pair
    with its 6-dp cosine — the shared trunk of the q49 (ANN serve), q68
    (cluster report) and q77 (semantic dedup, its own cell count) oracles.
    Reproduces the deterministic training: md5-seeded seeds → one Lloyd
    step → 6-dp centroids."""
    if cells is None:
        cells = _IVF_CELLS
    h = _h32("CAST(vec_id AS VARCHAR)", _IVF_SEED)
    cos6 = (
        "ROUND(CASE WHEN list_dot_product({a}, {a}) > 0"
        " AND list_dot_product({b}, {b}) > 0"
        " THEN list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))) ELSE 0.0 END, 6)"
    )
    return f"""v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    seeds AS (
        SELECT cell, e FROM (
            SELECT e, ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cell
            FROM v
        ) WHERE cell < {cells}
    ),
    a0 AS (
        SELECT v.vec_id, v.e, s.cell,
               {cos6.format(a='v.e', b='s.e')} AS sim
        FROM v CROSS JOIN seeds s
    ),
    cell0 AS (
        SELECT vec_id, e, cell FROM (
            SELECT vec_id, e, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, cell) AS rn
            FROM a0
        ) WHERE rn = 1
    ),
    expl AS (
        SELECT cell, i AS pos, e[i + 1] AS val
        FROM cell0, UNNEST(range(0, {dims})) AS t(i)
    ),
    centd AS (
        SELECT cell, pos, ROUND(AVG(val), 6) AS cv
        FROM expl GROUP BY cell, pos
    ),
    cent AS (SELECT cell, list(cv ORDER BY pos) AS ce FROM centd GROUP BY cell),
    a1 AS (
        SELECT v.vec_id, v.e, c.cell,
               {cos6.format(a='v.e', b='c.ce')} AS sim
        FROM v CROSS JOIN cent c
    )"""


def _ivf_oracle(dims: int = 64) -> str:
    return f"""
    WITH {_ivf_a1_ctes(dims)},
    cell1 AS (
        SELECT vec_id, e, cell FROM (
            SELECT vec_id, e, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, cell) AS rn
            FROM a1
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, e AS qe, cell FROM (
            SELECT vec_id, e, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, cell) AS rn
            FROM a1 WHERE vec_id < {_NQ}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    sims AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               ROUND(CASE WHEN list_dot_product(p.qe, p.qe) > 0
                           AND list_dot_product(c.e, c.e) > 0
                      THEN list_dot_product(p.qe, c.e)
                           / (sqrt(list_dot_product(p.qe, p.qe))
                              * sqrt(list_dot_product(c.e, c.e)))
                      ELSE 0.0 END, 4) AS cos_sim
        FROM probes p
        JOIN cell1 c ON c.cell = p.cell AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM sims
    ) WHERE rank <= {_K}
    """


@register(
    "q49_ann_ivf",
    oracle=_ivf_oracle(),
    doc="IVF ANN with a TRAINED coarse quantizer (vs q36's data-independent "
    "SRP planes): md5-seeded deterministic sample + one spherical Lloyd "
    "step -> 8 centroids (metadata scale, embedded as codegen literals); "
    "corpus labeled row-locally with its argmax-cosine cell (NO shuffle); "
    "queries probe their 2 nearest cells via a broadcast hash join. Even "
    "the training loop is reproduced bit-for-bit by the DuckDB oracle "
    "(6-dp rounded sims/centroids make cross-engine float order moot). "
    "At 100 TB: train on a sample, write corpus partitionBy(cell) — the "
    "inverted-list layout; each probe prunes to its cell's files.",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # Index-build / serve separation, as a real IVF deployment does it: the
    # coarse quantizer is TRAINED once per corpus (two metadata-scale jobs)
    # and the labeled inverted-list layout is MATERIALIZED once; every
    # query then probes it.
    cents = _centroids(spark, sf_dir, _IVF_CELLS)
    queries = emb.filter(F.col("vec_id") < _NQ)
    return S.ivf_topk(
        emb,
        queries,
        cents,
        k=_K,
        nprobe=_IVF_NPROBE,
        index=_ivf_index(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# q50 near-dup clusters (connected components over verified LSH pairs)
# --------------------------------------------------------------------------
@register(
    "q50_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_lsh_pair_ctes()},
    sym AS (
        SELECT id_a AS s, id_b AS t FROM verified
        UNION
        SELECT id_b, id_a FROM verified
    ),
    walk(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT w.id, e.t FROM walk w JOIN sym e ON e.s = w.r
    )
    SELECT CAST(id AS BIGINT)     AS doc_id,
           CAST(MIN(r) AS BIGINT) AS component
    FROM walk GROUP BY id
    """,
    doc="Dedup GROUPS, not just pairs: connected components (min-label "
    "propagation, operators/graph.py) over the Jaccard-verified LSH "
    "pairs — (a,b)+(b,c) collapse to one cluster keyed by its min doc_id. "
    "Each round is a hash join + groupBy-min; rounds = graph diameter "
    "(shallow for near-dup quasi-cliques); per-round driver work is one "
    "metadata-scale convergence count. Oracle: recursive-CTE reachability.",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _components(spark, sf_dir)
    return cc.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


# Staged artifact: the Jaccard-verified near-dup pair table is what a
# dedup pipeline MATERIALIZES between its verify and cluster stages (at
# 100 TB: written to storage once, read by clustering/reporting). q50
# clusters the staged table; q33 — whose deliverable IS the pair
# computation — always recomputes its own.
@artifact
def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint caveat: checkpoint blocks live on executors, so on a
    # real cluster this cached frame does NOT survive executor loss — the
    # production shape of this stage is a reliable materialization (write
    # the pair table to storage, read it back), which is exactly what the
    # cache stands in for at test scale.
    sh = _doc_shingles(spark, sf_dir).withColumnRenamed("doc_id", "id")
    sigs = D.minhash_signatures(sh, "id", num_hashes=_N_HASHES)
    cand = D.lsh_candidate_pairs(
        sigs,
        "id",
        bands=_BANDS,
        rows_per_band=_ROWS_PER_BAND,
        max_bucket=_MAX_BUCKET,  # the cap the oracle CTEs embed
    )
    sets = _doc_shingle_sets(spark, sf_dir).withColumnRenamed("doc_id", "id")
    jac = D.ngram_jaccard_pairs(sh, cand, id_col="id", sets=sets).filter(
        F.col("jaccard") >= _JACCARD_MIN
    )
    return jac.localCheckpoint(eager=True)


# Cluster-assignment table: the OTHER artifact the dedup pipeline's
# cluster stage writes (doc_id -> component). q50's deliverable is the
# clustering computation; q61 (and any later keep/drop stage) consumes
# the staged assignment exactly as production would read the table the
# cluster job wrote to storage. localCheckpoint caveat as above.
@artifact
def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.graph import connected_components

    return connected_components(
        _verified_pairs(spark, sf_dir), "id_a", "id_b"
    ).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# q51 train/test contamination (n-gram containment of a held-out set)
# --------------------------------------------------------------------------
_CONTAM_MOD, _CONTAM_MIN = 20, 0.5


@register(
    "q51_contamination",
    oracle=f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    bench AS (
        SELECT doc_id, shingle FROM shingles WHERE doc_id % {_CONTAM_MOD} = 0
    ),
    train AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id % {_CONTAM_MOD} <> 0
    ),
    hits AS (
        SELECT b.doc_id, COUNT(*) AS n_hit
        FROM bench b JOIN train t USING (shingle)
        GROUP BY b.doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM bench GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_sh AS BIGINT)             AS n_shingles,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_sh, 4)
               AS containment,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_sh >= {_CONTAM_MIN}
               AS contaminated
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
    doc="Benchmark-contamination check: for each held-out doc (doc_id % "
    f"{_CONTAM_MOD} == 0), the fraction of its word 3-shingles that appear "
    "anywhere in the training split. Scale shape: train membership is "
    "answered by the STAGED df index (a shingle is in train iff corpus "
    "df > benchmark df), so the training corpus is never scanned at "
    "query time — the per-shingle df table joins the benchmark's own "
    "broadcast shingle counts; every aggregation is benchmark-sized.",
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % _CONTAM_MOD == 0)
    # Membership against the TRAIN side comes from the staged df index,
    # not from joining the training corpus: a shingle occurs in train iff
    # its corpus df exceeds its benchmark df (shingle rows are distinct
    # per doc). The train corpus is never scanned at query time — only
    # the per-shingle df table (the staged index) joins against the
    # benchmark's own (tiny, broadcast, STAGED — shared with q90)
    # shingle counts.
    bcount = _bench_shingle_counts(spark, sf_dir)
    in_train = (
        _shingle_freq(spark, sf_dir)
        .join(F.broadcast(bcount), "shingle")
        .filter(F.col("dfc") > F.col("bc"))
        .select("shingle")
    )
    # one pass over the benchmark shingles: a left join against the
    # (broadcast) matched-shingle set marks hits, a single groupBy then
    # yields totals and hit counts together — no second scan, no final
    # doc-level join.
    marked = bench.join(
        F.broadcast(in_train.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
    )
    ratio = F.col("n_hits") / F.col("n_shingles")
    return agg.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.round(ratio, 4).alias("containment"),
        (ratio >= _CONTAM_MIN).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# q52 stratified deterministic sampling (per-language rates + weights)
# --------------------------------------------------------------------------
_SAMPLE_RATES = {"en": 0.5, "de": 0.3, "es": 0.3, "fr": 0.3, "zh": 0.2}
_SAMPLE_SEED = 9999


def _sample_oracle() -> str:
    bucket = _h32("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)
    rate = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN {r}" for lang, r in _SAMPLE_RATES.items()
        )
        + " ELSE 0.0 END"
    )
    return f"""
    SELECT doc_id, lang, source,
           ROUND(1.0 / ({rate}), 4) AS weight
    FROM documents
    WHERE ({bucket}) % 10000 < ({rate}) * 10000
    """


@register(
    "q52_stratified_sample",
    oracle=_sample_oracle(),
    doc="Stratified sampling for training-mix curation: per-language keep "
    "rates applied via a DETERMINISTIC md5 hash bucket of doc_id (no RNG: "
    "reruns, retries, and other engines select the identical sample), "
    "with inverse-rate weights for unbiased downstream stats. Pure "
    "row-local filter — no shuffle, fully pushdown-friendly.",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        D.hash32(F.col("doc_id").cast("string"), _SAMPLE_SEED), F.lit(10000)
    )
    rate = F.lit(0.0)
    for lang, r in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    # weight only where the rate is positive: languages outside
    # _SAMPLE_RATES have rate 0.0 — the filter already drops them, but a
    # reordered/relaxed select must yield NULL, never Infinity.
    weight = F.when(rate > 0, F.round(F.lit(1.0) / rate, 4))
    return docs.filter(bucket < rate * 10000).select(
        "doc_id",
        "lang",
        "source",
        weight.alias("weight"),
    )


# --------------------------------------------------------------------------
# q53 boilerplate n-gram detection (heavy hitters over the shingle corpus)
# --------------------------------------------------------------------------
_BP_MIN_DF, _BP_TOP = 3, 50


@register(
    "q53_boilerplate_ngrams",
    oracle=f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    freq AS (
        SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM docs)
    SELECT shingle, CAST(df AS BIGINT) AS df,
           ROUND(CAST(df AS DOUBLE) / n_docs, 4) AS doc_pct
    FROM freq, n
    WHERE df >= {_BP_MIN_DF}
    ORDER BY df DESC, shingle
    LIMIT {_BP_TOP}
    """,
    doc="Boilerplate detection: the highest-document-frequency word "
    "3-shingles (headers, footers, license blurbs — exactly what a "
    "curation pipeline strips before dedup). Shuffle carries (shingle, "
    "partial count) after map-side combine; top-k is TakeOrdered (no "
    "global sort shuffle), total order (df DESC, shingle) so the cut is "
    "deterministic.",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    freq = (
        _shingle_freq(spark, sf_dir)
        .select("shingle", F.col("dfc").alias("df"))
        .filter(F.col("df") >= _BP_MIN_DF)
    )
    return (
        freq.crossJoin(n_docs)
        .select(
            "shingle",
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("df") / F.col("n_docs"), 4).alias("doc_pct"),
        )
        .orderBy(F.col("df").desc(), "shingle")
        .limit(_BP_TOP)
    )


# --------------------------------------------------------------------------
# q54 sequence packing (token-budget binning for pretraining batches)
# --------------------------------------------------------------------------
_PACK_BUDGET = 2048


@register(
    "q54_sequence_packing",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS n_tokens,
           CAST(FLOOR(
               (SUM(CAST(CEIL(n_chars / 4.0) AS BIGINT))
                    OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING)
                - CAST(CEIL(n_chars / 4.0) AS BIGINT))
               / {_PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM documents
    """,
    doc="Sequence packing: assign documents to fixed token-budget bins "
    f"({_PACK_BUDGET} est. tokens, ceil(chars/4)) in deterministic doc_id "
    "order — the batch-construction step of a pretraining data loader. "
    "The running sum is windowed PER LANGUAGE (a natural partition key), "
    "never a global ORDER BY window, which would serialize the whole "
    "corpus through one task; each language packs independently and in "
    "parallel, exactly how a per-shard packer runs at scale.",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # token statistic is caller-supplied: the fixed oracle contract uses
    # the ceil(chars/4) estimator; a post-BPE pipeline passes
    # bpe_symbol_count() of its encoded docs instead (see q102 + tests)
    tok = F.ceil(F.col("n_chars") / 4.0).cast("bigint")
    return T.pack_sequences(
        docs, tok, budget=_PACK_BUDGET, partition_col="lang", order_col="doc_id"
    ).drop("n_chars")


def release_caches() -> None:
    """Engine hygiene for long-lived processes: drop every staged
    artifact, table handle and parsed expression of the artifact cache."""
    ARTIFACTS.release()


#: Per-artifact build seconds of the most recent stage_artifacts() call
#: (observability: bench.py copies it onto the detail line).
LAST_STAGE_TIMINGS: dict[str, float] = {}


def stage_artifacts(spark: SparkSession, sf_dir: str) -> list[str]:
    """Eagerly build + materialize every named staged artifact for one
    corpus — the explicit 'index build' step a production pipeline runs
    before its serve stages. bench.py calls this once per block and
    charges the cost to a separate labeled ``artifact_build`` row, so no
    query's measured time depends on which staged query happens to run
    first. Returns the artifact names built, in list order.

    The artifacts live in the session's artifact cache (released by
    release_caches()), so a second call builds nothing.

    The list is dependency-ordered and runs on an 8-thread pool (a sweep
    at sf0.1 over the earlier per-chain layout: 1 worker 51.0 s, 4
    workers 30.4 s, 8 workers 24.7 s). Optimization-guide §2.6: actions
    are only sequential because driver code calls them sequentially; a
    few jobs in flight let the next artifact's tasks back-fill the
    executors the current one's stage tail leaves idle — most of these
    builds are short multi-stage jobs whose per-stage scheduling floor,
    not data volume, dominates.

    The cache's per-artifact build lock orders dependencies: an artifact
    whose build needs another (shingle postings → its aux tables →
    verified pairs → clusters; fingerprints → postings; SRP bands →
    registry; centroids → IVF index) waits until that one is built, by
    whichever thread got to it first. So an artifact's time in
    LAST_STAGE_TIMINGS can include waiting on a dependency another
    thread is building, and its Spark jobs can carry that thread's
    label.

    Each artifact's jobs are labeled (§1.5) via per-thread job
    descriptions, which rely on pinned-thread mode
    (``PYSPARK_PIN_THREAD``, the default since Spark 3.2) — labels are
    observability only, never semantics.
    """
    from concurrent.futures import ThreadPoolExecutor

    from bricolage_spark.queries.patterns import _orders_hot_keys
    from bricolage_spark.queries.relational import _lineitem_price_pcts

    artifacts = [
        ("shingle_postings", _doc_shingles),
        ("shingle_sets", _doc_shingle_sets),
        ("verified_pairs", _verified_pairs),
        ("cluster_assignments", _components),
        ("bpe_merges", _bpe_merge_table),
        ("semdedup_assignments", _sem_assignment),
        ("lm_counts", _lm_counts),
        ("ivf_index", _ivf_index),
        ("shingle_df", _shingle_freq),
        ("shingle_pruned", _shingle_rare),
        ("bench_shingle_counts", _bench_shingle_counts),
        ("srp_bands", _srp_bands),
        ("srp_registry", _srp_registry),
        ("fingerprints", _staged_fingerprints),
        ("fp_postings", _staged_fp_postings),
        ("span_table", _staged_spans),
        ("bm25_index", _bm25_staged),
        ("dsir_ratio", _dsir_ratio),
        ("source_word_counts", _swc_counts),
        ("pmi_unigrams", _pmi_unigrams),
        ("pmi_bigrams", _pmi_bigrams),
        ("sentence_digest_df", _sent_digest_df),
        ("percentile_brackets", _lineitem_price_pcts),
        ("hot_key_stats", _orders_hot_keys),
    ]
    timings: dict[str, float] = {}

    def _mat(name: str, build) -> None:
        spark.sparkContext.setJobDescription(f"stage_artifacts: {name}")
        t0 = time.perf_counter()
        build(spark, sf_dir)
        timings[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=8) as pool:
        for f in [pool.submit(_mat, n, b) for n, b in artifacts]:
            f.result()

    LAST_STAGE_TIMINGS.clear()
    LAST_STAGE_TIMINGS.update(timings)
    return [name for name, _ in artifacts]


# --------------------------------------------------------------------------
# q56 PII detection + redaction (email / phone scrubbing pass)
# --------------------------------------------------------------------------
# Patterns live in operators.textual (RE2 ∩ java.util.regex common subset
# so both engines match identical spans); the oracle interpolates them.
_PII_EMAIL = T.PII_EMAIL
_PII_PHONE = T.PII_PHONE


@register(
    "q56_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH(text)
                - LENGTH(regexp_replace(text, '{_PII_EMAIL}', '', 'g'))
                AS BIGINT) > 0                                    AS has_email,
           CAST(LENGTH(text)
                - LENGTH(regexp_replace(text, '{_PII_PHONE}', '', 'g'))
                AS BIGINT) > 0                                    AS has_phone,
           md5(regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'))               AS redacted_md5,
           CAST(LENGTH(regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g')) AS BIGINT)    AS redacted_len
    FROM documents
    """,
    doc="PII scrubbing pass: detect and redact emails/phone numbers with "
    "patterns from the RE2 ∩ Java-regex common subset (identical matches "
    "in any engine). Row-local regexp_replace — embarrassingly parallel, "
    "zero shuffle; the redacted text is md5'd for the oracle hash so the "
    "comparison stays narrow. The detection flags let a curation pipeline "
    "route documents (drop / redact / keep) without a second scan.",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    redacted = T.redact_pii("text")
    return docs.select(
        "doc_id",
        (F.length("text")
         - F.length(F.regexp_replace("text", _PII_EMAIL, ""))
         > 0).alias("has_email"),
        (F.length("text")
         - F.length(F.regexp_replace("text", _PII_PHONE, ""))
         > 0).alias("has_phone"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
    )


# --------------------------------------------------------------------------
# q57 repetition quality filters (Gopher §A.1.1 duplicate-n-gram shape)
# --------------------------------------------------------------------------
@register(
    "q57_quality_repetition",
    oracle=f"""
    WITH {_DOCS_CTE},
    s AS (
        SELECT doc_id, words AS l, len(words) AS n,
               list_transform(words[1:len(words)-1],
                              (x, i) -> x || ' ' || words[i+1])      AS bg,
               list_transform(words[1:len(words)-2],
                              (x, i) -> x || ' ' || words[i+1]
                                          || ' ' || words[i+2])      AS tg
        FROM docs
    ),
    r AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_words,
            CASE WHEN n > 0 THEN
              ROUND(1.0 - CAST(len(list_distinct(l)) AS DOUBLE)/n, 4)
            ELSE 0.0 END AS dup_word_frac,
            CASE WHEN len(bg) > 0 THEN
              ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg), 4)
            ELSE 0.0 END AS dup_bigram_frac,
            CASE WHEN len(tg) > 0 THEN
              ROUND(1.0 - CAST(len(list_distinct(tg)) AS DOUBLE)/len(tg), 4)
            ELSE 0.0 END AS dup_trigram_frac,
            ROUND(CAST(list_sum(list_transform(l, x -> length(x)))
                       AS DOUBLE) / greatest(n, 1), 4) AS mean_word_len
        FROM s
    )
    SELECT doc_id, n_words, dup_word_frac, dup_bigram_frac,
           dup_trigram_frac, mean_word_len,
           (dup_word_frac <= 0.55 AND dup_bigram_frac <= 0.05
            AND dup_trigram_frac <= 0.02 AND n_words >= 15) AS keep
    FROM r
    """,
    doc="Repetition-based quality filtering (the Gopher duplicate-n-gram "
    "signals): per-document 1 − distinct/total over word uni/bi/trigrams, "
    "mean word length, and a keep/drop verdict. Pure row-local Catalyst "
    "array expressions — zero shuffle, zero Python; the first-pass scan "
    "filter of a curation pipeline.",
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.repetition_stats(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q58 per-document top word (mode) — two-stage agg, no corpus window
# --------------------------------------------------------------------------
@register(
    "q58_doc_top_word",
    oracle=f"""
    WITH {_DOCS_CTE},
    w AS (SELECT doc_id, unnest(words) AS word FROM docs),
    c AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word)
    SELECT doc_id,
           arg_max(word, lpad(CAST(cnt AS VARCHAR), 10, '0') || '|' || word)
               AS top_word,
           CAST(MAX(cnt) AS BIGINT) AS top_cnt,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top_share
    FROM c GROUP BY doc_id
    """,
    doc="Per-document mode word and its token share (excessive top-word "
    "share flags keyword-stuffed/spam documents). Two hash aggregations "
    "with map-side combine (explode → (doc,word) counts → max_by per doc); "
    "deterministic tie-break via a zero-padded count++word key; no window "
    "function touches the corpus.",
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.top_word(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q59 source-pair vocabulary overlap (cross-snapshot dedup planning)
# --------------------------------------------------------------------------
@register(
    "q59_source_overlap",
    oracle="""
    WITH v AS (
        SELECT DISTINCT source AS grp, unnest(
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                         ' ')) AS word
        FROM documents
    ),
    sizes AS (SELECT grp, COUNT(*) AS sz FROM v GROUP BY grp),
    inter AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS n_inter
        FROM v a JOIN v b ON a.word = b.word AND a.grp < b.grp
        GROUP BY a.grp, b.grp
    )
    SELECT grp_a, grp_b, n_inter,
           ROUND(CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter), 4)
               AS jaccard,
           ROUND(CAST(n_inter AS DOUBLE) / least(za.sz, zb.sz), 4)
               AS containment
    FROM inter
    JOIN sizes za ON za.grp = grp_a
    JOIN sizes zb ON zb.grp = grp_b
    """,
    doc="Pairwise vocabulary Jaccard/containment between sources — the "
    "corpus-overlap measure that decides which snapshot/feed pairs are "
    "worth cross-deduplicating. Inverted-index self-join on word whose "
    "per-word blowup is bounded by |sources|² (corpus-size independent); "
    "vocabulary sizes broadcast to the ≤|sources|² pair frame.",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.group_vocab_overlap(docs, "source", "text")


# --------------------------------------------------------------------------
# q60 BM25 top-k retrieval (sparse lexical search over the corpus)
# --------------------------------------------------------------------------
_BM25_QUERIES = {
    "k1": "spark query join",
    "k2": "fast table scan",
    "k3": "customer order window",
}
_BM25_TOPK = 10


def _bm25_oracle() -> str:
    from bricolage_spark.operators.retrieval import BM25_B, BM25_K1

    all_terms = sorted({t for q in _BM25_QUERIES.values() for t in q.split()})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qvalues = ",\n            ".join(
        f"('{qid}', '{term}')"
        for qid, qtext in sorted(_BM25_QUERIES.items())
        for term in dict.fromkeys(qtext.lower().split())
    )
    return f"""
    WITH {_DOCS_CTE},
    tok AS (SELECT doc_id, words, len(words) AS dl FROM docs),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM tok),
    qt AS (
        SELECT * FROM (VALUES
            {qvalues}
        ) AS v(query_id, word)
    ),
    post AS (
        SELECT doc_id, dl, word, COUNT(*) AS tf
        FROM (SELECT doc_id, dl, unnest(words) AS word FROM tok)
        WHERE word IN ({in_list})
        GROUP BY doc_id, dl, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS df FROM post GROUP BY word),
    scored AS (
        SELECT p.doc_id, p.word,
               ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * ({BM25_K1} + 1))
               / (p.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * p.dl / s.avgdl))
                   AS term_score
        FROM post p JOIN dfreq f USING (word) CROSS JOIN stats s
    ),
    pq AS (
        SELECT q.query_id, sc.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
               ROUND(SUM(term_score), 4) AS score
        FROM scored sc JOIN qt q USING (word)
        GROUP BY q.query_id, sc.doc_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
        FROM pq
    )
    SELECT query_id, doc_id, n_terms_matched, score,
           CAST(rn AS BIGINT) AS "rank"
    FROM r WHERE rn <= {_BM25_TOPK}
    """


@register(
    "q60_bm25_retrieval",
    oracle=_bm25_oracle(),
    doc="BM25 top-k retrieval for a keyword query set (corpus audit / "
    "quality-slice mining). Postings are term-filtered before the "
    "(doc, word) hash-agg, so the shuffle is bounded by query-term hits, "
    "not corpus tokens; corpus stats and document frequencies join via "
    "broadcast; the top-k window partitions by query over an already "
    "candidate-restricted frame. Pure Catalyst; engine-reproducible "
    "rounding + doc_id tie-break.",
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs,
        _BM25_QUERIES,
        "doc_id",
        "text",
        top_k=_BM25_TOPK,
        index=_bm25_staged(spark, sf_dir),
    )


# Staged BM25 index (postings + corpus stats) over the terms of
# _BM25_QUERIES. Serve = dfreq broadcast + per-query top-k window; the
# corpus is never rescanned.
@artifact
def _bm25_staged(spark: SparkSession, sf_dir: str):
    from bricolage_spark.operators.retrieval import bm25_index

    all_terms = sorted({t for q in _BM25_QUERIES.values() for t in q.split()})
    docs = read_table(spark, sf_dir, "documents")
    postings, corpus = bm25_index(docs, all_terms, "doc_id", "text")
    return _persisted(postings), _persisted(corpus)


# --------------------------------------------------------------------------
# q61 best-of-cluster dedup verdicts (clusters × quality → keep/drop)
# --------------------------------------------------------------------------
def _quality_cte() -> str:
    """DuckDB CTE mirroring textual.quality_score (same formula as q39)."""
    return f"""
    qual AS (
        SELECT d.doc_id,
               ROUND((
                   LEAST(GREATEST((length(t.text) - 100) / 900.0, 0.0), 1.0)
                 + LEAST(ROUND(len(list_filter(words, w -> w IN ({_STOPLIST})))
                         / GREATEST(len(words), 1), 4) / 0.05, 1.0)
                 + LEAST(GREATEST(1.0 - ROUND(len(regexp_extract_all(t.text, '[^\\w\\s]'))
                         / GREATEST(length(t.text), 1), 4) / 0.2, 0.0), 1.0)
               ) / 3.0, 4) AS quality
        FROM docs d JOIN documents t USING (doc_id)
    )
    """


@register(
    "q61_dedup_best_of_cluster",
    oracle=f"""
    WITH RECURSIVE {_lsh_pair_ctes()},
    sym AS (
        SELECT id_a AS s, id_b AS t FROM verified
        UNION
        SELECT id_b, id_a FROM verified
    ),
    walk(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT w.id, e.t FROM walk w JOIN sym e ON e.s = w.r
    ),
    cc AS (SELECT id AS doc_id, MIN(r) AS component FROM walk GROUP BY id),
    {_quality_cte()},
    j AS (
        SELECT cc.component, cc.doc_id, q.quality
        FROM cc JOIN qual q USING (doc_id)
    ),
    ranked AS (
        SELECT component, doc_id, quality,
               ROW_NUMBER() OVER (
                   PARTITION BY component
                   ORDER BY quality DESC, doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY component) AS n_members
        FROM j
    )
    SELECT CAST(component AS BIGINT)     AS component,
           CAST(n_members AS BIGINT)     AS n_members,
           CAST(doc_id AS BIGINT)        AS keep_id,
           quality                       AS best_quality,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    """,
    doc="The dedup DECISION stage: near-dup clusters (q50's connected "
    "components over the staged verified-pair table) joined with quality "
    "scores (q39's heuristics) → one keep/drop verdict per cluster, "
    "highest quality wins, doc_id breaks ties. One id-keyed hash join + "
    "one window over per-cluster groups (quasi-clique sized, no skew).",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.curation import cluster_representatives

    docs = read_table(spark, sf_dir, "documents")
    qual = T.quality_score(docs, "doc_id", "text")
    return cluster_representatives(_components(spark, sf_dir), qual)


# --------------------------------------------------------------------------
# q62 per-domain document caps (source-balanced corpus shaping)
# --------------------------------------------------------------------------
_DOMAIN_CAP = 20


@register(
    "q62_domain_caps",
    oracle=f"""
    WITH {_DOCS_CTE},
    {_quality_cte()},
    j AS (
        SELECT t.doc_id, t.source, q.quality
        FROM documents t JOIN qual q ON q.doc_id = t.doc_id
    ),
    ranked AS (
        SELECT doc_id, source, quality,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id ASC) AS rn
        FROM j
    )
    SELECT doc_id, source, quality,
           CAST(rn AS BIGINT)   AS rank_in_group,
           (rn <= {_DOMAIN_CAP}) AS kept
    FROM ranked
    """,
    doc="Source/domain balancing: keep the best N docs per source by "
    "quality (C4-style domain caps against boilerplate-heavy feeds). "
    "Window partitioned by source with deterministic quality+id ordering; "
    "every doc gets a rank and a keep verdict. For a pathologically hot "
    "domain the recipe pre-filters on a sampled per-group quality "
    "threshold before ranking (see operators/curation.py docstring).",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.curation import domain_cap

    docs = read_table(spark, sf_dir, "documents")
    # r15 (guide §2.4): quality is row-local — one projection, not a
    # second quality_score frame joined back on doc id.
    dq = docs.select("doc_id", "source", T.quality_col("text").alias("quality"))
    return domain_cap(
        dq, group_col="source", id_col="doc_id", cap=_DOMAIN_CAP
    )


# --------------------------------------------------------------------------
# q63 character-level quality stats (entropy / digit / uppercase filters)
# --------------------------------------------------------------------------
@register(
    "q63_char_entropy",
    oracle=f"""
    WITH {_DOCS_CTE},
    c AS (
        SELECT d.doc_id, t.text,
               string_split(d.norm, '') AS chars,
               length(d.norm)           AS n
        FROM docs d JOIN documents t USING (doc_id)
    ),
    e AS (
        SELECT doc_id, text, n,
               CASE WHEN n > 0 THEN len(list_distinct(chars)) ELSE 0 END
                   AS n_distinct_chars,
               CASE WHEN n > 0 THEN ROUND(
                   0.0 - list_aggregate(
                       list_transform(
                           list_distinct(chars),
                           c -> (len(list_filter(chars, x -> x = c)) / CAST(n AS DOUBLE))
                                * log2(len(list_filter(chars, x -> x = c)) / CAST(n AS DOUBLE))
                       ), 'sum'), 4)
               ELSE 0.0 END AS char_entropy,
               ROUND(len(regexp_extract_all(text, '[0-9]'))
                     / GREATEST(length(text), 1), 4) AS digit_ratio,
               ROUND(len(regexp_extract_all(text, '[A-Z]'))
                     / GREATEST(length(text), 1), 4) AS upper_ratio
        FROM c
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
           char_entropy, digit_ratio, upper_ratio,
           (char_entropy >= 2.0 AND digit_ratio <= 0.3
            AND upper_ratio <= 0.3) AS keep
    FROM e
    """,
    doc="Character-level quality filter: Shannon entropy of the char "
    "distribution (flags padding/binary junk/char-spam) plus digit and "
    "uppercase ratios, with a keep verdict. Entirely row-local — the "
    "per-char histogram is a transform over the in-row distinct-char "
    "array (alphabet-bounded), folded with aggregate; zero shuffle, "
    "zero Python, runs inside the first curation scan.",
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.char_stats(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q64 document chunking (overlapping context windows for RAG/packing)
# --------------------------------------------------------------------------
_CHUNK_WINDOW, _CHUNK_STRIDE = 64, 48


@register(
    "q64_doc_chunking",
    oracle=f"""
    WITH {_DOCS_CTE},
    m AS (
        SELECT doc_id, words, len(words) AS n,
               1 + CAST(ceil(greatest(len(words) - {_CHUNK_WINDOW}, 0)
                             / {_CHUNK_STRIDE}.0) AS INT) AS n_chunks
        FROM docs
    ),
    x AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_id,
               words[i * {_CHUNK_STRIDE} + 1 :
                     i * {_CHUNK_STRIDE} + {_CHUNK_WINDOW}] AS w
        FROM m, UNNEST(range(0, n_chunks)) AS u(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(w) AS BIGINT)      AS n_words_chunk,
           array_to_string(w, ' ')     AS chunk_text
    FROM x
    """,
    doc="Context-window chunking: split every document into overlapping "
    "word windows (window 64, stride 48) for retrieval / context-length "
    "packing. Row-local sequence→transform→posexplode over the in-row "
    "word array — output rows ≈ tokens/stride, no shuffle, chunk frame "
    "inherits the scan partitioning.",
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.curation import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs,
        id_col="doc_id",
        text_col="text",
        window=_CHUNK_WINDOW,
        stride=_CHUNK_STRIDE,
    )


# --------------------------------------------------------------------------
# q65 corpus report card (per-language curation dashboard row)
# --------------------------------------------------------------------------
@register(
    "q65_corpus_report",
    oracle=f"""
    WITH {_DOCS_CTE},
    {_quality_cte()},
    j AS (
        SELECT t.lang, t.doc_id, len(d.words) AS n_words, q.quality
        FROM documents t
        JOIN docs d USING (doc_id)
        JOIN qual q USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_words) AS BIGINT)  AS total_words,
           ROUND(AVG(n_words), 4)        AS avg_words,
           ROUND(quantile_cont(n_words, 0.5), 4)  AS median_words,
           ROUND(AVG(quality), 4)        AS avg_quality,
           ROUND(quantile_cont(quality, 0.9), 4)  AS p90_quality
    FROM j GROUP BY lang
    """,
    doc="Per-language corpus report card: doc counts, token totals, "
    "exact median length, mean/p90 quality — the dashboard row a "
    "curation run publishes per snapshot. One hash-agg over row-local "
    "features; exact percentiles per language group via "
    "percentile(interpolated) — groups = |languages|, so the per-group "
    "sort is metadata-scale.",
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # r15 (guide §2.4): n_words and quality are both row-local over the
    # same scan — ONE projection, no second frame joined back on doc id
    # (the old shape re-scanned documents and paid two exchanges + a
    # join purely as a code-reuse artifact).
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(D.normalize_text(F.col("text")), " ")).alias("n_words"),
        T.quality_col("text").alias("quality"),
    )
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.percentile("n_words", F.lit(0.5)), 4).alias("median_words"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.round(F.percentile("quality", F.lit(0.9)), 4).alias("p90_quality"),
    )


# --------------------------------------------------------------------------
# q67 incremental (registry) dedup — dedup a new batch against history
# --------------------------------------------------------------------------
@register(
    "q67_incremental_dedup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS content_hash,
               (doc_id % 3 = 0) AS is_new
        FROM documents
    ),
    reg AS (SELECT DISTINCT content_hash FROM d WHERE NOT is_new),
    batch AS (SELECT doc_id, content_hash FROM d WHERE is_new),
    first_seen AS (
        SELECT content_hash, MIN(doc_id) AS doc_id
        FROM batch GROUP BY content_hash
    )
    SELECT b.doc_id, b.content_hash
    FROM batch b
    JOIN first_seen f
      ON f.content_hash = b.content_hash AND f.doc_id = b.doc_id
    LEFT JOIN reg r ON r.content_hash = b.content_hash
    WHERE r.content_hash IS NULL
    """,
    doc="Cross-batch content identity (operators/dedup.py::"
    "incremental_dedup): a NEW batch (doc_id % 3 == 0) dedups against "
    "the digest registry of everything already ingested — in-batch "
    "first-seen representative, then a 16-byte-digest anti-join against "
    "the registry. History is never rescanned; bodies move only for "
    "novel survivors. The same exactly-once ledger contract as "
    "streaming_load, applied to content instead of filenames.",
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    registry = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(D.content_hash(F.col("text")).alias("content_hash"))
        .distinct()
    )
    novel, _digests = D.incremental_dedup(batch, registry, "doc_id", "text")
    return novel.select("doc_id", "content_hash")


# --------------------------------------------------------------------------
# q68 embedding cluster report (trained-quantizer corpus segmentation)
# --------------------------------------------------------------------------
@register(
    "q68_embedding_clusters",
    oracle=f"""
    WITH {_ivf_a1_ctes()},
    assign AS (
        SELECT vec_id, cell, sim FROM (
            SELECT vec_id, cell, sim,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, cell) AS rn
            FROM a1
        ) WHERE rn = 1
    )
    SELECT CAST(cell AS BIGINT)          AS cell,
           CAST(COUNT(*) AS BIGINT)      AS n_vectors,
           ROUND(AVG(sim), 4)            AS mean_sim,
           ROUND(MIN(sim), 4)            AS min_sim,
           CAST(MIN(vec_id) AS BIGINT)   AS min_vec_id
    FROM assign GROUP BY cell
    """,
    doc="Embedding-space corpus segmentation: every vector assigned to "
    "its trained k-means cell (the q49 quantizer — same cached "
    "centroids) with per-cluster size and cohesion (mean/min cosine to "
    "the centroid). Assignment is row-local codegen arithmetic over "
    "centroid literals — the corpus is labeled in the scan stage, then "
    "one |cells|-group hash-agg. The report a curation run uses to spot "
    "dominant/degenerate embedding clusters before balancing.",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir, _IVF_CELLS)
    assign = spread(emb, "vec_id").select(
        F.col("vec_id"),
        S.ivf_assignment("embedding", cents).alias("a"),
    )
    return assign.groupBy(F.col("a.cell").cast("bigint").alias("cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg("a.sim"), 4).alias("mean_sim"),
        F.round(F.min("a.sim"), 4).alias("min_sim"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )


# --------------------------------------------------------------------------
# q69 n-gram novelty score (uniqueness signal — the inverse of boilerplate)
# --------------------------------------------------------------------------
@register(
    "q69_ngram_novelty",
    oracle=f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    freq AS (SELECT shingle, COUNT(*) AS dfc FROM shingles GROUP BY shingle),
    j AS (
        SELECT s.doc_id,
               CASE WHEN f.dfc = 1 THEN 1 ELSE 0 END AS uniq,
               CASE WHEN f.dfc <= 5 THEN 1 ELSE 0 END AS rare
        FROM shingles s JOIN freq f USING (shingle)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)      AS n_shingles,
           CAST(SUM(uniq) AS BIGINT)     AS n_unique,
           ROUND(SUM(uniq) / CAST(COUNT(*) AS DOUBLE), 4) AS novelty,
           ROUND(SUM(rare) / CAST(COUNT(*) AS DOUBLE), 4) AS rare_frac
    FROM j GROUP BY doc_id
    """,
    doc="Per-document n-gram novelty: the fraction of a doc's word "
    "3-shingles that occur nowhere else (df = 1) and the rare fraction "
    "(df <= 5) — the uniqueness/data-valuation signal dual to q53's "
    "boilerplate detection. Serves from the staged shingle index: one "
    "posting-to-df hash join plus a doc-keyed aggregation; no text "
    "rescan, no new corpus-wide pass.",
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    freq = _shingle_freq(spark, sf_dir)
    j = sh.join(freq, "shingle").select(
        "doc_id",
        (F.col("dfc") == 1).cast("int").alias("uniq"),
        (F.col("dfc") <= 5).cast("int").alias("rare"),
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("uniq").cast("bigint").alias("n_unique"),
        F.round(F.sum("uniq") / F.count(F.lit(1)), 4).alias("novelty"),
        F.round(F.sum("rare") / F.count(F.lit(1)), 4).alias("rare_frac"),
    )


# --------------------------------------------------------------------------
# q70 token-length histogram (log2 buckets per language — corpus shape)
# --------------------------------------------------------------------------
@register(
    "q70_length_histogram",
    oracle="""
    WITH t AS (
        SELECT lang,
               GREATEST(CAST(CEIL(n_chars / 4.0) AS BIGINT), 1) AS n_tokens
        FROM documents
    )
    SELECT lang,
           CAST(FLOOR(LOG2(n_tokens)) AS BIGINT)        AS bucket,
           CAST(POWER(2, CAST(FLOOR(LOG2(n_tokens)) AS BIGINT)) AS BIGINT)
                                                        AS bucket_lo,
           CAST(COUNT(*) AS BIGINT)                     AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)                AS total_tokens
    FROM t GROUP BY lang, CAST(FLOOR(LOG2(n_tokens)) AS BIGINT)
    """,
    doc="Corpus length-distribution report: per-language histogram of "
    "estimated token counts in power-of-two buckets — the shape chart "
    "that drives packing budgets and truncation policy. Row-local bucket "
    "arithmetic + one (lang, bucket) hash-agg with map-side combine; "
    "output is |langs|·|buckets| rows (metadata-scale).",
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # estimator column by oracle contract; BPE counts plug in the same
    # way (operators/textual.py::length_histogram)
    est = F.ceil(F.col("n_chars") / 4.0).cast("bigint")
    return T.length_histogram(docs, est, "lang")


# --------------------------------------------------------------------------
# q71 language label audit (labeled vs predicted confusion matrix)
# --------------------------------------------------------------------------
def _langid_pred_cte() -> str:
    """CTE ``pred`` = (doc_id, pred_lang) by the q37 marker heuristic."""
    hits = {
        lang: "len(list_filter(words, w -> w IN ("
        + ", ".join(f"'{m}'" for m in marks)
        + ")))"
        for lang, marks in T.LANG_MARKERS.items()
    }
    return f"""
    scored AS (
        SELECT doc_id,
               {hits['en']} AS hits_en,
               {hits['es']} AS hits_es,
               {hits['fr']} AS hits_fr,
               {hits['de']} AS hits_de,
               {hits['zh']} AS hits_zh
        FROM docs
    ),
    pred AS (
        SELECT doc_id,
               CASE
                 WHEN hits_zh > GREATEST(hits_en, hits_es, hits_fr, hits_de) THEN 'zh'
                 WHEN hits_de > GREATEST(hits_en, hits_es, hits_fr) THEN 'de'
                 WHEN hits_fr > GREATEST(hits_en, hits_es) THEN 'fr'
                 WHEN hits_es > hits_en THEN 'es'
                 ELSE 'en'
               END AS pred_lang
        FROM scored
    )
    """


@register(
    "q71_language_label_audit",
    oracle=f"""
    WITH {_DOCS_CTE},
    {_langid_pred_cte()}
    SELECT t.lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           (t.lang = p.pred_lang)   AS agree
    FROM documents t JOIN pred p USING (doc_id)
    GROUP BY t.lang, p.pred_lang
    """,
    doc="Label-noise audit: the confusion matrix of the corpus' declared "
    "language labels against the marker-heuristic prediction (q37). "
    "Disagreement cells are where mislabeled or code-switched documents "
    "hide — the audit a curation run does before trusting per-language "
    "sampling rates. Row-local prediction + one |langs|² hash-agg.",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # label and prediction live on the SAME row — compute the prediction
    # inline (no self-join): one scan, one |langs|²-group hash-agg
    return (
        spread(docs, "doc_id")
        .select("lang", T.language_pred("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .withColumn("agree", F.col("lang") == F.col("pred_lang"))
    )


# --------------------------------------------------------------------------
# q72 corpus snapshot diff (digest-level added/removed/common between feeds)
# --------------------------------------------------------------------------
@register(
    "q72_snapshot_diff",
    oracle=f"""
    WITH {_DOCS_CTE},
    a AS (
        SELECT DISTINCT md5(d.norm) AS content_hash
        FROM docs d JOIN documents t USING (doc_id)
        WHERE t.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    ),
    b AS (
        SELECT DISTINCT md5(d.norm) AS content_hash
        FROM docs d JOIN documents t USING (doc_id)
        WHERE t.source IN ('src3', 'src4', 'src5', 'src6', 'src7')
    ),
    j AS (
        SELECT COALESCE(a.content_hash, b.content_hash) AS content_hash,
               CASE WHEN a.content_hash IS NULL THEN 'added'
                    WHEN b.content_hash IS NULL THEN 'removed'
                    ELSE 'common' END AS status
        FROM a FULL OUTER JOIN b USING (content_hash)
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY status
    """,
    doc="Snapshot diffing for incremental curation: which distinct "
    "documents (by content digest) were added, removed, or kept between "
    "two feed snapshots — the planning stats before an incremental "
    "ingest. One scan with per-side membership flags folded by a single "
    "digest-keyed max-agg (map-side combine; bodies never move, 16-byte "
    "shuffle keys) — the oracle states the same semantics as the "
    "classic two-branch full-outer join.",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    snap_a = ["src0", "src1", "src2", "src3", "src4"]
    snap_b = ["src3", "src4", "src5", "src6", "src7"]
    # one scan, one digest-keyed agg: membership flags fold with max()
    # per digest — strictly fewer exchanges than two distinct branches +
    # a full-outer join, identical semantics
    in_a = F.col("source").isin(snap_a)
    in_b = F.col("source").isin(snap_b)
    flagged = (
        spread(docs, "doc_id")
        .filter(in_a | in_b)
        .select(
            D.content_hash(F.col("text")).alias("content_hash"),
            in_a.cast("int").alias("_a"),
            in_b.cast("int").alias("_b"),
        )
        .groupBy("content_hash")
        .agg(F.max("_a").alias("a"), F.max("_b").alias("b"))
    )
    status = (
        F.when(F.col("a") == 0, F.lit("added"))
        .when(F.col("b") == 0, F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    return flagged.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# --------------------------------------------------------------------------
# q73 PMI collocations (statistically-bound word pairs over the corpus)
# --------------------------------------------------------------------------
_PMI_MIN, _PMI_TOP = 5, 50


@artifact
def _pmi_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram counts, PERSISTED (vocab-scale, staged like the
    shingle index): built once, so q73's totals and the final PMI job's
    two word-count joins serve from the cache instead of re-exploding
    the corpus. Kept as its own explode+agg: deriving unigrams from the
    bigram table (w1 fold + per-doc last words) was measured SLOWER — no
    ReusedExchange across the two consumers, so the corpus explode ran
    twice plus an extra union shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(D.normalize_text(F.col("text")), " ")
    return _persisted(
        spread(docs, "doc_id")
        .select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c1"))
    )


@artifact
def _pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, PERSISTED next to the unigram table: the
    expensive half of the collocation index (one corpus explode +
    hash-agg with map-side combine; shuffle rows are (w1, w2, partial
    count), never documents). q73's serve stage then filters + joins
    vocab-scale tables only."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(D.normalize_text(F.col("text")), " ")
    toks = spread(docs, "doc_id").select(words.alias("w"))
    # arrays_zip, not zip_with: higher-order-function lambdas are
    # interpreted per element (~2× cost, q57's measurement) while
    # arrays_zip stays in codegen
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(
                    F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))
                ).alias("w1"),
                F.slice(
                    F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))
                ).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    return _persisted(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))



@register(
    "q73_pmi_collocations",
    oracle=f"""
    WITH {_DOCS_CTE},
    uni AS (
        SELECT word, COUNT(*) AS c1
        FROM (SELECT unnest(words) AS word FROM docs)
        GROUP BY word
    ),
    n1 AS (SELECT SUM(c1) AS total1 FROM uni),
    bi AS (
        SELECT w1, w2, COUNT(*) AS c2
        FROM (
            SELECT words[i] AS w1, words[i + 1] AS w2
            FROM docs, UNNEST(range(1, greatest(len(words) - 1, 0) + 1)) AS t(i)
        )
        GROUP BY w1, w2
    ),
    n2 AS (SELECT SUM(c2) AS total2 FROM bi),
    scored AS (
        SELECT b.w1, b.w2, b.c2 AS pair_count,
               ROUND(ln((b.c2 / n2.total2)
                        / ((ua.c1 / n1.total1) * (ub.c1 / n1.total1))), 4)
                   AS pmi
        FROM bi b
        JOIN uni ua ON ua.word = b.w1
        JOIN uni ub ON ub.word = b.w2
        CROSS JOIN n1 CROSS JOIN n2
        WHERE b.c2 >= {_PMI_MIN}
    )
    SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count, pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOP}
    """,
    doc="Collocation mining: top adjacent word pairs by pointwise mutual "
    "information (how much more often they co-occur than chance) with a "
    "minimum pair count — surfaces templated phrases and named entities "
    "for tokenizer/boilerplate decisions. Two hash-aggs with map-side "
    "combine (unigrams, bigrams), corpus totals broadcast as one-row "
    "frames, TakeOrdered top-k — no global sort.",
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bi = _pmi_bigrams(spark, sf_dir)
    uni = _pmi_unigrams(spark, sf_dir)
    # corpus totals are metadata, embedded as literals (the index-
    # metadata pattern) instead of two broadcast cross-joins, whose
    # AQE stage materializations dominated at toy scale. total1 comes
    # from the (persisted) unigram table — a |vocab|-row agg, NOT a third
    # corpus scan; total bigrams = total words − n_docs, and n_docs is a
    # column-less parquet count (row-group metadata, no column IO).
    # Both are MEMOIZED next to the staged unigram table: they are
    # per-corpus constants, so the serve path pays zero eager jobs.
    total1, n_docs = ARTIFACTS.get(
        spark,
        sf_dir,
        "pmi_totals",
        (),
        lambda: (uni.agg(F.sum("c1")).first()[0], docs.count()),
    )
    total2 = total1 - n_docs
    scored = (
        bi.filter(F.col("c2") >= _PMI_MIN)
        .join(uni.select(F.col("word").alias("w1"), F.col("c1").alias("ca")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c1").alias("cb")), "w2")
        .select(
            "w1",
            "w2",
            F.col("c2").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c2") / F.lit(float(total2)))
                    / (
                        (F.col("ca") / F.lit(float(total1)))
                        * (F.col("cb") / F.lit(float(total1)))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(_PMI_TOP)


# --------------------------------------------------------------------------
# q74 substring-level exact dedup (cross-doc duplicated token spans)
# --------------------------------------------------------------------------
# The sequence-level dual of whole-doc near-dup: find the duplicated
# SPANS themselves (Lee et al. 2022's 50-token-overlap method), scaled
# down to this corpus' doc lengths. See operators/dedup.duplicate_spans
# for the bucketed design (anchor postings -> capped bucket self-join ->
# gaps-and-islands span merge).
_SPAN_K, _SPAN_MIN, _SPAN_MAXPOST = 8, 12, 8


@register(
    "q74_duplicate_spans",
    oracle=f"""
    WITH {_DOCS_CTE},
    anch AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(words[i : i + {_SPAN_K - 1}], ' ') AS anchor
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_SPAN_K - 1}, 0) + 1)) AS t(i)
    ),
    keep AS (
        SELECT anchor FROM anch
        GROUP BY anchor HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAXPOST}
    ),
    p AS (SELECT a.* FROM anch a JOIN keep USING (anchor)),
    m AS (
        SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b,
               p1.pos AS pos_a, p2.pos AS pos_b,
               p1.pos - p2.pos AS diff
        FROM p p1
        JOIN p p2 ON p1.anchor = p2.anchor AND p1.doc_id < p2.doc_id
    ),
    isl AS (
        SELECT *,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, diff ORDER BY pos_a) AS grp
        FROM m
    )
    SELECT CAST(doc_a AS BIGINT)                         AS doc_a,
           CAST(doc_b AS BIGINT)                         AS doc_b,
           CAST(MIN(pos_a) AS BIGINT)                    AS a_start,
           CAST(MIN(pos_b) AS BIGINT)                    AS b_start,
           CAST(MAX(pos_a) - MIN(pos_a) + {_SPAN_K} AS BIGINT) AS span_len
    FROM isl
    GROUP BY doc_a, doc_b, diff, grp
    HAVING MAX(pos_a) - MIN(pos_a) + {_SPAN_K} >= {_SPAN_MIN}
    """,
    doc="Substring-level exact dedup: maximal cross-document duplicated "
    f"token spans (>= {_SPAN_MIN} tokens) via positional {_SPAN_K}-gram "
    "anchor postings, a per-anchor capped bucket self-join (df cutoff "
    "kills boilerplate anchors at index time), and a gaps-and-islands "
    "merge of constant-offset matches — never a suffix array, never "
    "all-pairs. Oracle: the same formulation in window/unnest SQL.",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q74 IS the span-table definition: serve the staged build (the
    # artifact q78/q80/q103 compose with) instead of re-mining spans
    # inside this plan — same operator, cost charged to artifact_build
    return _staged_spans(spark, sf_dir)


# --------------------------------------------------------------------------
# q75 n-gram LM perplexity scoring (CCNet-style quality filter)
# --------------------------------------------------------------------------
# Train bigram/unigram counts on a clean slice (doc_id % 4 != 0 stands in
# for the curated wiki slice CCNet trains on), then score EVERY doc by
# average add-one-smoothed bigram log-likelihood. The LM is a staged
# artifact: counts are vocab-scale tables trained once per corpus and
# broadcast to the scorers, so score time is one corpus explode + two
# broadcast hash joins + a doc-keyed partial agg — the train corpus is
# never rescanned and nothing shuffles except per-doc partials.
_LM_TRAIN_MOD = 4  # doc_id % 4 != 0 -> train slice (75 %)


def _bigram_pairs(col: str = "w"):
    """(w1, w2) adjacent-pair structs from a word-array column — q73's
    arrays_zip construction (codegen; HOF lambdas measured ~2x slower)."""
    return F.arrays_zip(
        F.slice(F.col(col), 1, F.greatest(F.size(col) - 1, F.lit(0))).alias("w1"),
        F.slice(F.col(col), 2, F.greatest(F.size(col) - 1, F.lit(0))).alias("w2"),
    )


@artifact
def _lm_counts(spark: SparkSession, sf_dir: str):
    """Staged LM: (uni DataFrame, bi DataFrame, vocab size)."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(D.normalize_text(F.col("text")), " ")
    train = (
        spread(docs, "doc_id")
        .filter(F.col("doc_id") % _LM_TRAIN_MOD != 0)
        .select(words.alias("w"))
    )
    uni = (
        train.select(F.explode("w").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    bi = _persisted(
        train.select(F.explode(_bigram_pairs()).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    vocab = uni.count()  # materializes uni; |vocab| is LM metadata
    return uni, bi, vocab


@register(
    "q75_lm_perplexity",
    oracle=f"""
    WITH {_DOCS_CTE},
    train AS (SELECT words FROM docs WHERE doc_id % {_LM_TRAIN_MOD} <> 0),
    uni AS (
        SELECT w AS w1, COUNT(*) AS c1
        FROM (SELECT unnest(words) AS w FROM train) GROUP BY w
    ),
    bi AS (
        SELECT words[i] AS w1, words[i + 1] AS w2, COUNT(*) AS c2
        FROM train,
             UNNEST(range(1, greatest(len(words) - 1, 0) + 1)) AS t(i)
        GROUP BY 1, 2
    ),
    v AS (SELECT COUNT(*) AS vocab FROM uni),
    doc_bi AS (
        SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
        FROM docs,
             UNNEST(range(1, greatest(len(words) - 1, 0) + 1)) AS t(i)
    ),
    s AS (
        SELECT d.doc_id,
               ln((COALESCE(b.c2, 0) + 1.0)
                  / (COALESCE(u.c1, 0) + v.vocab)) AS logp
        FROM doc_bi d
        LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
        LEFT JOIN uni u ON u.w1 = d.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)       AS n_bigrams,
           ROUND(AVG(logp), 4)            AS avg_logp,
           ROUND(EXP(-AVG(logp)), 2)      AS ppl
    FROM s GROUP BY doc_id
    """,
    doc="CCNet-style LM quality scoring: add-one-smoothed bigram "
    "log-likelihood under counts trained on a clean slice "
    f"(doc_id % {_LM_TRAIN_MOD} != 0), reported per doc as avg log-prob "
    "and perplexity — the standard public quality-filter signal. The "
    "trained counts are a staged, broadcast artifact; scoring is one "
    "corpus pass with two broadcast joins and a doc-keyed partial agg "
    "(docs with fewer than two words have no bigrams and are absent, "
    "matching the oracle).",
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    uni, bi, vocab = _lm_counts(spark, sf_dir)
    words = F.split(D.normalize_text(F.col("text")), " ")
    doc_bi = (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), words.alias("w"))
        .select("doc_id", F.explode(_bigram_pairs()).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(vocab)))
    )
    return (
        doc_bi.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni), "w1", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg(logp)), 2).alias("ppl"),
        )
    )


# --------------------------------------------------------------------------
# q76 URL canonicalization + dedup (canonical-URL keying of a crawl)
# --------------------------------------------------------------------------
# documents carries no URL column, so the crawl URLs are DERIVED
# deterministically from (doc_id, source) — mixed-case scheme/host, www
# prefixes, default ports, /index.html tails, shuffled + tracking query
# params, fragments — the q67 synthetic-column idiom. Both engines build
# the identical messy URL, so the oracle checks the CANONICALIZER, which
# is the operator under test (operators/urls.py).
_URL_RE_SQL = r"^([^:]+)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"
_TRACK_SQL = (
    "list_filter(string_split(substr(q, 2), '&'), "
    "p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)(=|$)'))"
)


@register(
    "q76_url_canonical_dedup",
    oracle=f"""
    WITH u AS (
        SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
            || '://'
            || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
            || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
            || '.Example.COM'
            || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
            || '/a/' || CAST(doc_id % 25 AS VARCHAR)
            || (CASE WHEN doc_id % 5 = 0 THEN '/index.html'
                     WHEN doc_id % 5 = 1 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
                     ELSE '?a=1&b=2&utm_campaign=x' END)
            || (CASE WHEN doc_id % 7 = 0 THEN '#s2' ELSE '' END) AS url
        FROM documents
    ),
    parts AS (
        SELECT doc_id,
               lower(regexp_extract(url, '{_URL_RE_SQL}', 1)) AS scheme,
               regexp_replace(lower(regexp_extract(url, '{_URL_RE_SQL}', 2)),
                              '^www\\.', '') AS host,
               regexp_extract(url, '{_URL_RE_SQL}', 3) AS path,
               regexp_extract(url, '{_URL_RE_SQL}', 4) AS q
        FROM u
    ),
    canon AS (
        SELECT doc_id,
            scheme || '://'
            || (CASE WHEN scheme = 'https' THEN regexp_replace(host, ':443$', '')
                     WHEN scheme = 'http'  THEN regexp_replace(host, ':80$', '')
                     ELSE host END)
            || regexp_replace(regexp_replace(path, '/index\\.html?$', '/'),
                              '/+$', '')
            || (CASE WHEN len({_TRACK_SQL}) > 0
                     THEN '?' || array_to_string(list_sort({_TRACK_SQL}), '&')
                     ELSE '' END) AS canon_url
        FROM parts
    )
    SELECT canon_url,
           CAST(COUNT(*) AS BIGINT)   AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM canon GROUP BY canon_url
    """,
    doc="Canonical-URL dedup keying: scheme/host case-fold, www and "
    "default-port strip, /index.html collapse, tracking-param removal "
    "with bytewise param sort, fragment drop (operators/urls.py) — then "
    "one hash-agg on the canonical key (min doc_id kept per group). "
    "Row-local canonicalization, shuffle carries only canonical keys; "
    "feeds q62's domain caps and q72's snapshot diff at 100 TB.",
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.urls import canonical_url

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.concat(F.lit("/a/"), (d % 25).cast("string")),
        F.when(d % 5 == 0, F.lit("/index.html"))
        .when(d % 5 == 1, F.lit("/"))
        .otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?b=2&utm_source=feed&a=1")).otherwise(
            F.lit("?a=1&b=2&utm_campaign=x")
        ),
        F.when(d % 7 == 0, F.lit("#s2")).otherwise(F.lit("")),
    )
    return (
        docs.select(d.alias("doc_id"), canonical_url(url).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("keep_id"),
        )
    )


# --------------------------------------------------------------------------
# q77 semantic dedup (SemDeDup-style within-cluster embedding dedup)
# --------------------------------------------------------------------------
# Public method (Abbas et al. 2023, "SemDeDup"): cluster embeddings with
# k-means, then compare pairs only WITHIN a cluster; members closer than
# tau are semantic duplicates and all but one are dropped — keeping the
# member with the LOWEST cosine to the centroid (preserves cluster-edge
# diversity, the paper's best-performing keeper rule; vec_id breaks
# ties). Reuses the q49/q68 trained quantizer, so the pairwise stage is
# bounded by cell size — the knob a 100 TB run turns via k.
_SEM_TAU = 0.4  # same duplicate threshold as q42 (this corpus' near-dups)
# q77 trains its OWN quantizer with more cells than the q49 ANN index:
# SemDeDup's pairwise stage costs n²/k per corpus, so k scales with n —
# 8 serving cells are right for the ANN probe fan-out but make dedup
# cells quadratically oversized. Separate cache entry, same trainer.
_SEM_CELLS = 32
# Cell-size guard: the within-cell self-join is quadratic in cell size,
# so a degenerate quantizer (low-variance embeddings -> one mega-cell)
# must fail LOUDLY at assignment time, not silently go n². Real cells
# sit near the mean (measured <=1.6x at sf0.01/sf0.1); 8x mean with a
# floor admits any healthy clustering and trips only on collapse. Same
# capping discipline as q48/q74/q79's posting-size caps — except those
# can drop boilerplate keys without changing semantics, while dropping a
# dedup cell would silently skip duplicates, so here the cap raises.
_SEM_CELL_CAP_FLOOR = 256
_SEM_CELL_CAP_FACTOR = 8


@artifact
def _sem_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged SemDeDup cluster-assignment table (vec_id, e, nrm, cell,
    cent_sim), PERSISTED per corpus — the materialization between the
    published method's clustering and dedup passes. Without it, q77's
    three consumers (pair left side, pair right side, final verdict
    join) would each re-run the scan + assignment pipeline."""
    import math

    emb = read_table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir, _SEM_CELLS)
    # assignment via a BROADCAST centroid table, not centroid-literal
    # expressions: at 32 cells x 64 dims the inlined literals blow the
    # whole-stage-codegen method-size limit and the whole stage falls
    # back to interpreted eval (measured ~2x slower than this join). A
    # broadcast centroid table is also the real-cluster shape.
    cdf = spark.createDataFrame(
        [
            (
                int(cell),
                [float(x) for x in comps],
                math.sqrt(sum(float(x) ** 2 for x in comps)),
            )
            for cell, comps in cents
        ],
        "cell long, ce array<double>, cn double",
    )
    e_d = F.col("embedding").cast("array<double>")
    # norm precomputed per VECTOR, not per pair: the pairwise stage then
    # costs one dot + one divide per pair instead of three dots
    vecs = spread(emb, "vec_id").select(
        "vec_id", e_d.alias("e"), S.norm(e_d).alias("nrm")
    )
    scored = vecs.join(F.broadcast(cdf)).select(
        "vec_id",
        "e",
        "nrm",
        "cell",
        F.round(
            S.guarded_cosine(
                S.dot(F.col("e"), F.col("ce")), F.col("nrm"), F.col("cn")
            ),
            6,
        ).alias("sim"),
    )
    # best cell via max_by over (sim, -cell) — identical semantics to a
    # row_number window ordered (sim DESC, cell ASC) on the 6-dp rounded
    # sims. Measured equivalent at 16x/k=128 (13.5 vs 13.8 MB shuffle,
    # wall-neutral at 64x): Catalyst's WindowGroupLimit already pushes
    # the rank-1 limit below the window exchange, so the n·k scored rows
    # never shuffle in either shape. max_by is kept because its
    # partial-aggregability is ALGEBRAIC — it does not depend on that
    # version-specific optimizer rule holding (WindowGroupLimit is 3.5+
    # and rank-filter-pattern-sensitive); the assignment stage is
    # compute-bound on the n·k cosines either way (r13 vector octave).
    a = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("e", "nrm", "cell", "sim"),
                F.struct(F.col("sim"), -F.col("cell")),
            ).alias("_b")
        )
        .select(
            "vec_id",
            F.col("_b.e").alias("e"),
            F.col("_b.nrm").alias("nrm"),
            F.col("_b.cell").alias("cell"),
            F.col("_b.sim").alias("cent_sim"),
        )
        .persist()
    )
    # enforce the cell-size cap BEFORE any consumer runs the pairwise
    # join: one k-row metadata collect over the (persisted) assignment
    sizes = a.groupBy("cell").count().collect()
    n = sum(r["count"] for r in sizes)
    cap = max(_SEM_CELL_CAP_FLOOR, _SEM_CELL_CAP_FACTOR * n // _SEM_CELLS)
    worst = max(sizes, key=lambda r: r["count"], default=None)
    if worst is not None and worst["count"] > cap:
        a.unpersist(blocking=False)
        from bricolage_spark.exception import ApplicationError

        raise ApplicationError(
            f"semantic-dedup quantizer collapsed: cell {worst['cell']} holds "
            f"{worst['count']} of {n} vectors (cap {cap} = max("
            f"{_SEM_CELL_CAP_FLOOR}, {_SEM_CELL_CAP_FACTOR}x mean)); the "
            f"within-cell pairwise stage would go quadratic. Raise k "
            f"(_SEM_CELLS={_SEM_CELLS}) or inspect the embedding column "
            f"for low variance."
        )
    return a



@register(
    "q77_semantic_dedup",
    oracle=f"""
    WITH {_ivf_a1_ctes(cells=_SEM_CELLS)},
    assign AS (
        SELECT vec_id, e, cell, sim FROM (
            SELECT vec_id, e, cell, sim,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, cell) AS rn
            FROM a1
        ) WHERE rn = 1
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assign a
        JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        WHERE ROUND(CASE WHEN list_dot_product(a.e, a.e) > 0
                         AND list_dot_product(b.e, b.e) > 0
                    THEN list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e)))
                    ELSE 0.0 END, 6) >= {_SEM_TAU}
          AND (a.sim < b.sim OR (a.sim = b.sim AND a.vec_id < b.vec_id))
    )
    SELECT a.vec_id,
           CAST(a.cell AS BIGINT) AS cell,
           a.sim                  AS cent_sim,
           (d.vec_id IS NULL)     AS keep
    FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    """,
    doc="SemDeDup-style semantic dedup verdicts: every embedding labeled "
    "with its trained k-means cell, pairwise cosine compared WITHIN the "
    f"cell only, pairs >= {_SEM_TAU} marked duplicates and resolved "
    "deterministically toward the member with the lowest centroid "
    "cosine. Assignment is row-local centroid-literal arithmetic; the "
    "pairwise join is cell-bucketed (never all-pairs) with per-cell "
    "blowup bounded by an ENFORCED cap (8x mean cell size, floor 256): "
    "a collapsed quantizer raises at assignment time instead of going "
    "quadratic. At 100 TB, k scales so cells stay bounded, exactly the "
    "published design.",
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _sem_assignment(spark, sf_dir)
    left = a.select(
        F.col("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("e").alias("a_e"),
        F.col("nrm").alias("a_n"),
        F.col("cent_sim").alias("a_cs"),
    )
    right = a.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("e").alias("b_e"),
        F.col("nrm").alias("b_n"),
        F.col("cent_sim").alias("b_cs"),
    )
    pair_sim = F.round(
        S.guarded_cosine(
            S.dot(F.col("a_e"), F.col("b_e")), F.col("a_n"), F.col("b_n")
        ),
        6,
    )
    # each unordered pair evaluated ONCE (a_id < b_id); the keeper rule
    # then names the dropped side directly
    a_keeps = (F.col("a_cs") < F.col("b_cs")) | (
        (F.col("a_cs") == F.col("b_cs")) & (F.col("a_id") < F.col("b_id"))
    )
    dropped = (
        left.join(right, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(pair_sim >= F.lit(_SEM_TAU))
        .select(F.when(a_keeps, F.col("b_id")).otherwise(F.col("a_id")).alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return a.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        "cent_sim",
        F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
    )


# --------------------------------------------------------------------------
# q78 duplicated-span coverage (the APPLY side of substring dedup)
# --------------------------------------------------------------------------
# q74's deliverable is span DETECTION; the pipeline then materializes the
# span table and a second pass scores each document by how much of it is
# covered by cross-doc duplicated text (the signal that drives
# drop/trim decisions in the public sequence-dedup recipes). The staged
# span table is that materialization (localCheckpoint at test scale,
# a storage write at 100 TB).
@artifact
def _staged_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.duplicate_spans(
        docs,
        "doc_id",
        "text",
        anchor_len=_SPAN_K,
        min_span=_SPAN_MIN,
        max_postings=_SPAN_MAXPOST,
    ).localCheckpoint(eager=True)


@register(
    "q78_span_coverage",
    oracle=f"""
    WITH {_DOCS_CTE},
    anch AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(words[i : i + {_SPAN_K - 1}], ' ') AS anchor
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_SPAN_K - 1}, 0) + 1)) AS t(i)
    ),
    keep AS (
        SELECT anchor FROM anch
        GROUP BY anchor HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAXPOST}
    ),
    p AS (SELECT a.* FROM anch a JOIN keep USING (anchor)),
    m AS (
        SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b,
               p1.pos AS pos_a, p2.pos AS pos_b,
               p1.pos - p2.pos AS diff
        FROM p p1
        JOIN p p2 ON p1.anchor = p2.anchor AND p1.doc_id < p2.doc_id
    ),
    spi AS (
        SELECT *,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, diff ORDER BY pos_a) AS grp
        FROM m
    ),
    spans AS (
        SELECT doc_a, doc_b,
               MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
               MAX(pos_a) - MIN(pos_a) + {_SPAN_K} AS span_len
        FROM spi GROUP BY doc_a, doc_b, diff, grp
        HAVING MAX(pos_a) - MIN(pos_a) + {_SPAN_K} >= {_SPAN_MIN}
    ),
    iv AS (
        -- UNION (not ALL): identical intervals from different partner
        -- docs must collapse BEFORE the merge — duplicate (s, e) rows
        -- make the ORDER BY non-total, and the island flag and the
        -- running sum are separate window passes whose arbitrary tie
        -- orders can disagree, splitting one island into two (observed:
        -- doubled coverage). Distinct rows restore a total order; the
        -- interval UNION is unchanged.
        SELECT doc_a AS doc_id, a_start AS s, a_start + span_len AS e FROM spans
        UNION
        SELECT doc_b, b_start, b_start + span_len FROM spans
    ),
    fl AS (
        SELECT doc_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS f
        FROM iv
    ),
    isl AS (
        SELECT *, SUM(f) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS UNBOUNDED PRECEDING) AS isl_id
        FROM fl
    ),
    cov AS (
        SELECT doc_id, SUM(mx - mn) AS covered FROM (
            SELECT doc_id, isl_id, MAX(e) AS mx, MIN(s) AS mn
            FROM isl GROUP BY doc_id, isl_id
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.words) AS BIGINT)           AS n_words,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           ROUND(COALESCE(c.covered, 0)
                 / CAST(len(d.words) AS DOUBLE), 4) AS dup_frac
    FROM docs d LEFT JOIN cov c USING (doc_id)
    """,
    doc="Per-document duplicated-text coverage: the union of all q74 "
    "span intervals per doc (classic gaps-and-islands interval merge — "
    "running-max window, island sums) over the STAGED span table, "
    "reported as covered tokens and the dup fraction every sequence-"
    "dedup recipe thresholds on. Interval merge partitions by doc "
    "(tiny windows); the doc-length join is row-local.",
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    spans = _staged_spans(spark, sf_dir)
    # distinct, not unionAll: identical intervals from different partner
    # docs must collapse before the merge — with duplicate (s, e) rows
    # the window ORDER BY is not a total order, and the island-flag pass
    # and the running-sum pass can disagree on tie order, splitting one
    # island into two (doubled coverage; caught against the oracle)
    iv = (
        spans.select(
            F.col("doc_a").alias("doc_id"),
            F.col("a_start").alias("s"),
            (F.col("a_start") + F.col("span_len")).alias("e"),
        )
        .unionAll(
            spans.select(
                F.col("doc_b").alias("doc_id"),
                F.col("b_start").alias("s"),
                (F.col("b_start") + F.col("span_len")).alias("e"),
            )
        )
        .distinct()
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pmax = F.max("e").over(w_prev)
    fl = iv.withColumn(
        "f", F.when(pmax.isNull() | (F.col("s") > pmax), 1).otherwise(0)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = fl.withColumn("isl_id", F.sum("f").over(w_run))
    cov = (
        isl.groupBy("doc_id", "isl_id")
        .agg((F.max("e") - F.min("s")).alias("ilen"))
        .groupBy("doc_id")
        .agg(F.sum("ilen").alias("covered"))
    )
    n_words = F.size(F.split(D.normalize_text(F.col("text")), " "))
    return (
        docs.select("doc_id", n_words.cast("bigint").alias("n_words"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)) / F.col("n_words"), 4
            ).alias("dup_frac"),
        )
    )


# --------------------------------------------------------------------------
# q79 winnowing fingerprints (robust local document fingerprinting)
# --------------------------------------------------------------------------
# The classic selectable-fingerprint scheme (Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
# the MOSS algorithm): hash every word k-gram, slide a window of w
# consecutive hashes, and SELECT the rightmost minimal hash per window.
# Guarantees: any shared run of >= w+k-1 tokens shares >= 1 selected
# fingerprint, while only ~2/(w+1) of all grams are kept — the index is
# a fraction of q74's full posting table at the cost of span-boundary
# precision (the coarse pre-filter a pipeline runs BEFORE exact span
# verification). Selection is encoded order-safely as
# ord = h·2^20 + (2^20 − pos): minimizing ord minimizes h then
# maximizes pos (the rightmost-minimum tie rule), and both engines
# decode h = ord DIV 2^20 with nonneg integer division only.
_WIN_K, _WIN_W, _WIN_MAXPOST, _WIN_MIN_SHARED = 4, 4, 8, 2
# The packing holds only for pos < 2^20 (~1M words, 2 orders of
# magnitude past a context window); grams beyond it are EXPLICITLY
# dropped in both engines below — a deterministic documented truncation,
# never a silent decode corruption. A corpus with monster documents
# chunks them first (q64) like every real pipeline does.
_WIN_POS = 1 << 20


@artifact
def _staged_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED winnowing fingerprint table (doc_id, h) — the MOSS-style
    per-document fingerprint index a plagiarism/dedup system
    materializes once per corpus. The expensive half (positional melt +
    the per-doc rightmost-minimal window selection) is paid at index
    build; the q79 serve stage is the bucket-join half only."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    # with_total carries n_grams as a per-doc melt-time constant — one
    # less window pass than a COUNT() OVER (PARTITION BY doc_id). The
    # least(·, 2^20 − 1) mirrors the oracle exactly: its per-doc count
    # runs AFTER the pos < 2^20 packing filter, so for a monster doc it
    # equals the truncated gram count, not the true one.
    grams = D.positional_anchors(
        docs, "doc_id", "text", k=_WIN_K, with_total=True
    ).select(
        "doc_id",
        "pos",
        F.least(F.col("n_grams"), F.lit(_WIN_POS - 1)).alias("n_grams"),
        D.hash32(F.col("anchor"), 79).alias("h"),
    )
    w_frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    )
    ordv = grams.filter(F.col("pos") < _WIN_POS).select(  # explicit packing limit
        "doc_id",
        "pos",
        (F.col("h") * _WIN_POS + (F.lit(_WIN_POS) - F.col("pos"))).alias("ord"),
        "n_grams",
    )
    return (
        ordv.withColumn("sel", F.min("ord").over(w_frame))
        .filter(F.col("pos") <= F.col("n_grams") - _WIN_W + 1)
        .select(
            "doc_id",
            # integer DIV, not float '/': sel is up to 52 bits and the
            # decode must stay exact arithmetic in both engines
            F.expr(f"CAST(sel DIV {_WIN_POS} AS BIGINT)").alias("h"),
        )
        .localCheckpoint(eager=True)
    )


@artifact
def _staged_fp_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED capped fingerprint posting lists (h, L): the PRUNED
    inverted index over ``_staged_fingerprints`` — singleton and
    boilerplate fingerprints dropped at index-build time (the
    ``_shingle_rare`` discipline), so the q79 serve stage is one
    row-local pair expansion + one pair count."""
    return (
        _staged_fingerprints(spark, sf_dir)
        .groupBy("h")
        .agg(F.collect_set("doc_id").alias("L"))
        .filter((F.size("L") >= 2) & (F.size("L") <= _WIN_MAXPOST))
        .localCheckpoint(eager=True)
    )



@register(
    "q79_winnowing_fingerprints",
    oracle=f"""
    WITH {_DOCS_CTE},
    grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               {_h32("array_to_string(words[i : i + " + str(_WIN_K - 1) + "], ' ')", 79)} AS h
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_WIN_K - 1}, 0) + 1)) AS t(i)
    ),
    ordv AS (
        SELECT doc_id, pos,
               h * {_WIN_POS} + ({_WIN_POS} - pos) AS ord,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
        FROM grams
        WHERE pos < {_WIN_POS}
    ),
    win AS (
        SELECT doc_id,
               MIN(ord) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS sel
        FROM ordv
        QUALIFY pos <= n_grams - {_WIN_W} + 1
    ),
    sel AS (
        SELECT DISTINCT doc_id, sel // {_WIN_POS} AS h FROM win
    ),
    keep AS (
        SELECT h FROM sel GROUP BY h
        HAVING COUNT(*) BETWEEN 2 AND {_WIN_MAXPOST}
    ),
    p AS (SELECT s.* FROM sel s JOIN keep USING (h))
    SELECT a.doc_id                   AS doc_a,
           b.doc_id                   AS doc_b,
           CAST(COUNT(*) AS BIGINT)   AS n_shared
    FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_WIN_MIN_SHARED}
    """,
    doc="Winnowing document fingerprints (SIGMOD'03 / MOSS): rightmost-"
    f"minimal {_WIN_K}-gram hash per {_WIN_W}-hash window — any shared "
    f"run of >= {_WIN_W + _WIN_K - 1} tokens is guaranteed a shared "
    "fingerprint while keeping ~2/(w+1) of grams. Candidate doc pairs "
    "share >= 2 selected fingerprints (df-capped buckets, q48 "
    "discipline). One corpus scan, one doc-partitioned window, one "
    "capped self-join on 8-byte keys.",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q74's single-shuffle pattern: the STAGED index already collected
    # each selected fingerprint's (deduped) doc set with the df cap
    # applied; candidate doc pairs expand ROW-LOCALLY from the
    # ≤8-element sets — no keep-filter join, no posting self-join.
    grouped = _staged_fp_postings(spark, sf_dir)
    pairs = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "L",
                        lambda x: F.transform(
                            "L",
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.doc_a", "pr.doc_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# q80 curation verdicts (signal composition: the keep/drop decision table)
# --------------------------------------------------------------------------
# The decision stage every pipeline ends with: join the independent
# quality signals (q75 LM perplexity, q78 duplicated-span coverage) and
# apply ordered threshold rules, recording WHICH rule dropped each doc.
# Composed directly from the registered queries — the Spark side calls
# their functions, the oracle nests their full SQL as subqueries — so
# the verdict stays consistent with the audited signal definitions by
# construction.
_V_MAX_PPL = 4000.0   # drop docs the clean-slice LM finds this surprising
_V_MAX_DUP = 0.5      # drop docs mostly covered by cross-doc spans
_V_MIN_WORDS = 10     # drop near-empty docs


def _q80_oracle() -> str:
    from bricolage_spark.queries import QUERIES

    ppl_sql = QUERIES["q75_lm_perplexity"].oracle
    cov_sql = QUERIES["q78_span_coverage"].oracle
    return f"""
    SELECT c.doc_id,
           c.n_words,
           p.ppl,
           c.dup_frac,
           CASE WHEN c.n_words < {_V_MIN_WORDS} THEN 'too_short'
                WHEN c.dup_frac > {_V_MAX_DUP} THEN 'duplicated'
                WHEN p.ppl IS NULL OR p.ppl > {_V_MAX_PPL} THEN 'low_quality'
                ELSE 'ok' END AS verdict,
           (c.n_words >= {_V_MIN_WORDS} AND c.dup_frac <= {_V_MAX_DUP}
            AND p.ppl IS NOT NULL AND p.ppl <= {_V_MAX_PPL}) AS keep
    FROM ({cov_sql}) c
    LEFT JOIN ({ppl_sql}) p USING (doc_id)
    """


@register(
    "q80_curation_verdicts",
    oracle=_q80_oracle(),
    doc="Per-document keep/drop verdict table composing the audited "
    "signals: span-dedup coverage (q78, also supplies doc length) LEFT "
    "JOINed with LM perplexity (q75 — docs with no bigrams score NULL "
    "and fail the quality rule), with ordered rules too_short → "
    "duplicated → low_quality → ok. One doc-keyed join of two "
    "doc-keyed tables; the signals themselves serve from their staged "
    "artifacts. This is the decision stage a 100 TB curation run "
    "writes back next to the corpus.",
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.queries import QUERIES

    cov = QUERIES["q78_span_coverage"].fn(spark, sf_dir)
    ppl = QUERIES["q75_lm_perplexity"].fn(spark, sf_dir).select("doc_id", "ppl")
    keep = (
        (F.col("n_words") >= _V_MIN_WORDS)
        & (F.col("dup_frac") <= _V_MAX_DUP)
        & F.col("ppl").isNotNull()
        & (F.col("ppl") <= _V_MAX_PPL)
    )
    verdict = (
        F.when(F.col("n_words") < _V_MIN_WORDS, "too_short")
        .when(F.col("dup_frac") > _V_MAX_DUP, "duplicated")
        .when(F.col("ppl").isNull() | (F.col("ppl") > _V_MAX_PPL), "low_quality")
        .otherwise("ok")
    )
    return cov.join(ppl, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "ppl",
        "dup_frac",
        verdict.alias("verdict"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# q81 Zipf fit (corpus naturalness check from the rank-frequency law)
# --------------------------------------------------------------------------
# Natural-language corpora follow Zipf's law: log(freq) ~ -s*log(rank)
# with s near 1. The fitted slope is a standard corpus-health signal —
# generated/templated/spammy text bends the rank-frequency curve, so a
# drifting slope between snapshots flags contamination before any
# per-doc filter would. Served from the STAGED unigram table (q73's),
# so the corpus is not rescanned: rank assignment is one |vocab| window
# and the fit is a single linear-regression aggregate in both engines.
_ZIPF_TOP = 1000  # fit over the head of the distribution (standard practice)


@register(
    "q81_zipf_fit",
    oracle=f"""
    WITH {_DOCS_CTE},
    uni AS (
        SELECT w AS word, COUNT(*) AS c1
        FROM (SELECT unnest(words) AS w FROM docs) GROUP BY w
    ),
    ranked AS (
        SELECT c1,
               ROW_NUMBER() OVER (ORDER BY c1 DESC, word) AS rank
        FROM uni
    )
    SELECT CAST(COUNT(*) AS BIGINT)                       AS n_fit,
           ROUND(regr_slope(ln(c1), ln(rank)), 4)         AS zipf_slope,
           ROUND(regr_intercept(ln(c1), ln(rank)), 4)     AS zipf_intercept,
           ROUND(regr_r2(ln(c1), ln(rank)), 4)            AS fit_r2
    FROM ranked WHERE rank <= {_ZIPF_TOP}
    """,
    doc="Zipf's-law fit: OLS slope/intercept/R^2 of log(freq) vs "
    f"log(rank) over the top {_ZIPF_TOP} words — the rank-frequency "
    "naturalness signal whose drift flags templated or generated text "
    "at corpus level. Serves from the staged unigram table (no corpus "
    "rescan); the head is taken distributed (TakeOrderedAndProject "
    "top-k), ranks are a window over the bounded head only, then one "
    "regression aggregate (both engines' regr_* are single-pass).",
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    uni = _pmi_unigrams(spark, sf_dir)
    # take the head FIRST: orderBy+limit plans as TakeOrderedAndProject
    # (per-partition top-k, then a k-row merge), so the full vocabulary
    # never funnels through one task. The rank window then runs over a
    # bounded <= _ZIPF_TOP-row input — the only single-partition step is
    # capped by the limit, which is the plan-gate contract
    # (tests/test_plan_quality.py::test_no_unbounded_single_partition_window).
    head = uni.orderBy(F.desc("c1"), F.asc("word")).limit(_ZIPF_TOP)
    w = Window.orderBy(F.desc("c1"), F.asc("word"))
    ranked = head.withColumn("rank", F.row_number().over(w)).select(
        F.log("c1").alias("lf"), F.log("rank").alias("lr")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fit"),
        F.round(F.regr_slope("lf", "lr"), 4).alias("zipf_slope"),
        F.round(F.regr_intercept("lf", "lr"), 4).alias("zipf_intercept"),
        F.round(F.regr_r2("lf", "lr"), 4).alias("fit_r2"),
    )


# --------------------------------------------------------------------------
# q82 incremental NEAR-dup registry (cross-snapshot MinHash-LSH dedup)
# --------------------------------------------------------------------------
# q67 extends exact dedup across snapshots via a digest registry; q82 is
# the same contract for NEAR duplicates: the accumulated corpus is
# represented only by its LSH band-signature registry (~40-byte
# (band_id, band_hash) rows), and a new batch probes it with one
# semi-join — history bodies are never rescanned. This is the pass a
# recurring 100 TB crawl runs per snapshot: O(batch) probe cost, then
# the batch's own bands are appended to the registry.
def _q82_oracle() -> str:
    mins = _affine_mins(_N_HASHES)
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_id, "
        f"md5(concat_ws(',', h{b * _ROWS_PER_BAND}, h{b * _ROWS_PER_BAND + 1})) AS band_hash FROM sigs"
        for b in range(_BANDS)
    )
    return f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, {mins}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    ),
    reg AS (
        SELECT DISTINCT band_id, band_hash FROM bands WHERE doc_id % 3 <> 0
    ),
    batch AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
    hits AS (
        SELECT b.doc_id, COUNT(*) AS n_hit_bands
        FROM batch b
        JOIN reg r ON r.band_id = b.band_id AND r.band_hash = b.band_hash
        GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
           (h.doc_id IS NOT NULL)                     AS hist_neardup
    FROM (SELECT DISTINCT doc_id FROM batch) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """


@register(
    "q82_incremental_neardup",
    oracle=_q82_oracle(),
    doc="Cross-snapshot NEAR-dedup (operators/dedup.py::"
    "incremental_neardup_flags): a NEW batch (doc_id % 3 == 0) probes "
    "the LSH band-signature registry of everything already ingested "
    f"({_N_HASHES} MinHash families, {_BANDS} bands x {_ROWS_PER_BAND}) "
    "— one semi-join of ~40-byte band rows + a doc-keyed count; history "
    "bodies are never rescanned. The MinHash extension of q67's "
    "exact-digest registry contract.",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    sigs = D.minhash_signatures(sh, "doc_id", num_hashes=_N_HASHES)
    bands = D.band_buckets(
        sigs, "doc_id", bands=_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    registry = bands.filter(F.col("doc_id") % 3 != 0).select(
        "band_id", "band_hash"
    )
    batch = bands.filter(F.col("doc_id") % 3 == 0)
    return D.incremental_neardup_flags(batch, registry, "doc_id")


# --------------------------------------------------------------------------
# q83 hashed-ngram quality classifier (fastText-style linear scoring)
# --------------------------------------------------------------------------
# The last standard public curation signal absent from q37-q81: a linear
# quality classifier a la CCNet/FineWeb, applied row-locally — word
# uni+bigrams hashed into a fixed bucket space, a weight per bucket
# (hash-derived INTEGER fixture standing in for the trained table, so
# per-doc sums are exact and order-free in both engines), mean + bias
# through a sigmoid. Score time is ONE projection: zero shuffle, the
# weight table is broadcast-sized at any corpus scale.
def _q83_oracle() -> str:
    B = T.CLASSIFIER_BUCKETS
    sb, sw = T.CLASSIFIER_SEED_BUCKET, T.CLASSIFIER_SEED_WEIGHT
    w0 = T.CLASSIFIER_BIAS
    bucket = f"({_h32('g', sb)} % {B})"
    weight = f"({_h32(f'CAST({bucket} AS VARCHAR)', sw)} % 2001 - 1000)"
    return f"""
    WITH {_DOCS_CTE},
    grams AS (
        SELECT doc_id, words[i] AS g
        FROM docs, UNNEST(range(1, len(words) + 1)) AS t(i)
        UNION ALL
        SELECT doc_id, words[i] || ' ' || words[i + 1] AS g
        FROM docs, UNNEST(range(1, len(words))) AS t(i)
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT)  AS n_grams,
               SUM({weight})             AS s
        FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(1.0 / (1.0 + exp(-({w0} + (CAST(s AS DOUBLE) / n_grams) / 1000.0))), 6) AS score,
           ROUND(1.0 / (1.0 + exp(-({w0} + (CAST(s AS DOUBLE) / n_grams) / 1000.0))), 6) >= 0.5 AS keep
    FROM agg
    """


@register(
    "q83_hashed_ngram_classifier",
    oracle=_q83_oracle(),
    doc="fastText-style hashed-ngram linear quality classifier "
    "(operators/textual.py::hashed_ngram_score): word uni+bigrams (with "
    f"multiplicity) hashed into {T.CLASSIFIER_BUCKETS} buckets, integer "
    "weight per bucket (deterministic fixture for the trained table), "
    "sigmoid(bias + mean weight) per doc. Spark side is pure Catalyst "
    "HOFs over the word array — one projection, zero shuffle at score "
    "time; a trained deployment swaps the hash-derived weight for a "
    "broadcast weight-table join with the same plan shape.",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.hashed_ngram_score(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q84 temperature-based mixture sampling (training-mix composition)
# --------------------------------------------------------------------------
# The multilingual/multi-source training-mix recipe: sampling rates per
# source proportional to count^alpha (alpha < 1 upweights small sources),
# applied via the same deterministic md5 bucketing as q52. The whole rate
# table is |sources| rows of metadata; the sample filter is row-local.
_MIX_ALPHA, _MIX_TARGET, _MIX_SEED = 0.5, 0.5, 4242


@register(
    "q84_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (
        SELECT SUM(POW(CAST(n_docs AS DOUBLE), {_MIX_ALPHA})) AS z,
               SUM(n_docs) AS n_total
        FROM counts
    ),
    rates AS (
        SELECT source, n_docs,
               ROUND(POW(CAST(n_docs AS DOUBLE), {_MIX_ALPHA}) / z, 12) AS w,
               ROUND(LEAST(1.0,
                   ROUND(POW(CAST(n_docs AS DOUBLE), {_MIX_ALPHA}) / z, 12)
                   * {_MIX_TARGET} * CAST(n_total AS DOUBLE)
                   / CAST(n_docs AS DOUBLE)), 6) AS rate
        FROM counts, tot
    ),
    sampled AS (
        SELECT d.source, COUNT(*) AS n_sampled
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ({_h32('CAST(d.doc_id AS VARCHAR)', _MIX_SEED)} % 1000000)
              < r.rate * 1000000
        GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT)                 AS n_docs,
           ROUND(r.w, 6)                            AS weight,
           r.rate                                   AS rate,
           CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM rates r LEFT JOIN sampled s ON s.source = r.source
    """,
    doc="Temperature-based source mixing (operators/curation.py::"
    f"temperature_mixture): per-source rate proportional to count^{_MIX_ALPHA}, "
    "deterministic md5-bucket sampling (no RNG), inverse-share upweighting "
    "of small sources. Plan: one count agg + |sources|-row rate table "
    "broadcast back + row-local filter — the corpus shuffles nothing.",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return C.temperature_mixture(
        docs, "source", "doc_id",
        alpha=_MIX_ALPHA, target_frac=_MIX_TARGET, seed=_MIX_SEED,
    )


# --------------------------------------------------------------------------
# q85 ANN index recall evaluation (exact baseline vs SRP-LSH)
# --------------------------------------------------------------------------
# The acceptance metric of every ANN deployment: recall@k of the
# approximate index against the exact baseline on a probe set. Composes
# q35 (exact) and q36 (SRP-LSH) — both already oracle-verified — and
# reduces to per-query overlap counts.
def _q85_oracle() -> str:
    exact = QUERIES["q35_cosine_topk"].oracle
    approx = QUERIES["q36_ann_lsh_bucketed"].oracle
    return f"""
    WITH e AS ({exact}),
    a AS ({approx}),
    ec AS (SELECT query_id, COUNT(*) AS n_exact FROM e GROUP BY query_id),
    ac AS (SELECT query_id, COUNT(*) AS n_approx FROM a GROUP BY query_id),
    cc AS (
        SELECT e.query_id, COUNT(*) AS n_common
        FROM e JOIN a ON a.query_id = e.query_id
                     AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT ec.query_id,
           CAST(ec.n_exact AS BIGINT)               AS n_exact,
           CAST(COALESCE(ac.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(COALESCE(cc.n_common, 0) AS BIGINT) AS n_common,
           ROUND(CAST(COALESCE(cc.n_common, 0) AS DOUBLE) / {_K}, 4) AS recall
    FROM ec
    LEFT JOIN ac ON ac.query_id = ec.query_id
    LEFT JOIN cc ON cc.query_id = ec.query_id
    """


@register(
    "q85_ann_recall",
    oracle=_q85_oracle(),
    doc="ANN index-quality evaluation: recall@k of the SRP-LSH bucketed "
    "index (q36) vs the exact cosine baseline (q35) per probe query, "
    "computed in a SINGLE pair scan (both rankings share the rounded-"
    "cosine + id-tiebreak order; the LSH side just restricts to bucket "
    "matches) — one broadcast-probe exchange, two windows on shared "
    "partitioning. operators/similarity.py::ann_recall remains the "
    "general composition form for two independently-built top-k tables.",
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass evaluation: the exact and LSH rankings use the SAME
    # rounded-cosine + id-tiebreak ordering (their only difference is
    # the bucket-match candidate restriction), so one pair frame carries
    # both — cosine computed once per pair, rank_e over query_id, rank_l
    # over (query_id, same_bucket) — instead of two full top-k pipelines
    # joined after the fact (measured 2x the stages for identical sets).
    from pyspark.sql import Window

    from bricolage_spark.operators.similarity import (
        _as_double,
        dot,
        norm,
        srp_bucket,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cd = _as_double(F.col("embedding"))
    c = spread(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            cd.alias("c_vec"),
            norm(cd).alias("c_n"),
            srp_bucket("embedding", 6).alias("c_bucket"),
        ),
        "neighbor_id",
    )
    q = emb.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        cd.alias("q_vec"),
        norm(cd).alias("q_n"),
        srp_bucket("embedding", 6).alias("q_bucket"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_n") * F.col("c_n")),
                4,
            ).alias("cos_sim"),
            (F.col("c_bucket") == F.col("q_bucket")).alias("same_bucket"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    wl = Window.partitionBy("query_id", "same_bucket").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ranked = pairs.withColumn("rank_e", F.row_number().over(we)).withColumn(
        "rank_l", F.row_number().over(wl)
    )
    in_e = F.col("rank_e") <= _K
    in_l = F.col("same_bucket") & (F.col("rank_l") <= _K)
    agg = ranked.groupBy("query_id").agg(
        F.sum(F.when(in_e, 1).otherwise(0)).alias("n_exact"),
        F.sum(F.when(in_l, 1).otherwise(0)).alias("n_approx"),
        F.sum(F.when(in_e & in_l, 1).otherwise(0)).alias("n_common"),
    )
    return agg.select(
        "query_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_approx").cast("bigint").alias("n_approx"),
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round(F.col("n_common").cast("double") / F.lit(float(_K)), 4).alias(
            "recall"
        ),
    )


# --------------------------------------------------------------------------
# q86 sentence-level duplication profile
# --------------------------------------------------------------------------
# Sub-document granularity between q31 (whole-doc digests) and q74 (span
# mining): which docs consist largely of sentences that also appear
# elsewhere (template/boilerplate pages, syndicated content).
_SENT_MIN_LEN = 20

# STAGED sentence-digest doc-frequency table (sd, n_docs_with), shared
# by the q86 profile and the q92 apply (the q99/q100 shared-count
# pattern): one corpus melt builds it; both serve stages then pay one
# digest-keyed join instead of re-deriving the aggregate inside their
# own plans. ~24-byte rows (16-byte digest + count) at any corpus scale.
@artifact
def _sent_digest_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    melt = D.sentence_digest_melt(docs, "doc_id", "text", min_len=_SENT_MIN_LEN)
    return (
        melt.groupBy("sd")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
        .localCheckpoint(eager=True)
    )


@register(
    "q86_sentence_dedup",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        FROM documents
    ),
    melted AS (
        SELECT DISTINCT doc_id, md5(s) AS sd
        FROM norm, UNNEST(string_split_regex(t, '\\. ')) AS u(s)
        WHERE LENGTH(s) >= {_SENT_MIN_LEN}
    ),
    freq AS (
        SELECT sd, COUNT(*) AS n_docs_with FROM melted GROUP BY sd
    )
    SELECT m.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sents,
           CAST(SUM(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           ROUND(CAST(SUM(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 4) AS shared_frac
    FROM melted m JOIN freq f ON f.sd = m.sd
    GROUP BY m.doc_id
    """,
    doc="Sentence-level duplication profile (operators/dedup.py::"
    "sentence_dedup_stats): normalized sentences (split '. ', length >= "
    f"{_SENT_MIN_LEN}) hashed to 16-byte digests; a sentence is shared when "
    "its digest occurs in >= 2 distinct docs. Two digest-keyed "
    "aggregations; sentence text never shuffles between stages.",
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    return D.sentence_dedup_stats(
        docs,
        "doc_id",
        "text",
        min_len=_SENT_MIN_LEN,
        digest_df=_sent_digest_df(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# q87 code/markup detection (corpus-composition signal)
# --------------------------------------------------------------------------
def _q87_oracle() -> str:
    count_exprs = " + ".join(
        f"(LENGTH(text) - LENGTH(REPLACE(text, '{c}', '')))"
        for c in T.CODE_CHARS
        if c != "'"
    )
    return f"""
    WITH {_DOCS_CTE},
    sig AS (
        SELECT d.doc_id,
               LENGTH(d.text) AS n_chars,
               ROUND(CASE WHEN LENGTH(d.text) > 0
                     THEN CAST({count_exprs} AS DOUBLE) / LENGTH(d.text)
                     ELSE 0.0 END, 6) AS code_char_ratio,
               ROUND(CAST(LENGTH(array_to_string(n.words, '')) AS DOUBLE)
                     / len(n.words), 4) AS avg_word_len
        FROM documents d JOIN docs n ON n.doc_id = d.doc_id
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           code_char_ratio,
           avg_word_len,
           code_char_ratio > {T.CODE_RATIO_THRESHOLD} AS is_code
    FROM sig
    """


@register(
    "q87_code_detection",
    oracle=_q87_oracle(),
    doc="Code/markup detection (operators/textual.py::code_signals): "
    "density of code punctuation (length-delta per literal char, no "
    "regex) + average word length -> is_code flag. Pure row-local "
    "arithmetic, zero shuffle — a corpus-composition signal every "
    "training mix tracks.",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.code_signals(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# q88 out-of-vocabulary rate vs the staged corpus vocabulary
# --------------------------------------------------------------------------
# Serves from the staged unigram table (q73/q81's artifact): vocab = the
# top-V words by corpus frequency; per doc, the fraction of word
# occurrences outside it. High OOV = garbled text, wrong language, or
# heavy markup — a standard keep/drop curation signal.
_OOV_VOCAB, _OOV_MAX = 500, 0.30


@register(
    "q88_oov_rate",
    oracle=f"""
    WITH {_DOCS_CTE},
    uni AS (
        SELECT word, COUNT(*) AS c1
        FROM (SELECT unnest(words) AS word FROM docs)
        GROUP BY word
    ),
    vocab AS (
        SELECT word FROM uni ORDER BY c1 DESC, word LIMIT {_OOV_VOCAB}
    ),
    melted AS (
        SELECT doc_id, u.word
        FROM docs, UNNEST(words) AS u(word)
    )
    SELECT m.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 4) AS oov_rate,
           ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 4) <= {_OOV_MAX} AS keep
    FROM melted m LEFT JOIN vocab v ON v.word = m.word
    GROUP BY m.doc_id
    """,
    doc=f"OOV-rate filter vs the corpus vocabulary: top-{_OOV_VOCAB} words "
    "from the STAGED unigram table (q73's artifact — compose, don't "
    "recompute) taken distributed (TakeOrdered head, ties by word), "
    "broadcast-joined against the per-doc word melt; one per-doc "
    "aggregation with map-side combine. The vocab is broadcast-sized at "
    "any corpus scale.",
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    uni = _pmi_unigrams(spark, sf_dir)
    vocab = uni.orderBy(F.col("c1").desc(), F.col("word")).limit(_OOV_VOCAB).select("word")
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(D.normalize_text(F.col("text")), " ")
    melted = docs.select("doc_id", F.explode(words).alias("word"))
    flagged = melted.join(
        F.broadcast(vocab.withColumn("_inv", F.lit(1))), "word", "left"
    )
    oov = F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"), oov.alias("n_oov")
    )
    rate = F.round(F.col("n_oov").cast("double") / F.col("n_words").cast("double"), 4)
    return agg.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        rate.alias("oov_rate"),
        (rate <= F.lit(_OOV_MAX)).alias("keep"),
    )


# --------------------------------------------------------------------------
# q89 deterministic training-order shard assignment
# --------------------------------------------------------------------------
_SHARDS, _SHARD_SEED = 16, 7171


@register(
    "q89_shard_assignment",
    oracle=f"""
    SELECT doc_id,
           CAST({_h32('CAST(doc_id AS VARCHAR)', _SHARD_SEED)} % {_SHARDS}
                AS BIGINT) AS shard_id,
           md5('{_SHARD_SEED + 1}|' || CAST(doc_id AS VARCHAR)) AS sort_key
    FROM documents
    """,
    doc="Deterministic training-order assignment (operators/curation.py::"
    f"shard_assignment): hash-shard into {_SHARDS} shards + an independent "
    "hash sort key. Purely row-local; the order is never materialized as "
    "a rank (a per-shard row_number would funnel each shard through one "
    "window task at 100 TB) — writers sortWithinPartitions lazily.",
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return C.shard_assignment(docs, "doc_id", n_shards=_SHARDS, seed=_SHARD_SEED)


# --------------------------------------------------------------------------
# q90 training-set decontamination APPLY (the reverse of q51's detect)
# --------------------------------------------------------------------------
# q51 measures which BENCHMARK docs leak into training; the apply stage a
# pipeline actually runs is the reverse: drop TRAINING docs that contain
# benchmark content, so the eval stays valid. The benchmark shingle set
# is small by definition -> broadcast; the train side pays one doc-keyed
# aggregation with map-side combine.
_DECON_MAX = 0.2


@register(
    "q90_decontamination_apply",
    oracle=f"""
    WITH {_DOCS_CTE}, {_SHINGLES_CTE},
    bench_set AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id % {_CONTAM_MOD} = 0
    ),
    train AS (
        SELECT doc_id, shingle FROM shingles WHERE doc_id % {_CONTAM_MOD} <> 0
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bench_hits,
           ROUND(CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 4) AS bench_frac,
           CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) <= {_DECON_MAX} AS keep
    FROM train t LEFT JOIN bench_set b ON b.shingle = t.shingle
    GROUP BY t.doc_id
    """,
    doc="Decontamination APPLY: drop TRAINING docs whose word-3-shingle "
    f"overlap with the benchmark exceeds {_DECON_MAX} (q51 is the detect "
    "direction, benchmark->train; this is the keep/drop verdict the "
    "pipeline writes). Benchmark shingle set is small by definition -> "
    "broadcast left join + one doc-keyed agg with map-side combine; the "
    "training corpus shuffles only (doc_id, partial counts).",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    # the benchmark's distinct shingle set is the keys of the STAGED
    # benchmark count table shared with q51 — an eval set's index is a
    # fixed artifact a decontamination pipeline materializes once
    bench_set = _bench_shingle_counts(spark, sf_dir).select("shingle")
    train = sh.filter(F.col("doc_id") % _CONTAM_MOD != 0)
    marked = train.join(
        F.broadcast(bench_set.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_bench_hits"),
    )
    frac = F.col("n_bench_hits").cast("double") / F.col("n_shingles").cast("double")
    return agg.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_bench_hits").cast("bigint").alias("n_bench_hits"),
        F.round(frac, 4).alias("bench_frac"),
        (frac <= F.lit(_DECON_MAX)).alias("keep"),
    )


# --------------------------------------------------------------------------
# q91 embedding hygiene validation (pre-index data quality gate)
# --------------------------------------------------------------------------
# The validation pass every embedding pipeline runs before building an
# index: vector dimensionality, L2 norm, zero-vector detection. Bad rows
# (wrong dims, zero norm) poison cosine similarity silently. Row-local.
_EMB_DIMS = 64


@register(
    "q91_embedding_hygiene",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT vec_id,
           CAST(len(e) AS BIGINT)                         AS dims,
           ROUND(sqrt(list_dot_product(e, e)), 4)         AS l2_norm,
           sqrt(list_dot_product(e, e)) = 0               AS is_zero,
           len(e) = {_EMB_DIMS}
               AND sqrt(list_dot_product(e, e)) > 0       AS valid
    FROM v
    """,
    doc="Embedding hygiene gate (pre-index validation): dims, L2 norm, "
    "zero-vector flag, overall validity — row-local array arithmetic, "
    "zero shuffle; the cheap pass that keeps silent cosine poison "
    "(zero or truncated vectors) out of q35/q36/q49's indexes.",
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(
        F.zip_with(e, e, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))
    df = emb.select(
        "vec_id",
        F.size(e).cast("bigint").alias("dims"),
        norm.alias("_norm"),
    )
    return df.select(
        "vec_id",
        "dims",
        F.round("_norm", 4).alias("l2_norm"),
        (F.col("_norm") == 0).alias("is_zero"),
        ((F.col("dims") == _EMB_DIMS) & (F.col("_norm") > 0)).alias("valid"),
    )


# --------------------------------------------------------------------------
# q92 boilerplate-sentence removal (q86's APPLY stage)
# --------------------------------------------------------------------------
# q86 profiles sentence-level duplication; this is the rewrite a pipeline
# actually ships: strip sentences whose digest appears in >= 2 distinct
# docs (nav chrome, legal footers, syndication banners), keep everything
# else in order, emit the cleaned text.
@register(
    "q92_boilerplate_removal",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id,
               string_split_regex(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   '\\. ') AS sents
        FROM documents
    ),
    melted AS (
        SELECT doc_id, i AS pos, sents[i] AS s
        FROM norm, UNNEST(range(1, len(sents) + 1)) AS t(i)
    ),
    freq AS (
        SELECT md5(s) AS sd, COUNT(DISTINCT doc_id) AS n_docs_with
        FROM melted WHERE LENGTH(s) >= {_SENT_MIN_LEN}
        GROUP BY md5(s)
    ),
    flagged AS (
        SELECT m.doc_id, m.pos, m.s,
               (LENGTH(m.s) >= {_SENT_MIN_LEN}
                AND COALESCE(f.n_docs_with, 0) >= 2) AS drop_it
        FROM melted m LEFT JOIN freq f ON f.sd = md5(m.s)
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN drop_it THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN drop_it THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           COALESCE(string_agg(CASE WHEN NOT drop_it THEN s END,
                               '. ' ORDER BY pos), '') AS clean_text
    FROM flagged
    GROUP BY doc_id
    """,
    doc="Boilerplate-sentence removal — the APPLY stage of q86's profile: "
    "sentences (normalized, split '. ') whose digest occurs in >= 2 "
    f"distinct docs and length >= {_SENT_MIN_LEN} are stripped; the doc is "
    "rebuilt in order from the survivors. Digest doc-frequency table "
    "joins back on 16-byte hashes; reconstruction is a per-doc "
    "collect_list of (pos, sentence) — bounded by one document's "
    "sentence count, never a corpus-wide window.",
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    sents = F.split(D.normalize_text(F.col("text")), r"\. ")
    melted = docs.select(
        "doc_id", F.posexplode(sents).alias("pos", "s")
    )
    # boilerplate digests come from the STAGED doc-frequency artifact
    # shared with q86 (built once per corpus) — this plan pays one
    # digest join, not its own melt+distinct+aggregate subtree
    freq = _sent_digest_df(spark, sf_dir).where(F.col("n_docs_with") >= 2)
    flagged = melted.withColumn("sd", F.md5("s")).join(
        freq.withColumn("_bp", F.lit(1)), "sd", "left"
    ).select(
        "doc_id",
        "pos",
        "s",
        (
            (F.length("s") >= _SENT_MIN_LEN) & F.col("_bp").isNotNull()
        ).alias("drop_it"),
    )
    agg = flagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("drop_it"), 0).otherwise(1)).alias("n_kept"),
        F.sum(F.when(F.col("drop_it"), 1).otherwise(0)).alias("n_dropped"),
        F.array_sort(
            F.collect_list(
                F.when(~F.col("drop_it"), F.struct("pos", "s"))
            )
        ).alias("_kept"),
    )
    return agg.select(
        "doc_id",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.coalesce(
            F.array_join(F.transform("_kept", lambda x: x["s"]), ". "),
            F.lit(""),
        ).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# q93 near-dup cluster-size histogram (dedup pipeline observability)
# --------------------------------------------------------------------------
# The health metric a dedup pipeline dashboards: how big do near-dup
# clusters get? A fat tail means template spam (one cluster swallowing
# thousands of docs) and predicts skew in every cluster-keyed stage.
# Serves from the STAGED cluster-assignment table (q50's artifact).
@register(
    "q93_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_lsh_pair_ctes()},
    sym AS (
        SELECT id_a AS s, id_b AS t FROM verified
        UNION
        SELECT id_b, id_a FROM verified
    ),
    walk(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT w.id, e.t FROM walk w JOIN sym e ON e.s = w.r
    ),
    cc AS (SELECT id, MIN(r) AS component FROM walk GROUP BY id),
    csizes AS (SELECT component, COUNT(*) AS csize FROM cc GROUP BY component)
    SELECT CAST(csize AS BIGINT)    AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM csizes GROUP BY csize
    """,
    doc="Near-dup cluster-size histogram — dedup observability: two "
    "metadata-scale aggregations over the STAGED cluster-assignment "
    "table (q50's artifact; compose, don't recompute). A fat tail here "
    "is the early warning for template spam and for skew in any "
    "cluster-keyed downstream stage.",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _components(spark, sf_dir)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy("csize").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        F.col("csize").cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
    )


# --------------------------------------------------------------------------
# q94 per-source dedup audit (what did exact dedup cost each feed?)
# --------------------------------------------------------------------------
# The accounting view next to q31: per source, how many docs and how
# much text does exact dedup remove? Sources with high dup rates are
# re-crawl/feed-configuration bugs; this is the report that finds them.
@register(
    "q94_dedup_audit",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, n_chars,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
        FROM documents
    ),
    k AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id = k.keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN d.doc_id = k.keep_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.doc_id = k.keep_id THEN 0 ELSE d.n_chars END)
                AS BIGINT) AS chars_dropped,
           ROUND(CAST(SUM(CASE WHEN d.doc_id = k.keep_id THEN 0 ELSE 1 END)
                 AS DOUBLE) / COUNT(*), 4) AS dup_rate
    FROM d JOIN k ON k.h = d.h
    GROUP BY d.source
    """,
    doc="Per-source exact-dedup audit: docs/chars removed by q31's "
    "min-id-keeper rule, grouped by feed. Digest keeper table joins "
    "back on 16-byte hashes (bodies never shuffle); one source-keyed "
    "aggregation. High dup_rate per source = a re-crawl or feed bug — "
    "the report that catches it before 100 TB of duplicates land.",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", "n_chars",
        D.content_hash(F.col("text")).alias("h"),
    )
    # keeper via a digest-partitioned window (partitions = dup-group
    # sizes, bounded): ONE shuffle and one md5 pass, vs the
    # groupBy+join-back shape that scans and hashes the corpus twice
    j = d.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("h"))
    )
    kept = F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0)
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.sum(1 - kept).alias("n_dropped"),
        F.sum(F.when(F.col("doc_id") == F.col("keep_id"), 0).otherwise(
            F.col("n_chars"))).alias("chars_dropped"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.col("chars_dropped").cast("bigint").alias("chars_dropped"),
        F.round(
            F.col("n_dropped").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# q95 BPE merge induction (tokenizer-training primitive)
# --------------------------------------------------------------------------
# ROUND 9: upgraded from first-round pair ranking to TRUE ITERATIVE
# induction (the round-8 verdict's ask): pair frequencies are
# RE-COUNTED after every merge, so the table matches what the
# subword-nmt / GPT-2 trainer loop produces (merge t sees the symbols
# merges 1..t-1 created). The corpus is still touched once; the T-round
# re-count loop is vocab-scale (operators/textual.py::bpe_learn_merges,
# driver-coordinated like pagerank). The oracle unrolls the same loop
# into a T-stage CTE chain with the identical pinned tie-break.
_BPE_TOP = 30

_BPE_VOCAB_CTE = """vocab AS MATERIALIZED (
        SELECT word, COUNT(*) AS wc
        FROM (SELECT unnest(words) AS word FROM docs)
        WHERE word <> ''
        GROUP BY word
    )"""


def _bpe_iter_merge_ctes(n: int) -> str:
    """CTE chain for TRUE iterative BPE induction, unrolled to ``n``
    rounds (mirrors operators/textual.py::bpe_learn_merges): v0 melts
    the vocab into sentinel symbol strings; round t re-counts adjacent
    pairs over the MERGED vocab (p{t}), takes the argmax under the
    pinned tie-break (b{t}: count DESC, then s1/s2 ASC — binary
    collation both engines), and applies the merge as one left-to-right
    non-overlapping replace (v{t}). An exhausted vocab empties b{t} and
    the cross join poisons every later stage to empty — exactly the
    Spark loop's break. ``merges`` = union of the b's, rnk = merge
    order."""
    sep = "chr(1)"
    # every stage is MATERIALIZED: DuckDB inlines CTEs by default, and
    # with v{t-1} referenced twice per round the inlined tree doubles
    # every stage - 2^n scans of the parquet leaf ("too many open
    # files" at n=30). Materialization keeps the chain linear.
    parts = [
        f"""v0 AS MATERIALIZED (
        SELECT {sep} || array_to_string(string_split(word, ''), {sep} || {sep})
               || {sep} || {sep} || '</w>' || {sep} AS v, wc
        FROM vocab
    )"""
    ]
    for t in range(1, n + 1):
        parts.append(
            f"""p{t} AS MATERIALIZED (
        SELECT sy[i] AS s1, sy[i + 1] AS s2, SUM(wc) AS c
        FROM (SELECT wc,
                     string_split(v[2 : length(v) - 1], {sep} || {sep}) AS sy
              FROM v{t - 1}),
             UNNEST(range(1, len(sy))) AS u(i)
        GROUP BY 1, 2
    ),
    b{t} AS MATERIALIZED (SELECT {t} AS rnk, s1, s2, c FROM p{t}
             ORDER BY c DESC, s1, s2 LIMIT 1),
    v{t} AS MATERIALIZED (SELECT replace(w.v,
                            {sep} || b.s1 || {sep} || {sep} || b.s2 || {sep},
                            {sep} || b.s1 || b.s2 || {sep}) AS v, w.wc
             FROM v{t - 1} w, b{t} b)"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT rnk, s1, s2, c FROM b{t}" for t in range(1, n + 1)
    )
    parts.append(f"""merges AS MATERIALIZED (
        {union}
    )""")
    return ",\n    ".join(parts)


_BPE_ITER_CTES = _bpe_iter_merge_ctes(_BPE_TOP)


@register(
    "q95_bpe_merges",
    oracle=f"""
    WITH {_DOCS_CTE},
    {_BPE_VOCAB_CTE},
    {_BPE_ITER_CTES}
    SELECT CAST(rnk AS BIGINT) AS merge_rank, s1, s2,
           CAST(c AS BIGINT) AS pair_count
    FROM merges
    ORDER BY merge_rank
    """,
    doc="TRUE iterative BPE merge induction (operators/textual.py::"
    "bpe_learn_merges — Sennrich et al. 2016): pair frequencies are "
    "re-counted after every accepted merge, so merge t is chosen over "
    "the symbols merges 1..t-1 created (subword-nmt/GPT-2 trainer "
    "semantics), not first-round counts. Corpus touched once (word-"
    "count hash-agg); the T-round argmax loop is vocab-scale and "
    "driver-coordinated like pagerank. pair_count is the frequency AT "
    "merge time. Tie-break pinned: count DESC, then (s1, s2) ASC.",
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _bpe_merge_table(spark, sf_dir),
        "merge_rank bigint, s1 string, s2 string, pair_count bigint",
    )


# --------------------------------------------------------------------------
# q96 semantic decontamination (embedding-space eval-leak scrub)
# --------------------------------------------------------------------------
# q51/q90 catch verbatim n-gram overlap; paraphrased benchmark rewrites
# evade shingles but not embeddings. The benchmark is a FIXED id range,
# not a modulo slice: an eval set has constant size while the corpus
# grows, and the pairwise stage must stay O(corpus x |bench|) with
# |bench| constant — a modulo benchmark would grow with the corpus and
# turn the probe quadratic (measured: 11.4x wall at 16x data; fixed
# range restores linear).
_SEMDECON_NBENCH, _SEMDECON_TAU = 100, 0.40


@register(
    "q96_semantic_decontamination",
    oracle=f"""
    WITH b AS (
        SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS rv
        FROM embeddings WHERE vec_id < {_SEMDECON_NBENCH}
    ),
    t AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id >= {_SEMDECON_NBENCH}
    ),
    sims AS (
        -- zero-norm guard mirrors max_sim_to_reference: degenerate
        -- vectors score 0.0, never NULL/NaN
        SELECT t.vec_id, b.rid,
               ROUND(CASE WHEN list_dot_product(cv, cv) > 0
                           AND list_dot_product(rv, rv) > 0
                     THEN list_dot_product(cv, rv)
                          / (sqrt(list_dot_product(cv, cv))
                             * sqrt(list_dot_product(rv, rv)))
                     ELSE 0.0 END, 4) AS sim
        FROM t, b
    ),
    m AS (SELECT vec_id, MAX(sim) AS max_sim FROM sims GROUP BY vec_id)
    SELECT m.vec_id,
           CAST(MIN(s.rid) AS BIGINT)  AS nn_ref_id,
           m.max_sim                   AS max_sim,
           m.max_sim < {_SEMDECON_TAU} AS keep
    FROM m JOIN sims s ON s.vec_id = m.vec_id AND s.sim = m.max_sim
    GROUP BY m.vec_id, m.max_sim
    """,
    doc="Semantic decontamination (operators/similarity.py::"
    f"max_sim_to_reference): max cosine similarity of every training "
    f"vector to the fixed benchmark set (vec_id < {_SEMDECON_NBENCH}), "
    "argmax benchmark id, and a keep verdict below "
    f"{_SEMDECON_TAU} — the embedding-space complement of q90's "
    "n-gram decontamination (paraphrases evade shingles). Benchmark "
    "side broadcast, corpus scanned once, norms below the exchange "
    "barrier, id-keyed struct-max agg; similarity rounded to 4dp "
    "before the argmax, ties to the smallest benchmark id.",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < _SEMDECON_NBENCH)
    train = emb.filter(F.col("vec_id") >= _SEMDECON_NBENCH)
    return S.max_sim_to_reference(
        train, bench, "vec_id", "embedding", threshold=_SEMDECON_TAU
    )


# --------------------------------------------------------------------------
# q97 host-graph PageRank (crawl-source quality ranking)
# --------------------------------------------------------------------------
# NEW post-r7-window (same parking as q95/q96 — first driver row r8+).
# The host-level link-graph ranking a crawl pipeline feeds into source
# weighting (the public Common-Crawl host rank; CCNet/RefinedWeb keep
# "head" hosts). The graph fixture is derived deterministically from the
# corpus: every doc lives on host (doc_id % 48) and links to 3 hosts
# hashed into a LARGER 64-host space, so hosts 48-63 appear only as link
# TARGETS — real dangling nodes, putting the dangling-mass
# redistribution path under the oracle, not just under pytest.
_PR_SRC_HOSTS, _PR_HOSTS, _PR_LINKS = 48, 64, 3
_PR_SEED, _PR_ITER, _PR_DAMP = 9731, 5, 0.85


def _q97_oracle() -> str:
    d = _PR_DAMP
    link_expr = "doc_id::VARCHAR || ':' || j::VARCHAR"
    dst = f"({_h32(link_expr, _PR_SEED)} % {_PR_HOSTS})"
    links = ", ".join(str(j) for j in range(1, _PR_LINKS + 1))
    parts = [
        f"""
    WITH raw AS (
        SELECT CAST(doc_id % {_PR_SRC_HOSTS} AS BIGINT) AS s,
               CAST({dst} AS BIGINT) AS t
        FROM documents, UNNEST([{links}]) AS l(j)
    ),
    edges AS (SELECT DISTINCT s, t FROM raw WHERE s <> t),
    nodes AS (SELECT s AS id FROM edges UNION SELECT t FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT s, COUNT(*) AS outdeg FROM edges GROUP BY s),
    wedges AS (
        SELECT e.s, e.t, CAST(1.0 AS DOUBLE) / g.outdeg AS w
        FROM edges e JOIN deg g ON g.s = e.s
    ),
    dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT s FROM deg)),
    r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for k in range(_PR_ITER):
        parts.append(f""",
    d{k} AS (
        SELECT COALESCE(SUM(rank), 0) AS dm FROM r{k}
        WHERE id IN (SELECT id FROM dang)
    ),
    r{k + 1} AS (
        SELECT nd.id,
               (CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM nn)
               + {d} * (COALESCE(c.contrib, 0)
                        + (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank
        FROM nodes nd
        LEFT JOIN (
            SELECT e.t AS id, SUM(r.rank * e.w) AS contrib
            FROM wedges e JOIN r{k} r ON r.id = e.s
            GROUP BY e.t
        ) c ON c.id = nd.id
    )""")
    parts.append(f"""
    SELECT id AS host_id, ROUND(rank, 6) AS pagerank
    FROM r{_PR_ITER}
    ORDER BY pagerank DESC, host_id""")
    return "".join(parts)


@register(
    "q97_host_pagerank",
    oracle=_q97_oracle(),
    doc="Host-graph PageRank (operators/graph.py::pagerank): "
    f"{_PR_ITER} damped rounds (d={_PR_DAMP}) with uniform teleport and "
    "dangling-mass redistribution over the deterministic host link "
    f"graph (src = doc_id % {_PR_SRC_HOSTS}, {_PR_LINKS} hashed targets "
    f"in a {_PR_HOSTS}-host space — hosts {_PR_SRC_HOSTS}+ are real "
    "dangling leaves). Per round: one hash join + one dst-keyed "
    "groupBy-sum, lineage truncated per round; only per-round scalars "
    "reach the driver. The crawl-curation source-quality signal "
    "(Common-Crawl host ranking) feeding q62-style source weighting.",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    link_cols = F.array(
        *[
            (
                D.hash32(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.lit(str(j))
                    ),
                    _PR_SEED,
                )
                % _PR_HOSTS
            ).cast("bigint")
            for j in range(1, _PR_LINKS + 1)
        ]
    )
    edges = (
        spread(docs, "doc_id")
        .select(
            (F.col("doc_id") % _PR_SRC_HOSTS).cast("bigint").alias("src"),
            F.explode(link_cols).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ranks = G.pagerank(
        edges, "src", "dst", iterations=_PR_ITER, damping=_PR_DAMP
    )
    return ranks.select(
        F.col("id").cast("bigint").alias("host_id"),
        F.round("rank", 6).alias("pagerank"),
    ).orderBy(F.desc("pagerank"), "host_id")


# --------------------------------------------------------------------------
# q98 DSIR importance weighting (targeted data selection)
# --------------------------------------------------------------------------
# Same post-window parking as q95-q97. Data Selection with Importance
# Resampling (Xie et al., NeurIPS 2023): the target "domain exemplar"
# sample is doc_id % 7 == 0; every raw-pool doc gets the add-one-smoothed
# hashed-ngram log-likelihood ratio of target vs raw. The ratio table is
# a STAGED artifact (1024 rows — broadcast-sized at any corpus scale,
# refit only when the target changes); scoring is one raw-pool pass.
_DSIR_MOD = 7


@artifact
def _dsir_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged bucket -> log_ratio table (persisted)."""
    docs = read_table(spark, sf_dir, "documents")
    return _persisted(
        T.dsir_log_ratio_table(
            spread(docs, "doc_id"),
            "text",
            F.col("doc_id") % _DSIR_MOD == 0,
        )
    )


def _q98_oracle() -> str:
    B, seed, mod = T.DSIR_BUCKETS, T.DSIR_SEED, _DSIR_MOD
    bucket = f"({_h32('g', seed)} % {B})"
    return f"""
    WITH {_DOCS_CTE},
    grams AS (
        SELECT doc_id, words[i] AS g
        FROM docs, UNNEST(range(1, len(words) + 1)) AS t(i)
        UNION ALL
        SELECT doc_id, words[i] || ' ' || words[i + 1] AS g
        FROM docs, UNNEST(range(1, len(words))) AS t(i)
    ),
    gb AS (SELECT doc_id, {bucket} AS bucket FROM grams),
    dist AS (
        SELECT bucket,
               SUM(CASE WHEN doc_id % {mod} = 0 THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN doc_id % {mod} <> 0 THEN 1 ELSE 0 END) AS cr
        FROM gb GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(ct) AS DOUBLE) AS t, CAST(SUM(cr) AS DOUBLE) AS r
        FROM dist
    ),
    lr AS (
        SELECT bucket,
               ln((ct + CAST(1.0 AS DOUBLE)) / (t + {B}))
               - ln((cr + CAST(1.0 AS DOUBLE)) / (r + {B})) AS log_ratio
        FROM dist, tot
    ),
    scored AS (
        SELECT gb.doc_id,
               CAST(COUNT(*) AS BIGINT)      AS n_grams,
               ROUND(SUM(lr.log_ratio), 4)   AS dsir_logweight
        FROM gb JOIN lr USING (bucket)
        WHERE gb.doc_id % {mod} <> 0
        GROUP BY gb.doc_id
    )
    SELECT doc_id, n_grams, dsir_logweight,
           dsir_logweight > 0 AS keep
    FROM scored
    """


@register(
    "q98_dsir_importance",
    oracle=_q98_oracle(),
    doc="DSIR importance weighting (operators/textual.py::"
    "dsir_importance, Xie et al. NeurIPS 2023): hashed uni+bigram "
    f"bag-of-words distributions fit over the target exemplar slice "
    f"(doc_id % {_DSIR_MOD} == 0) vs the raw pool, add-one smoothed; "
    "every raw doc scored by its summed log-likelihood ratio, "
    "keep = more target-like than raw-like. The ratio table is a "
    f"staged {T.DSIR_BUCKETS}-row broadcast artifact; scoring is one "
    "raw-pool pass (explode -> broadcast join -> doc-keyed partial "
    "agg). Weight rounded to 4dp before the keep comparison on both "
    "engines.",
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.dsir_importance(
        docs,
        "doc_id",
        "text",
        F.col("doc_id") % _DSIR_MOD == 0,
        ratio_table=_dsir_ratio(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# q99 per-source snapshot drift (unigram-distribution JS divergence)
# --------------------------------------------------------------------------
# Same post-window parking as q95-q98. q72 reports WHICH documents
# changed between snapshots; this reports whether each source's LANGUAGE
# changed — JS divergence between the two snapshot halves' unigram
# distributions (doc_id parity stands in for consecutive crawls), the
# drift alarm that triggers a sampling-weight review before the next
# training run.


# Staged (source, word) split-count table — ONE corpus melt serving both
# distribution reports (q99 drift, q100 salient terms): the
# compose-don't-recompute discipline (q88/q73, q93/q50).
@artifact
def _swc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return _persisted(
        T.split_word_counts(
            spread(docs, "doc_id"), "source", "text", F.col("doc_id") % 2 == 0
        )
    )


@register(
    "q99_snapshot_drift",
    oracle=f"""
    WITH {_DOCS_CTE},
    words AS (
        SELECT t.source, d.doc_id % 2 = 0 AS a, unnest(d.words) AS w
        FROM docs d JOIN documents t USING (doc_id)
    ),
    counts AS (
        SELECT source, w,
               SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb
        FROM words GROUP BY source, w
    ),
    totals AS (
        SELECT source, SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS v
        FROM counts GROUP BY source
    ),
    terms AS (
        SELECT c.source,
               (c.ca + 1.0) / (t.ta + t.v) AS p,
               (c.cb + 1.0) / (t.tb + t.v) AS q
        FROM counts c JOIN totals t USING (source)
    ),
    js AS (
        SELECT source,
               ROUND(SUM(0.5 * p * ln(p / ((p + q) / 2.0))
                         + 0.5 * q * ln(q / ((p + q) / 2.0))), 6)
                   AS js_divergence
        FROM terms GROUP BY source
    )
    SELECT t.source,
           CAST(t.v AS BIGINT)  AS n_vocab,
           CAST(t.ta AS BIGINT) AS n_a,
           CAST(t.tb AS BIGINT) AS n_b,
           js.js_divergence
    FROM totals t JOIN js USING (source)
    ORDER BY t.source
    """,
    doc="Per-source snapshot drift (operators/textual.py::"
    "unigram_js_drift): Jensen-Shannon divergence between the unigram "
    "distributions of two snapshot halves (doc_id parity), add-one "
    "smoothed over each source's union vocabulary so both sides are "
    "true distributions and JS lands in [0, ln 2]. One corpus pass to "
    "(source, word) counts with map-side combine; everything after is "
    "vocab-scale with a broadcast totals join. The language-drift "
    "complement of q72's membership diff.",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.unigram_js_drift(
        spread(docs, "doc_id"),
        "source",
        "text",
        F.col("doc_id") % 2 == 0,
        counts=_swc_counts(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# q100 per-source salient terms (TF-IDF topic report)
# --------------------------------------------------------------------------
# Same post-window parking as q95-q99. The topic observability report
# next to q99's drift NUMBER: which terms distinguish each source (IDF
# across sources — a term every feed uses scores exactly 0). Served from
# the same staged (source, word) count table as q99.
_SALIENT_TOP = 5


@register(
    "q100_salient_terms",
    oracle=f"""
    WITH {_DOCS_CTE},
    words AS (
        SELECT t.source, unnest(d.words) AS w
        FROM docs d JOIN documents t USING (doc_id)
    ),
    tf AS (SELECT source, w, COUNT(*) AS tf FROM words GROUP BY source, w),
    dfw AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    ng AS (SELECT COUNT(DISTINCT source) AS ng FROM tf),
    scored AS (
        SELECT tf.source, tf.w AS term, tf.tf, dfw.df,
               ROUND(tf.tf * ln(CAST(ng.ng AS DOUBLE) / CAST(dfw.df AS DOUBLE)), 4)
                   AS tfidf
        FROM tf JOIN dfw USING (w) CROSS JOIN ng
    ),
    r AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY tfidf DESC, term
               ) AS rank
        FROM scored
    )
    SELECT source, term,
           CAST(tf AS BIGINT)   AS tf,
           CAST(df AS BIGINT)   AS n_groups_with_term,
           tfidf,
           CAST(rank AS INT)    AS rank
    FROM r WHERE rank <= {_SALIENT_TOP}
    ORDER BY source, rank
    """,
    doc="Per-source salient terms (operators/textual.py::salient_terms): "
    f"top-{_SALIENT_TOP} terms per source by TF-IDF with IDF taken "
    "across SOURCES, so universally-shared terms score exactly 0 and "
    "each feed's list shows what distinguishes it — the topic report "
    "behind q99's drift number. Serves from the same staged "
    "(source, word) count artifact as q99 (one corpus melt for both); "
    "everything downstream is vocab-scale, the rank window is "
    "source-partitioned (never a global sort), ties rank by term, and "
    "the rank compares the ROUNDED score so both engines order "
    "identically.",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.salient_terms(
        _swc_counts(spark, sf_dir), "source", top_n=_SALIENT_TOP
    )


# --------------------------------------------------------------------------
# q101 semantic near-dup vs history (SRP band registry probe)
# --------------------------------------------------------------------------
# Completes the cross-snapshot dedup matrix: q67 probes an exact-digest
# registry, q82 a lexical MinHash band registry, q96 a FIXED benchmark
# set — this probes the accumulated SEMANTIC history: a new snapshot's
# embeddings against the SRP band-signature registry of everything
# already ingested. History vectors are never rescanned (the registry is
# ~20-byte (band_id, small-int) rows), so the paraphrase-level analog of
# q82's probe stays O(batch) per snapshot.
_SEMREG_PLANES, _SEMREG_BANDS = 15, 3

# STAGED SRP band table: the semantic registry is PERSISTENT pipeline
# state (the examples materialize it as the srp_registry table), so the
# serve path probes materialized ~20-byte band rows instead of deriving
# the 15-plane signature subtree three times (registry side, batch side,
# and the probe's id spine) inside one plan — the same artifact
# discipline as q82's staged shingle index.
@artifact
def _srp_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.srp_band_buckets(
        spread(emb, "vec_id"),
        "vec_id",
        "embedding",
        n_planes=_SEMREG_PLANES,
        bands=_SEMREG_BANDS,
    ).localCheckpoint(eager=True)


@artifact
def _srp_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPACTED history registry: distinct (band_id, band_hash)
    keys of the non-batch slice, materialized — what registry-compact
    maintains on disk in the example pipelines, so the serve probe
    skips the defensive per-probe dedup stage."""
    return (
        _srp_bands(spark, sf_dir)
        .filter(F.col("vec_id") % 3 != 0)
        .select("band_id", "band_hash")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _q101_oracle() -> str:
    n, bands = _SEMREG_PLANES, _SEMREG_BANDS
    r = n // bands
    plane = lambda p: (
        "[" + ", ".join(repr(c) for c in S.plane_components(p, 64)) + "]"
    )
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n)
    )
    band_ids = ", ".join(str(b) for b in range(bands))
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    sig AS (SELECT vec_id, CAST({bucket} AS BIGINT) AS s FROM v),
    bands AS (
        SELECT vec_id, b.band_id,
               CAST((s >> (b.band_id * {r})) & {(1 << r) - 1} AS BIGINT)
                   AS band_hash
        FROM sig, (SELECT UNNEST([{band_ids}]) AS band_id) b
    ),
    reg AS (
        SELECT DISTINCT band_id, band_hash FROM bands WHERE vec_id % 3 <> 0
    ),
    batch AS (SELECT * FROM bands WHERE vec_id % 3 = 0),
    hits AS (
        SELECT b.vec_id, COUNT(*) AS n_hit_bands
        FROM batch b JOIN reg r USING (band_id, band_hash)
        GROUP BY b.vec_id
    )
    SELECT d.vec_id,
           CAST(COALESCE(h.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
           (h.vec_id IS NOT NULL) AS hist_neardup
    FROM (SELECT DISTINCT vec_id FROM batch) d
    LEFT JOIN hits h USING (vec_id)
    """


@register(
    "q101_semantic_neardup_history",
    oracle=_q101_oracle(),
    doc="Cross-snapshot SEMANTIC near-dedup (operators/similarity.py::"
    "srp_band_buckets + operators/dedup.py::incremental_neardup_flags): "
    "the new batch (vec_id % 3 == 0) probes the SRP band-signature "
    f"registry of all ingested history ({_SEMREG_PLANES} md5-derived "
    f"hyperplanes split into {_SEMREG_BANDS} bands — cosine 0.9 collides "
    "~84%, orthogonal ~9%). One semi-join of ~20-byte band rows + an "
    "id-keyed count; history VECTORS are never rescanned — q82's "
    "registry contract lifted to embedding space (paraphrases evade "
    "MinHash shingles but not their embeddings).",
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = _srp_bands(spark, sf_dir).filter(F.col("vec_id") % 3 == 0)
    registry = _srp_registry(spark, sf_dir)
    return D.incremental_neardup_flags(
        batch, registry, "vec_id", registry_distinct=True
    )


# --------------------------------------------------------------------------
# q102 BPE encode (the q95 APPLY stage: merge table -> tokenized docs)
# --------------------------------------------------------------------------
# q95 induces the merge table; q102 applies it to encode the corpus —
# closing the train/apply pair like q86 (detect) -> q92 (apply) did for
# sentence dedup. The merge table is tokenizer-vocab metadata (top-30
# pairs here; a few thousand in production): induced ONCE per corpus by
# the iterative trainer loop (like the IVF centroids build) and unrolled
# into nested StringReplace literals, so encoding is a single
# whole-stage-codegen projection — no explode, no shuffle, no Python.
@artifact
def _bpe_merge_table(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """Staged iterative merge table (merge_rank, s1, s2, pair_count):
    q95's trainer-loop output, cached per corpus (30 tuples —
    vocabulary metadata, not data)."""
    docs = read_table(spark, sf_dir, "documents")
    return T.bpe_learn_merges(docs, "doc_id", "text", n_merges=_BPE_TOP)


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """The staged merge table as apply-ready (s1, s2) pairs in rank order."""
    return [(s1, s2) for _, s1, s2, _ in _bpe_merge_table(spark, sf_dir)]


def _q102_oracle() -> str:
    """Mirror: induce the SAME iterative merge table (q95's unrolled
    trainer-loop CTE chain), build the SAME sentinel symbol string per
    doc, then apply merges rank-by-rank with a recursive CTE — one
    replace() per step, the identical greedy left-to-right scan Spark's
    StringReplace does."""
    sep = "chr(1)"
    return f"""
    WITH RECURSIVE {_DOCS_CTE},
    {_BPE_VOCAB_CTE},
    {_BPE_ITER_CTES},
    base AS (
        SELECT doc_id,
               replace(regexp_replace(norm, '(.)', {sep} || '\\1' || {sep}, 'g'),
                       {sep} || ' ' || {sep},
                       {sep} || '</w>' || {sep}) || {sep} || '</w>' || {sep} AS s
        FROM (SELECT doc_id, norm FROM docs
              JOIN documents USING (doc_id) WHERE text IS NOT NULL) b
    ),
    enc(doc_id, s, step) AS (
        SELECT doc_id, s, 0 FROM base
        UNION ALL
        SELECT e.doc_id,
               replace(e.s, {sep} || m.s1 || {sep} || {sep} || m.s2 || {sep},
                       {sep} || m.s1 || m.s2 || {sep}),
               e.step + 1
        FROM enc e JOIN merges m ON m.rnk = e.step + 1
    ),
    fin AS (SELECT doc_id, s FROM enc
            WHERE step = (SELECT COUNT(*) FROM merges)),
    n AS (
        SELECT b.doc_id,
               (length(b.s) - length(replace(b.s, {sep}, ''))) // 2 AS n_symbols,
               (length(f.s) - length(replace(f.s, {sep}, ''))) // 2 AS n_tokens,
               array_to_string(
                   list_filter(list_slice(string_split(f.s, {sep}), 2, 17),
                               x -> x <> ''), ' '
               ) AS token_preview
        FROM base b JOIN fin f ON f.doc_id = b.doc_id
    )
    SELECT doc_id,
           CAST(n_symbols AS BIGINT) AS n_symbols,
           CAST(n_tokens AS BIGINT)  AS n_tokens,
           token_preview,
           CAST(n_symbols - n_tokens AS BIGINT) AS n_merged
    FROM n
    """


@register(
    "q102_bpe_encode",
    oracle=_q102_oracle(),
    doc="BPE merge APPLICATION (operators/textual.py::bpe_encode): "
    f"encode every document with the corpus' own q95-induced top-{_BPE_TOP} "
    "merge table. Per doc: pre-merge symbol count, post-merge token "
    "count, merges landed, and the first 8 tokens as a value witness. "
    "The merge table is driver-collected vocab metadata unrolled into "
    "nested codegen'd StringReplace literals — encode itself is one "
    "shuffle-free projection, embarrassingly parallel at 100 TB.",
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    return T.bpe_encode(
        spread(docs, "doc_id"), "doc_id", "text", merges, preview_n=8
    )


# --------------------------------------------------------------------------
# q103 duplicated-span removal (the q74 APPLY stage, keep-first)
# --------------------------------------------------------------------------
# q74 detects cross-doc duplicated spans, q78 measures their coverage;
# q103 strips the non-keeper occurrences and rebuilds the docs — the
# Lee et al. removal step, completing the detect/measure/apply triad
# like q86 -> q78-analog -> q92 did for sentence dedup. Serves from the
# STAGED span table (q74's artifact; compose, don't recompute).


@register(
    "q103_span_removal",
    oracle=f"""
    WITH {_DOCS_CTE},
    anch AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(words[i : i + {_SPAN_K - 1}], ' ') AS anchor
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_SPAN_K - 1}, 0) + 1)) AS t(i)
    ),
    keep AS (
        SELECT anchor FROM anch
        GROUP BY anchor HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAXPOST}
    ),
    p AS (SELECT a.* FROM anch a JOIN keep USING (anchor)),
    m AS (
        SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b,
               p1.pos AS pos_a, p2.pos AS pos_b,
               p1.pos - p2.pos AS diff
        FROM p p1
        JOIN p p2 ON p1.anchor = p2.anchor AND p1.doc_id < p2.doc_id
    ),
    spi AS (
        SELECT *,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, diff ORDER BY pos_a) AS grp
        FROM m
    ),
    spans AS (
        SELECT doc_a, doc_b,
               MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
               MAX(pos_a) - MIN(pos_a) + {_SPAN_K} AS span_len
        FROM spi GROUP BY doc_a, doc_b, diff, grp
        HAVING MAX(pos_a) - MIN(pos_a) + {_SPAN_K} >= {_SPAN_MIN}
    ),
    -- keep-first: removal intervals are the b-side (non-keeper)
    -- occurrences only; DISTINCT so (s, e) totally orders each doc's
    -- rows (q78's island-merge discipline)
    iv AS (
        SELECT DISTINCT doc_b AS doc_id, b_start AS s,
               b_start + span_len AS e
        FROM spans
    ),
    fl AS (
        SELECT doc_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS f
        FROM iv
    ),
    isl AS (
        SELECT *, SUM(f) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS UNBOUNDED PRECEDING) AS g
        FROM fl
    ),
    merged AS (
        SELECT doc_id, g, MIN(s) AS mn, MAX(e) AS mx
        FROM isl GROUP BY doc_id, g
    ),
    posw AS (
        SELECT d.doc_id, CAST(t.i AS BIGINT) AS pos, d.words[t.i] AS w
        FROM docs d, UNNEST(range(1, len(d.words) + 1)) AS t(i)
        WHERE d.norm IS NOT NULL
    ),
    kept AS (
        SELECT k.doc_id, k.pos, k.w
        FROM posw k
        WHERE NOT EXISTS (
            SELECT 1 FROM merged mm
            WHERE mm.doc_id = k.doc_id AND k.pos >= mm.mn AND k.pos < mm.mx
        )
    ),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(w, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.words) AS BIGINT)                       AS n_words,
           CAST(len(d.words) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.clean_text, '')                         AS clean_text
    FROM docs d LEFT JOIN reb r ON r.doc_id = d.doc_id
    WHERE d.norm IS NOT NULL
    """,
    doc="Duplicated-span removal (operators/dedup.py::"
    "remove_duplicate_spans): strip the NON-keeper (higher doc_id) "
    "occurrence of every staged q74 span and rebuild each doc from its "
    "surviving words, in order — keep-first substring dedup, the apply "
    "step of Lee et al. 2022. Interval island-merge windows over one "
    "doc's spans; merged cuts join the corpus once as per-doc arrays; "
    "the rebuild is a row-local positional filter. clean_text is the "
    "full surviving text: a value witness that the right WORDS were "
    "cut, not just the right counts.",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    spans = _staged_spans(spark, sf_dir)
    return D.remove_duplicate_spans(
        spread(docs, "doc_id"), spans, "doc_id", "text"
    )


# --------------------------------------------------------------------------
# q104 tokenizer fertility report (per-source BPE compression health)
# --------------------------------------------------------------------------
# The dashboard row a tokenizer owner watches per corpus slice: how many
# base symbols per emitted token (compression), how many chars per token
# (fertility) — a source whose fertility is far off the corpus norm is
# in the wrong language/script for the merge table, or is junk that the
# tokenizer fragments. Composes q102's encode (staged merge table) with
# a source-keyed aggregate: corpus touched once, output |sources| rows.


@register(
    "q104_tokenizer_fertility",
    oracle=f"""
    WITH RECURSIVE {_DOCS_CTE},
    {_BPE_VOCAB_CTE},
    {_BPE_ITER_CTES},
    base AS (
        SELECT doc_id,
               replace(regexp_replace(norm, '(.)', chr(1) || '\\1' || chr(1), 'g'),
                       chr(1) || ' ' || chr(1),
                       chr(1) || '</w>' || chr(1)) || chr(1) || '</w>' || chr(1) AS s
        FROM (SELECT doc_id, norm FROM docs
              JOIN documents USING (doc_id) WHERE text IS NOT NULL) b
    ),
    enc(doc_id, s, step) AS (
        SELECT doc_id, s, 0 FROM base
        UNION ALL
        SELECT e.doc_id,
               replace(e.s, chr(1) || m.s1 || chr(1) || chr(1) || m.s2 || chr(1),
                       chr(1) || m.s1 || m.s2 || chr(1)),
               e.step + 1
        FROM enc e JOIN merges m ON m.rnk = e.step + 1
    ),
    fin AS (SELECT doc_id, s FROM enc
            WHERE step = (SELECT COUNT(*) FROM merges)),
    per_doc AS (
        SELECT b.doc_id,
               (length(b.s) - length(replace(b.s, chr(1), ''))) // 2 AS n_symbols,
               (length(f.s) - length(replace(f.s, chr(1), ''))) // 2 AS n_tokens,
               length(d.norm) AS n_norm_chars
        FROM base b
        JOIN fin f ON f.doc_id = b.doc_id
        JOIN docs d ON d.doc_id = b.doc_id
    )
    SELECT dd.source,
           CAST(COUNT(*) AS BIGINT)          AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT)   AS total_tokens,
           CAST(SUM(p.n_symbols) AS BIGINT)  AS total_symbols,
           ROUND(CAST(SUM(p.n_symbols) AS DOUBLE) / SUM(p.n_tokens), 4)
                                             AS compression,
           ROUND(CAST(SUM(p.n_norm_chars) AS DOUBLE) / SUM(p.n_tokens), 4)
                                             AS chars_per_token
    FROM per_doc p JOIN documents dd ON dd.doc_id = p.doc_id
    GROUP BY dd.source
    """,
    doc="Per-source tokenizer fertility report (composes q102's encode "
    "with the staged merge table): base symbols and emitted tokens per "
    "source, compression (symbols/token) and fertility (normalized "
    "chars/token). A source far off the corpus norm is in the wrong "
    "script for the merge table or fragments into junk — the tokenizer-"
    "health dashboard row. One encode projection + one source-keyed "
    "aggregate; output is |sources| rows.",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    enc = T.bpe_encode(spread(docs, "doc_id"), "doc_id", "text", merges)
    norm_len = F.length(D.normalize_text(F.col("text")))
    per_doc = enc.join(
        docs.select("doc_id", "source", norm_len.alias("n_norm_chars")),
        "doc_id",
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_symbols").cast("bigint").alias("total_symbols"),
        F.sum("n_norm_chars").alias("_nc"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "total_symbols",
        F.round(
            F.col("total_symbols").cast("double") / F.col("total_tokens"), 4
        ).alias("compression"),
        F.round(F.col("_nc").cast("double") / F.col("total_tokens"), 4).alias(
            "chars_per_token"
        ),
    )


# --------------------------------------------------------------------------
# q105 span-level contamination (substring eval-leak, the q51 analog)
# --------------------------------------------------------------------------
# q51 catches benchmark leakage at shingle-overlap granularity; q105
# measures the duplicated SPANS a training doc shares with the
# benchmark slice — verbatim eval text embedded inside a longer
# training doc is exactly the case coverage fractions catch and shingle
# containment understates. Serves entirely from the STAGED q74 span
# table: pairs with one benchmark-side endpoint project their TRAIN-
# side intervals, which island-merge per doc (q78's pattern).
_SPANC_MOD, _SPANC_MAX = 20, 0.05


@register(
    "q105_span_contamination",
    oracle=f"""
    WITH {_DOCS_CTE},
    anch AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(words[i : i + {_SPAN_K - 1}], ' ') AS anchor
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_SPAN_K - 1}, 0) + 1)) AS t(i)
    ),
    keep AS (
        SELECT anchor FROM anch
        GROUP BY anchor HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAXPOST}
    ),
    p AS (SELECT a.* FROM anch a JOIN keep USING (anchor)),
    m AS (
        SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b,
               p1.pos AS pos_a, p2.pos AS pos_b,
               p1.pos - p2.pos AS diff
        FROM p p1
        JOIN p p2 ON p1.anchor = p2.anchor AND p1.doc_id < p2.doc_id
    ),
    spi AS (
        SELECT *,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, diff ORDER BY pos_a) AS grp
        FROM m
    ),
    spans AS (
        SELECT doc_a, doc_b,
               MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
               MAX(pos_a) - MIN(pos_a) + {_SPAN_K} AS span_len
        FROM spi GROUP BY doc_a, doc_b, diff, grp
        HAVING MAX(pos_a) - MIN(pos_a) + {_SPAN_K} >= {_SPAN_MIN}
    ),
    -- TRAIN-side intervals of pairs whose OTHER endpoint is benchmark
    -- (doc_id % {_SPANC_MOD} = 0); DISTINCT for the total window order
    iv AS (
        SELECT DISTINCT doc_a AS doc_id, a_start AS s,
               a_start + span_len AS e
        FROM spans
        WHERE doc_b % {_SPANC_MOD} = 0 AND doc_a % {_SPANC_MOD} <> 0
        UNION
        SELECT DISTINCT doc_b, b_start, b_start + span_len
        FROM spans
        WHERE doc_a % {_SPANC_MOD} = 0 AND doc_b % {_SPANC_MOD} <> 0
    ),
    fl AS (
        SELECT doc_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS f
        FROM iv
    ),
    isl AS (
        SELECT *, SUM(f) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS UNBOUNDED PRECEDING) AS g
        FROM fl
    ),
    cov AS (
        SELECT doc_id, SUM(mx - mn) AS covered FROM (
            SELECT doc_id, g, MAX(e) AS mx, MIN(s) AS mn
            FROM isl GROUP BY doc_id, g
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.words) AS BIGINT)           AS n_words,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS bench_span_tokens,
           ROUND(COALESCE(c.covered, 0)
                 / CAST(len(d.words) AS DOUBLE), 4) AS bench_frac,
           ROUND(COALESCE(c.covered, 0)
                 / CAST(len(d.words) AS DOUBLE), 4) >= {_SPANC_MAX}
                                                   AS flagged
    FROM docs d LEFT JOIN cov c ON c.doc_id = d.doc_id
    WHERE d.doc_id % {_SPANC_MOD} <> 0
    """,
    doc="Span-level contamination: per TRAINING doc, the token coverage "
    f"of duplicated spans shared with the benchmark slice (doc_id % "
    f"{_SPANC_MOD} = 0) — verbatim eval text embedded in a longer "
    "training doc, the case shingle containment (q51) understates. "
    "Serves from the STAGED span table: benchmark-paired pairs project "
    "their train-side intervals, which island-merge per doc (q78's "
    f"pattern); flagged at >= {_SPANC_MAX} coverage. Interval rows are "
    "3 ints; the doc join is the only corpus-sized movement.",
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    spans = _staged_spans(spark, sf_dir)
    is_bench = lambda c: F.col(c) % _SPANC_MOD == 0
    iv = (
        spans.where(is_bench("doc_b") & ~is_bench("doc_a"))
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("a_start").alias("s"),
            (F.col("a_start") + F.col("span_len")).alias("e"),
        )
        .unionAll(
            spans.where(is_bench("doc_a") & ~is_bench("doc_b")).select(
                F.col("doc_b").alias("doc_id"),
                F.col("b_start").alias("s"),
                (F.col("b_start") + F.col("span_len")).alias("e"),
            )
        )
        .distinct()
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    fl = iv.select(
        "doc_id",
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("f"),
    )
    isl = fl.select("doc_id", "s", "e", F.sum("f").over(w_run).alias("g"))
    cov = (
        isl.groupBy("doc_id", "g")
        .agg((F.max("e") - F.min("s")).alias("_c"))
        .groupBy("doc_id")
        .agg(F.sum("_c").alias("covered"))
    )
    words = F.split(D.normalize_text(F.col("text")), " ")
    train = (
        spread(docs, "doc_id")
        .where(~is_bench("doc_id"))
        .select("doc_id", F.size(words).alias("n_words"))
    )
    j = train.join(cov, "doc_id", "left")
    frac = F.round(
        F.coalesce(F.col("covered"), F.lit(0)).cast("double")
        / F.col("n_words").cast("double"),
        4,
    )
    return j.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.coalesce(F.col("covered"), F.lit(0))
        .cast("bigint")
        .alias("bench_span_tokens"),
        frac.alias("bench_frac"),
        (frac >= F.lit(_SPANC_MAX)).alias("flagged"),
    )


# --------------------------------------------------------------------------
# q106 content-keyed eval split (train/val/test with dedup-safe keying)
# --------------------------------------------------------------------------
# The split assignment a training pipeline runs LAST: deterministic
# train/val/test buckets, stratified per source, keyed by the CONTENT
# DIGEST — not the doc id — so byte-identical documents can never
# straddle splits (id-keyed splits leak every duplicate pair across the
# train/test boundary; splitting on content identity is the standard
# guard). Pure row-local hash arithmetic: zero shuffle, trivially
# parallel at 100 TB, and re-runs (or re-crawls of the same text) land
# in the same bucket forever.
_SPLIT_SEED, _SPLIT_VAL_PCT, _SPLIT_TEST_PCT = 424242, 5, 5


@register(
    "q106_eval_split",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (
        SELECT doc_id, source, ch,
               {_h32("ch", _SPLIT_SEED)} % 100 AS bucket
        FROM d
    )
    SELECT doc_id, source,
           CASE WHEN bucket < {_SPLIT_TEST_PCT} THEN 'test'
                WHEN bucket < {_SPLIT_TEST_PCT + _SPLIT_VAL_PCT} THEN 'val'
                ELSE 'train' END AS split,
           CAST(bucket AS BIGINT) AS split_bucket
    FROM b
    """,
    doc="Deterministic train/val/test assignment keyed by the CONTENT "
    "digest (q31's normalization), so byte-identical docs co-assign by "
    f"construction — the dedup-safe split guard. {_SPLIT_TEST_PCT}% "
    f"test / {_SPLIT_VAL_PCT}% val via one md5-derived hash bucket; "
    "row-local, zero shuffle, stable across re-runs and re-crawls of "
    "the same text. q107 audits the residual NEAR-dup leakage this "
    "exact-content keying cannot see.",
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.curation import assign_eval_split

    docs = read_table(spark, sf_dir, "documents")
    return assign_eval_split(
        docs.where(F.col("text").isNotNull()),
        "text",
        seed=_SPLIT_SEED,
        val_pct=_SPLIT_VAL_PCT,
        test_pct=_SPLIT_TEST_PCT,
    ).select("doc_id", "source", "split", "split_bucket")


# --------------------------------------------------------------------------
# q107 split-leakage audit (near-dup pairs straddling the eval split)
# --------------------------------------------------------------------------
# q106's content keying kills EXACT-dup leakage by construction; what
# remains is near-duplicate leakage — a train doc whose near-twin sits
# in test inflates every benchmark number. This is the report an eval
# owner signs off on: the staged Jaccard-verified pair table (q33's
# artifact) joined with the split assignment, counted by split pair.
# Pair-table-scale work (|pairs| rows), two broadcast-able split joins.


_SPLIT_CH_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@register(
    "q107_split_leakage",
    oracle=f"""
    WITH {_lsh_pair_ctes()},
    sp AS (
        SELECT doc_id,
               CASE WHEN {_h32(_SPLIT_CH_SQL, _SPLIT_SEED)} % 100
                         < {_SPLIT_TEST_PCT} THEN 'test'
                    WHEN {_h32(_SPLIT_CH_SQL, _SPLIT_SEED)} % 100
                         < {_SPLIT_TEST_PCT + _SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'train' END AS split
        FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
        SELECT LEAST(sa.split, sb.split) AS split_a,
               GREATEST(sa.split, sb.split) AS split_b,
               v.jaccard
        FROM verified v
        JOIN sp sa ON sa.doc_id = v.id_a
        JOIN sp sb ON sb.doc_id = v.id_b
    )
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaking,
           ROUND(AVG(jaccard), 4) AS avg_jaccard
    FROM pairs
    GROUP BY split_a, split_b
    """,
    doc="Split-leakage audit: the Jaccard-verified near-dup pairs (the "
    "STAGED q33 artifact) joined against q106's content-keyed split, "
    "counted per (split, split) cell — cross-split rows are the "
    "benchmark-inflating leaks q106's exact keying cannot prevent. "
    "Pair-table-scale: |pairs| rows through two doc-keyed joins and a "
    "9-cell aggregate; at 100 TB the pair table is the small side by "
    "orders of magnitude.",
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.curation import split_leakage_report

    pairs = _verified_pairs(spark, sf_dir)
    sp = QUERIES["q106_eval_split"].fn(spark, sf_dir).select("doc_id", "split")
    return split_leakage_report(pairs, sp)


# --------------------------------------------------------------------------
# q108 token-budget epoch plan (training-mix allocation)
# --------------------------------------------------------------------------
# NEW post-r9-window (registered in _CLIP_LAST so the committed round-9
# driver window stays intact; first driver rows round 10). q84 decides a
# per-source SAMPLING mix; this is the other half every pretraining run
# fixes before launch: given a total token budget, how many tokens each
# source contributes and how many EPOCHS of it that implies — with the
# over-repetition flag the mixture literature warns on.
_PLAN_BUDGET, _PLAN_ALPHA, _PLAN_MAX_EPOCHS = 500_000, 0.5, 4.0


@register(
    "q108_epoch_plan",
    oracle=f"""
    WITH c AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
                   AS n_tokens
        FROM documents
        GROUP BY source
    ),
    z AS (
        SELECT SUM(POW(CAST(n_tokens AS DOUBLE), {_PLAN_ALPHA})) AS z FROM c
    ),
    w AS (
        SELECT c.source, c.n_docs, c.n_tokens,
               CASE WHEN z.z > 0
                    THEN FLOOR(POW(CAST(c.n_tokens AS DOUBLE), {_PLAN_ALPHA})
                               / z.z * 1e12) / 1e12
                    ELSE 0.0 END AS w12
        FROM c, z
    ),
    t AS (
        SELECT source, n_docs, n_tokens, w12,
               CAST(FLOOR(w12 * {_PLAN_BUDGET}) AS BIGINT) AS target_tokens,
               CASE WHEN n_tokens > 0
                    THEN CAST(FLOOR(w12 * {_PLAN_BUDGET}) AS BIGINT)
                         / CAST(n_tokens AS DOUBLE)
                    ELSE 0.0 END AS epochs_raw
        FROM w
    )
    SELECT source, n_docs, n_tokens,
           ROUND(w12, 6) AS weight,
           target_tokens,
           ROUND(epochs_raw, 4) AS epochs,
           epochs_raw > {_PLAN_MAX_EPOCHS} AS oversampled
    FROM t
    """,
    doc="Token-budget epoch plan (operators/curation.py::epoch_plan): "
    f"per source, available tokens (the fixed ceil(chars/4) estimator), "
    f"temperature weight (tokens^{_PLAN_ALPHA} share), the token target a "
    f"{_PLAN_BUDGET}-token budget allocates, implied epochs, and an "
    f"oversampled flag past {_PLAN_MAX_EPOCHS} epochs (the repetition-harm "
    "line — a flagged source needs more data or a smaller share). One "
    "corpus aggregation; the plan itself is |sources| rows with a "
    "broadcast total. Weight TRUNCATED to 12 dp first (downward grid "
    "snap — sum of weights stays <= 1, so the floor'd targets can never "
    "over-allocate even a trillion-token budget) and every derived "
    "column computed from it, so pow/sum ULP drift can never flip a "
    "floor or a flag between engines; zero-token sources plan to 0 "
    "(never a 0/0, which Spark NULLs and DuckDB NaNs apart).",
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.curation import epoch_plan

    docs = read_table(spark, sf_dir, "documents")
    return epoch_plan(
        docs,
        "source",
        F.ceil(F.col("n_chars") / 4.0).cast("bigint"),
        budget_tokens=_PLAN_BUDGET,
        alpha=_PLAN_ALPHA,
        max_epochs=_PLAN_MAX_EPOCHS,
    )


# --------------------------------------------------------------------------
# q109 quality-classifier calibration report (q83 x q57 cross-check)
# --------------------------------------------------------------------------
# The sanity sheet an eval owner reads before trusting a learned quality
# filter: bucket the corpus by classifier score and report INDEPENDENT
# quality signals per bucket (Gopher repetition fractions, doc length,
# the rule-based keep rate). A sane classifier shows monotone-ish
# signals across buckets; a flat or inverted column means the filter is
# keying on something else. Composes two already-oracle-verified
# row-local operators; the per-doc metric join is what a production run
# stages once as its metrics table, here joined doc-keyed in-plan.
_CAL_BUCKETS = 10


def _q109_oracle() -> str:
    cls = QUERIES["q83_hashed_ngram_classifier"].oracle
    rep = QUERIES["q57_quality_repetition"].oracle
    return f"""
    WITH cls AS ({cls}),
    rep AS ({rep})
    SELECT CAST(LEAST(FLOOR(cls.score * {_CAL_BUCKETS}),
                      {_CAL_BUCKETS - 1}) AS BIGINT) AS score_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(cls.score), 4) AS avg_score,
           ROUND(AVG(rep.dup_word_frac), 4) AS avg_dup_word_frac,
           ROUND(AVG(rep.dup_trigram_frac), 4) AS avg_dup_trigram_frac,
           ROUND(AVG(CAST(rep.n_words AS DOUBLE)), 2) AS avg_n_words,
           ROUND(SUM(CASE WHEN rep.keep THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS gopher_keep_rate
    FROM cls JOIN rep USING (doc_id)
    GROUP BY score_bucket
    """


@register(
    "q109_classifier_calibration",
    oracle=_q109_oracle(),
    doc="Classifier calibration report: corpus bucketed by the q83 "
    f"hashed-ngram score (fixed-width, {_CAL_BUCKETS} buckets — row-local "
    "arithmetic, never a global ntile window), with per-bucket means of "
    "the INDEPENDENT q57 Gopher repetition signals, document length, and "
    "the rule-based keep rate — the 'is my quality filter keying on "
    "quality' sheet read before a filter gates a 100 TB corpus. Two "
    "row-local metric projections joined doc-keyed + one <=10-row "
    "aggregate; a production pipeline stages the per-doc metrics table "
    "once and this report is then metadata-scale.",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return T.calibration_table(docs, "doc_id", "text", n_buckets=_CAL_BUCKETS)


# --------------------------------------------------------------------------
# q110 cross-snapshot span-registry probe (incremental substring dedup)
# --------------------------------------------------------------------------
# Completes the incremental-dedup registry family at SPAN granularity:
# doc digests (q67), MinHash bands (q82), SRP bands (q101) all probe an
# append-only history registry in O(batch) — q110 does the same for
# verbatim token spans, catching a new crawl's boilerplate/quote reuse
# against EVERYTHING ingested before without rescanning history text
# (q74 finds spans within one corpus; this finds them against history).
# Registered post-r9-window; first driver rows round 10.


@register(
    "q110_span_registry_probe",
    oracle=f"""
    WITH {_DOCS_CTE},
    hanch AS (
        SELECT DISTINCT md5(array_to_string(words[i : i + {_SPAN_K - 1}], ' '))
               AS ahash
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_SPAN_K - 1}, 0) + 1)) AS t(i)
        WHERE doc_id % 3 <> 0
    ),
    banch AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               md5(array_to_string(words[i : i + {_SPAN_K - 1}], ' ')) AS ahash
        FROM docs,
             UNNEST(range(1, greatest(len(words) - {_SPAN_K - 1}, 0) + 1)) AS t(i)
        WHERE doc_id % 3 = 0
    ),
    hits AS (SELECT b.doc_id, b.pos FROM banch b JOIN hanch USING (ahash)),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_id, MIN(pos) AS span_start,
               MAX(pos) - MIN(pos) + {_SPAN_K} AS span_len,
               COUNT(*) AS n_anchors
        FROM isl
        GROUP BY doc_id, grp
        HAVING MAX(pos) - MIN(pos) + {_SPAN_K} >= {_SPAN_MIN}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)        AS n_spans,
           CAST(SUM(n_anchors) AS BIGINT)  AS n_hit_anchors,
           CAST(MAX(span_len) AS BIGINT)   AS max_span_len,
           CAST(MIN(span_start) AS BIGINT) AS first_span_start
    FROM spans
    GROUP BY doc_id
    """,
    doc="Cross-snapshot SPAN dedup probe (operators/dedup.py::"
    "span_registry_doc_report, the fused per-doc form of "
    "span_registry_probe): the new batch (doc_id % 3 == 0) probes the "
    f"xxhash64 {_SPAN_K}-gram anchor registry of all ingested history — "
    "one semi-join of 8-byte keys (measured adjudication + collision "
    "note: positional_anchor_keys) + row-local gaps-and-islands over "
    "each doc's sorted hit positions (bounded by the doc's hit count) "
    f"— and reports its >= {_SPAN_MIN}-"
    "token verbatim-duplicated spans per doc. History TEXT is never "
    "rescanned: the registry is an append-only digest table maintained "
    "by the span-registry job class (example jobnet: span_registry + "
    "compact_span_registry stages, bucketed CLUSTERED BY ahash so the "
    "probe never shuffles the corpus-scale registry side — sizing "
    "math in SCALE.md), so a recurring crawl pays O(batch) per "
    "snapshot. "
    "Completes the incremental-dedup family at substring granularity "
    "(q67 digests, q82 MinHash bands, q101 SRP bands, q110 spans).",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    registry = (
        D.positional_anchor_keys(hist, "doc_id", "text", k=_SPAN_K)
        .select("ahash")
        .distinct()
    )
    b_anch = D.positional_anchor_keys(batch, "doc_id", "text", k=_SPAN_K)
    # fused per-doc tail (r15): the per-span window form + two groupBys
    # collapse into one aggregation + row-local island HOFs — same probe
    # join, same report rows (operator docstring has the equivalence).
    return D.span_registry_doc_report(
        b_anch, registry, "doc_id", anchor_len=_SPAN_K, min_span=_SPAN_MIN
    )


# --------------------------------------------------------------------------
# q111 UniMax epoch-capped budget allocation (training-mix, ICML 2023)
# --------------------------------------------------------------------------
# NEW post-r10-window (registered in _CLIP_LAST so the committed round-10
# driver window stays intact; first driver rows round 11). Completes the
# mixture toolkit: q84 decides a temperature SAMPLING mix, q108 prices a
# temperature plan against a budget with an over-repetition FLAG — UniMax
# (Chung et al. 2023) is the published alternative that makes the flag
# impossible by construction: fill sources as uniformly as the budget
# allows, hard-capped at max_epochs repetitions (water-filling).
_UNIMAX_BUDGET, _UNIMAX_EPOCHS = 70_000, 2.0


@register(
    "q111_unimax_plan",
    oracle=f"""
    WITH c AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
                   AS n_tokens
        FROM documents
        GROUP BY source
    ),
    k AS (
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(CAST(n_tokens AS DOUBLE) * {_UNIMAX_EPOCHS})
                    AS BIGINT) AS capacity
        FROM c
    ),
    st AS (
        SELECT a.source, a.capacity,
               CAST(SUM(CASE WHEN b.capacity <= a.capacity
                             THEN b.capacity ELSE 0 END) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN b.capacity > a.capacity
                             THEN 1 ELSE 0 END) AS BIGINT) AS g
        FROM k a, k b
        GROUP BY a.source, a.capacity
    ),
    fl AS (
        SELECT source,
               (s + capacity * g) <= {_UNIMAX_BUDGET} AS saturated
        FROM st
    ),
    gl AS (
        SELECT CAST(SUM(CASE WHEN fl.saturated THEN k.capacity ELSE 0 END)
                    AS BIGINT) AS ss,
               CAST(SUM(CASE WHEN NOT fl.saturated THEN 1 ELSE 0 END)
                    AS BIGINT) AS nu
        FROM k JOIN fl USING (source)
    ),
    t AS (
        SELECT k.source, k.n_docs, k.n_tokens, k.capacity, fl.saturated,
               CASE WHEN fl.saturated THEN k.capacity
                    ELSE ({_UNIMAX_BUDGET} - gl.ss) // NULLIF(gl.nu, 0)
               END AS target_tokens
        FROM k JOIN fl USING (source), gl
    )
    SELECT source, n_docs, n_tokens, capacity,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           ROUND(CASE WHEN n_tokens > 0
                      THEN CAST(target_tokens AS DOUBLE)
                           / CAST(n_tokens AS DOUBLE)
                      ELSE 0.0 END, 4) AS epochs,
           saturated
    FROM t
    """,
    doc="UniMax budget allocation (operators/curation.py::unimax_plan; "
    "Chung et al., ICML 2023): distribute a "
    f"{_UNIMAX_BUDGET}-token budget across sources as uniformly as "
    f"possible, hard-capped at {_UNIMAX_EPOCHS} epochs per source — the "
    "published alternative to q108's temperature plan whose "
    "over-repetition flag becomes impossible by construction. "
    "Integer-exact water-filling: BIGINT saturation test "
    "S_i + cap_i*G_i <= B per source via a |sources|^2 broadcast "
    "conditional aggregate over the GROUPED table (metadata rows; the "
    "corpus is touched once by the groupBy; no window, nothing funnels "
    "through one task), then one integer division for the uniform "
    "level — no floating-point level for engine ULP drift to tip "
    "across a capacity. Sum of targets <= budget is an integer "
    "inequality; zero-token sources plan to 0.",
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return C.unimax_plan(
        docs,
        "source",
        F.ceil(F.col("n_chars") / 4.0).cast("bigint"),
        budget_tokens=_UNIMAX_BUDGET,
        max_epochs=_UNIMAX_EPOCHS,
    )


# --------------------------------------------------------------------------
# q112 LSH banding quality audit (recall/precision vs exact Jaccard)
# --------------------------------------------------------------------------
# NEW post-r10-window (first driver rows round 11). The lexical analog of
# q85's ANN recall@k: measure what the PRODUCTION near-dup banding scheme
# (q33's 16-hash/8-band/2-row configuration) actually catches, against
# exact shingle Jaccard ground truth on a bounded deterministic sample —
# the observability a pipeline owner reads before trusting a bands ×
# rows-per-band tradeoff at 100 TB. Ground truth needs no n² pass: a pair
# with Jaccard >= tau > 0 must share at least one shingle, so the
# sample's co-shingle pairs (inverted-index join, bounded by sample size)
# contain every true pair.
# Content-keyed constant-size sample: docs whose FIRST minhash satisfies
# h0 % MOD == 0, with MOD = greatest(2, corpus_docs DIV 250) so the
# sample stays ~250 docs at ANY corpus size (constant audit cost; MOD is
# computed identically in both engines from one corpus count, in-plan).
# Why h0 and not doc_id: a pair must have BOTH endpoints sampled — under
# uniform id sampling that is 1/MOD^2 per pair and the recall denominator
# vanishes as MOD grows (measured: 0 true pairs at sf0.1's MOD=20).
# Near-duplicates agree on each minhash with probability = their Jaccard,
# so keying the sample on h0 CO-SAMPLES near-dup pairs: inclusion is
# ~J/MOD, and the audit preferentially weights exactly the high-overlap
# pairs the banding scheme most must catch (the audit's stated bias).
_AUDIT_SAMPLE_DOCS = 250


def _banding_audit_oracle() -> str:
    mins = _affine_mins(_N_HASHES)
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_id, "
        f"md5(concat_ws(',', h{b * _ROWS_PER_BAND}, h{b * _ROWS_PER_BAND + 1})) AS band_hash FROM sigs"
        for b in range(_BANDS)
    )
    return f"""
    WITH alldocs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
        FROM documents
    ),
    allshingles AS (
        SELECT DISTINCT doc_id,
               array_to_string(words[i : i + 2], ' ') AS shingle
        FROM alldocs, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i)
    ),
    allsigs AS (
        SELECT doc_id, {mins}
        FROM allshingles GROUP BY doc_id
    ),
    m AS (
        SELECT GREATEST(2, CAST(COUNT(*) AS BIGINT) // {_AUDIT_SAMPLE_DOCS})
               AS md
        FROM documents
    ),
    sample AS (
        SELECT doc_id FROM allsigs, m WHERE h0 % m.md = 0
    ),
    shingles AS (
        SELECT s.doc_id, s.shingle
        FROM allshingles s JOIN sample USING (doc_id)
    ),
    sigs AS (
        SELECT g.* FROM allsigs g JOIN sample USING (doc_id)
    ),
    bands AS (
{band_selects}
    ),
    sized AS (
        SELECT band_id, band_hash
        FROM bands GROUP BY band_id, band_hash
        HAVING COUNT(*) BETWEEN 2 AND {_MAX_BUCKET}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sized s
        JOIN bands a ON a.band_id = s.band_id AND a.band_hash = s.band_hash
        JOIN bands b ON b.band_id = s.band_id AND b.band_hash = s.band_hash
         AND a.doc_id < b.doc_id
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz
        FROM shingles GROUP BY doc_id
    ),
    co AS (
        SELECT DISTINCT sa.doc_id AS id_a, sb.doc_id AS id_b
        FROM shingles sa JOIN shingles sb
          ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    ),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(COUNT(*) AS DOUBLE) AS n_inter
        FROM co c
        JOIN shingles sa ON sa.doc_id = c.id_a
        JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    truth AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE ROUND(n_inter / (za.sz + zb.sz - n_inter), 4) >= {_JACCARD_MIN}
    ),
    hit AS (
        SELECT t.id_a FROM truth t
        JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    ),
    agg AS (
        SELECT
            (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM shingles) AS n_docs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit_pairs
    )
    SELECT n_docs, n_true_pairs, n_cand_pairs, n_hit_pairs,
           ROUND(CASE WHEN n_true_pairs > 0
                      THEN CAST(n_hit_pairs AS DOUBLE) / n_true_pairs
                      ELSE 1.0 END, 4) AS recall,
           ROUND(CASE WHEN n_cand_pairs > 0
                      THEN CAST(n_hit_pairs AS DOUBLE) / n_cand_pairs
                      ELSE 1.0 END, 4) AS precision
    FROM agg
    """


@register(
    "q112_lsh_banding_audit",
    oracle=_banding_audit_oracle(),
    doc="LSH banding quality audit (q85's recall analog for the lexical "
    "family): on a content-keyed ~"
    f"{_AUDIT_SAMPLE_DOCS}-doc sample (h0 % greatest(2, n DIV "
    f"{_AUDIT_SAMPLE_DOCS}) == 0 — constant size at any corpus scale, "
    "and near-dup pairs CO-sample because minhashes agree with "
    "probability = Jaccard), compare the production banding scheme's "
    f"candidate pairs ({_N_HASHES} hashes, {_BANDS} bands x "
    f"{_ROWS_PER_BAND}) against exact-Jaccard >= {_JACCARD_MIN} ground "
    "truth, reporting recall (true pairs the bands caught) and "
    "precision (candidates that verify). Ground truth without an n^2 "
    "pass: a pair at Jaccard >= tau > 0 shares >= 1 shingle, so the "
    "sample's inverted-index co-shingle pairs contain every true pair "
    "(bounded by the fixed sample size). One corpus pass (the shared "
    "shingle/signature artifact) + sample-bounded pair work; "
    "single-row output via broadcast 1-row aggregates — no collects, "
    "no cartesian.",
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage shape (r12 rework, measured): the audit's four counters
    # (docs/truth/cand/hit) are four subtrees of ONE final plan, and
    # Spark's subtree-identity Exchange reuse missed all of them
    # (aliasing differences) — the full-corpus signature aggregation
    # re-ran up to 4x (plan audit: 89 Exchanges, 0 ReusedExchange).
    # Two fixes, both production-honest:
    # - sample selection needs ONLY h0, so the corpus-wide pass is a
    #   single-min aggregation (minhash h0 is identical whatever
    #   num_hashes is — the affine params are per-index); the full
    #   16-hash signatures are then computed on the SAMPLE's shingles
    #   only (a signature depends only on the doc's own shingles);
    # - the sample-bounded intermediates (sample ids, sampled
    #   shingles, truth pairs, cand pairs) are eagerly materialized
    #   (localCheckpoint — constant-size frames by the sample bound),
    #   so each counter reads them instead of re-deriving the lineage.
    # Eager work runs inside fn(): the bench times it honestly.
    sh_all = _doc_shingles(spark, sf_dir).withColumnRenamed("doc_id", "id")
    h0_all = D.minhash_signatures(sh_all, "id", num_hashes=1)
    nd = read_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("_n")
    )
    mod = F.greatest(F.lit(2), F.expr(f"_n DIV {_AUDIT_SAMPLE_DOCS}"))
    sample = (
        h0_all.crossJoin(F.broadcast(nd))
        .where((F.col("h0") % mod) == 0)
        .select("id")
        .localCheckpoint(eager=True)
    )
    sh = sh_all.join(sample, "id", "left_semi").localCheckpoint(eager=True)
    co = (
        sh.select(F.col("id").alias("id_a"), "shingle")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # r15 (guide §2.6): truth and cand both depend only on the
    # checkpointed sample shingles — their eager materializations are
    # INDEPENDENT jobs (measured 1.04 s + 0.89 s sequential at sf0.1),
    # so they run concurrently and the audit pays the longer of the two.
    from concurrent.futures import ThreadPoolExecutor

    def _truth() -> DataFrame:
        return (
            D.ngram_jaccard_pairs(sh, co, id_col="id")
            .filter(F.col("jaccard") >= _JACCARD_MIN)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    def _cand() -> DataFrame:
        sigs = D.minhash_signatures(sh, "id", num_hashes=_N_HASHES)
        return D.lsh_candidate_pairs(
            sigs,
            "id",
            bands=_BANDS,
            rows_per_band=_ROWS_PER_BAND,
            max_bucket=_MAX_BUCKET,  # the cap the audit oracle embeds
        ).localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_truth, f_cand = pool.submit(_truth), pool.submit(_cand)
        truth, cand = f_truth.result(), f_cand.result()
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    d = sh.agg(F.count_distinct("id").cast("bigint").alias("n_docs"))
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand_pairs"))
    h = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_pairs"))
    row = (
        d.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(h))
    )
    return row.select(
        "n_docs",
        "n_true_pairs",
        "n_cand_pairs",
        "n_hit_pairs",
        F.round(
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_hit_pairs").cast("double") / F.col("n_true_pairs"),
            ).otherwise(F.lit(1.0)),
            4,
        ).alias("recall"),
        F.round(
            F.when(
                F.col("n_cand_pairs") > 0,
                F.col("n_hit_pairs").cast("double") / F.col("n_cand_pairs"),
            ).otherwise(F.lit(1.0)),
            4,
        ).alias("precision"),
    )
