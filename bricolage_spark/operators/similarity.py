"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how a 100 TB corpus is actually searched:

- ``brute_force_cosine_topk`` — exact baseline. Query set is broadcast
  (it is small by definition); the corpus is scanned once,
  partition-parallel, and top-k per query is a window over (query, sim).
  Dot products run as Catalyst array expressions (zip_with/aggregate) in
  codegen — no Python, no UDF.
- ``lsh_bucketed_topk`` — the scale path: sign-random-projection LSH.
  Deterministic hyperplanes are derived from md5 (engine-independent, no
  stored model); vectors land in 2^n_planes buckets; search touches only
  the query's bucket (± optionally neighboring probes). This bounds the
  scanned fraction at ~1/2^n_planes of the corpus per query.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bricolage_spark.catalog import spread
from bricolage_spark.session import ARTIFACTS


def _as_double(col: Column) -> Column:
    # native array cast, not transform(x -> cast(x)): same per-element
    # float→double result, but the cast is a single codegen'd expression
    # instead of a higher-order-function closure invoked per element.
    #
    # NOTE (measured, sf0.001–0.01): do NOT "optimize" dot()/srp_bucket()/
    # ivf_cell() into unrolled getItem multiply-add chains. 64-dim × 8-plane/
    # 8-centroid chains build enormous expression trees: q49 9.2s→28.6s,
    # q36 1.4→6.0s, q35 0.7→1.9s — planning cost + 8 MiB task binaries, and
    # the IVF chains overflow janino's 64 KB method limit ("Code grows
    # beyond 64 KB") so they fall back to interpreted evaluation anyway.
    # The aggregate(zip_with(...)) fold keeps the tree O(1) in dims.
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a codegen'd array expression (left-to-right, double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def guarded_cosine(dot_col: Column, n_a: Column, n_b: Column) -> Column:
    """``dot/(n_a·n_b)`` with a zero-norm guard: degenerate vectors
    score 0.0 instead of NULL (non-ANSI) or a DIVIDE_BY_ZERO crash
    (ANSI — Spark 4's default). 0.0 is the honest answer ("no
    directional match is measurable"); routing such vectors out is the
    q91 hygiene gate's job, and every similarity operator here shares
    this one guard so none of them can kill a stage on one bad row."""
    return F.when((n_a > 0) & (n_b > 0), dot_col / (n_a * n_b)).otherwise(
        F.lit(0.0)
    )


def cosine_sim(a: Column, b: Column) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return guarded_cosine(dot(ad, bd), norm(ad), norm(bd))


def vec_d(vec_col: str) -> Column:
    """Memoized ``CAST(vec AS ARRAY<DOUBLE>)`` (same tree as _as_double)."""
    return _memo_expr(("vec_d", vec_col), f"CAST({vec_col} AS ARRAY<DOUBLE>)")


def vec_norm(vec_col: str) -> Column:
    """Memoized L2 norm of a (float) vector column by NAME — the exact
    ``norm(_as_double(col))`` tree, parsed once per session. The SQL
    text comes from :func:`_dot_sql` — the ONE source of truth for the
    dot-product fold (r15 ADVICE: a second module-level copy of the
    fold text risked silent divergence)."""
    a = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    return _memo_expr(("vec_norm", vec_col), f"sqrt({_dot_sql(a, a)})")


def _cosine_topk_tail(cands: DataFrame, k: int) -> DataFrame:
    """Shared tail of every cosine top-k: candidates with columns
    (query_id, neighbor_id, q_vec, q_n, c_vec, c_n) → rounded guarded
    similarity, per-query rank window (desc sim, neighbor-id tiebreak
    for engine-reproducible order), keep rank <= k.

    r15: the similarity and rank expressions are memoized generated SQL
    (identical trees to the previous Column-built forms — guarded
    cosine, round 4, row_number over (query_id; cos_sim DESC,
    neighbor_id)) so repeated plan builds cost two dict hits instead of
    re-constructing HOF lambdas and a window spec through Py4J."""
    cos = _memo_expr(
        ("topk_cos",),
        "round(CASE WHEN q_n > 0D AND c_n > 0D THEN "
        + _dot_sql("q_vec", "c_vec")
        + " / (q_n * c_n) ELSE 0.0D END, 4)",
    )
    rank = _memo_expr(
        ("topk_rank",),
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_sim DESC, neighbor_id) AS BIGINT)",
    )
    sims = cands.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", cos.alias("cos_sim")
    )
    return sims.withColumn("rank", rank).filter(F.col("rank") <= k)


# NOTE: never express normalization as a unit-vector transform — a lambda
# like ``transform(v, x -> x / norm(v))`` re-evaluates the captured norm
# subexpression per ELEMENT (no loop-invariant hoisting in Catalyst
# higher-order functions): dims× the work per row. Scalar norm columns
# keep the pairwise stage at one dot + one divide.


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    Norms are computed once per row BELOW the repartition barrier (the
    exchange stops Catalyst's project-collapse from re-inlining them into
    the pairwise stage), so the O(|corpus|·|queries|) stage is one dot
    product + one divide per pair. Ranking uses the rounded similarity
    (+ id tiebreak) so results are reproducible across engines despite
    last-ulp float differences.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vec_d(vec_col).alias("q_vec"),
        vec_norm(vec_col).alias("q_n"),
    )
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            vec_d(vec_col).alias("c_vec"),
            vec_norm(vec_col).alias("c_n"),
        ),
        "neighbor_id",
    )
    return _cosine_topk_tail(c.crossJoin(F.broadcast(q)), k)


# ---------------------------------------------------------------------------
# LSH (sign random projection) — the sub-linear scale path
# ---------------------------------------------------------------------------


def plane_components(plane: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^dims.

    md5-derived (engine-independent): u = int(md5("p<plane>|<i>")[:8hex]) /
    2^32 → 2u−1. Computed once in Python and embedded as literals — the
    planes are constants, so hashing them per ROW (as a column expression
    would) wastes both runtime and a huge codegen tree.
    """
    import hashlib

    out = []
    for i in range(dims):
        u = int(hashlib.md5(f"p{plane}|{i}".encode()).hexdigest()[:8], 16) / 2**32
        out.append(u * 2.0 - 1.0)
    return out


# Parsed-Column memo for the generated-SQL builders below: a pyspark
# Column is an immutable expression handle, so the (one-off ~0.1 s) JVM
# parse of each ~20 KB literal-heavy string is paid once per session,
# not once per query. Keyed by the full generating arguments; the
# artifact cache adds the session token, so a restarted session re-parses
# rather than inherit a dead Py4J reference.
def _memo_expr(key: tuple, sql: str) -> Column:
    return ARTIFACTS.get(None, None, "expr", key, lambda: F.expr(sql))


def _dbl_sql(x: float) -> str:
    """A double literal for Spark SQL text (full repr precision)."""
    return f"CAST('{x!r}' AS DOUBLE)" if "e" in repr(x) else f"{x!r}D"


def _arr_sql(comps) -> str:
    return "array(" + ", ".join(_dbl_sql(float(c)) for c in comps) + ")"


def _dot_sql(a: str, b: str) -> str:
    """Same fold as :func:`dot`, as SQL text."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def srp_bucket(vec: str, n_planes: int = 8, dims: int = 64) -> Column:
    """Sign-random-projection bucket id in [0, 2^n_planes).

    ``vec`` is a column name (or SQL snippet). The whole bucket expression
    is generated as ONE SQL string and parsed JVM-side in a single call:
    building it Column-by-Column costs ~512 Py4J round-trips (8 planes ×
    64 literals) ≈ 1 s of driver-side plan construction per query.
    """
    vd = f"CAST({vec} AS ARRAY<DOUBLE>)"
    terms = []
    for p in range(n_planes):
        proj = _dot_sql(vd, _arr_sql(plane_components(p, dims)))
        terms.append(f"IF({proj} >= 0.0D, {1 << p}, 0)")
    return _memo_expr(
        ("srp", vec, n_planes, dims),
        f"CAST({' + '.join(terms)} AS BIGINT)",
    )


def srp_band_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 15,
    bands: int = 3,
    dims: int = 64,
) -> DataFrame:
    """Melt SRP bit-signatures into an LSH banding table
    (id, band_id, band_hash) — the EMBEDDING-SPACE analog of
    ``dedup.band_buckets``'s MinHash rows, and the registry format for
    cross-snapshot SEMANTIC near-dedup: history is represented by
    ~20-byte (band_id, small-int) rows, vectors never rescanned.

    Banding math (rows R = n_planes/bands bits per band): two vectors at
    angle θ agree per bit w.p. 1 − θ/π, so a band matches w.p.
    (1 − θ/π)^R and "any band matches" is 1 − (1 − (1 − θ/π)^R)^bands.
    At the defaults (R=5, 3 bands): cosine 0.9 collides ≥1 band ~84% of
    the time, orthogonal vectors ~9% — a candidate FLAG for a dedup
    registry probe, tuned like MinHash banding via (bands, R).

    The full signature is computed ONCE in its own projection (the
    per-plane dot products are the expensive part); per-band hashes are
    then plain shift/mask bit extractions — row-local, zero shuffle.
    """
    if n_planes % bands:
        raise ValueError(
            f"srp_band_buckets: n_planes ({n_planes}) must divide evenly "
            f"into bands ({bands})"
        )
    r = n_planes // bands
    sig = df.select(
        F.col(id_col), srp_bucket(vec_col, n_planes, dims).alias("_sig")
    )
    band_rows = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("_sig"), b * r)
            .bitwiseAND(F.lit((1 << r) - 1))
            .cast("bigint")
            .alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_rows)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — trained coarse quantizer, the FAISS-style layout
# ---------------------------------------------------------------------------


# Past this many inlined centroid literals (k_cells x dims) the Lloyd
# labelling switches from the literal argmax chain to a broadcast join.
_LITERAL_CENTROID_LIMIT = 1024


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 8,
    seed: int = 4242,
) -> list:
    """Train an IVF coarse quantizer: ``k_cells`` centroids as plain lists.

    Deterministic and engine-reproducible (the DuckDB oracle re-derives the
    exact same centroids):

    1. **Seeding** — the ``k_cells`` vectors whose md5-derived
       ``hash32(id)`` is smallest (a deterministic uniform sample; no RNG,
       no stored model).
    2. **One spherical Lloyd step** — every vector is assigned to its
       max-cosine seed (row-local arithmetic), then each cell's centroid is
       the element-wise mean, rounded to 6 dp so cross-engine summation
       order can never flip a downstream comparison.

    Scale design: both collects are METADATA scale (k_cells rows / k·dims
    numbers), never data scale. The assignment pass is shuffle-free
    (centroids ride along as codegen literals); the mean is one
    posexplode→groupBy over (cell, dim) — k·dims groups. At 100 TB you'd
    run the same two jobs on a 1% sample; the contract (tiny centroid
    table out, full scan stays distributed) is unchanged.
    """
    import math

    from bricolage_spark.operators.dedup import hash32

    vd = _as_double(F.col(vec_col))
    seeds = (
        corpus.select(F.col(id_col), vd.alias("v"))
        .withColumn("h", hash32(F.col(id_col), seed))
        .orderBy("h", id_col)
        .limit(k_cells)
        .select("v")
        .collect()
    )
    seed_cents = [(i, list(r["v"])) for i, r in enumerate(seeds)]

    dims = len(seed_cents[0][1]) if seed_cents else 0
    if k_cells * dims > _LITERAL_CENTROID_LIMIT:
        # r16 (guide §1.2 per-task work): past ~1k inlined centroid
        # literals the argmin chain blows the whole-stage-codegen method
        # limit and the Lloyd labeling runs interpreted — the exact
        # hazard _sem_assignment documents for its SERVE pass; the
        # training pass now takes the same cure. Assignment = broadcast
        # seed table + per-row max_by on the identical 6-dp rounded
        # guarded cosine (ties to the lowest cell via -cell, matching
        # ivf_cell's lexicographic array_min exactly — centroids
        # asserted list-equal to the literal path at k=8 and k=32 in
        # the adoption probe). Measured at k=32×64 dims, sf0.1:
        # literal 5.3 s cold / 2.3–2.5 s warm → broadcast 3.7 s cold /
        # 1.5–1.6 s warm; at k=8 the literal chain stays faster
        # (0.6–0.8 s vs ~1.0 s — the join pays more than codegen saves),
        # hence the size gate.
        cdf = corpus.sparkSession.createDataFrame(
            [
                (
                    int(c),
                    [float(x) for x in v],
                    math.sqrt(sum(float(x) ** 2 for x in v)),
                )
                for c, v in seed_cents
            ],
            "cell int, ce array<double>, cn double",
        )
        # labelled per ROW, like the literal branch below: a row tag, not
        # id_col, keys the argmax, so duplicate ids train the same
        # centroids on both sides of the gate
        vecs = corpus.select(
            F.monotonically_increasing_id().alias("_row"),
            vd.alias("v"),
            norm(vd).alias("nv"),
        )
        scored = vecs.join(F.broadcast(cdf)).select(
            "_row",
            "v",
            "cell",
            F.round(
                guarded_cosine(
                    dot(F.col("v"), F.col("ce")), F.col("nv"), F.col("cn")
                ),
                6,
            ).alias("sim"),
        )
        labeled = (
            scored.groupBy("_row")
            .agg(
                F.max_by(
                    F.struct("cell", "v"),
                    F.struct(F.col("sim"), -F.col("cell")),
                ).alias("_b")
            )
            .select(F.col("_b.cell").alias("cell"), F.col("_b.v").alias("v"))
        )
    else:
        # two selects: a generator (posexplode) in the same projection as
        # the struct-array argmin trips Spark's Generate rewrite (field
        # names degrade to col1/col2 and getField("cell") fails analysis)
        labeled = corpus.select(
            ivf_cell(vec_col, seed_cents).alias("cell"), vd.alias("v")
        )
    assigned = labeled.select("cell", F.posexplode("v").alias("pos", "val"))
    rows = (
        assigned.groupBy("cell", "pos")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pv")
        )
        .select("cell", F.col("pv.cv").alias("centroid"))
        .collect()
    )
    return sorted((int(r["cell"]), list(r["centroid"])) for r in rows)


def _cent_key(centroids: list) -> tuple:
    return tuple((c, tuple(float(x) for x in comps)) for c, comps in centroids)


def _ivf_sim_structs_sql(vec: str, centroids: list) -> str:
    """array of (−rounded_cosine, cell) structs vs every centroid, as SQL.

    One generated SQL string (vs ~1000 Py4J calls for 8 centroids × 64
    literal components when built Column-by-Column — measured ~1 s of
    driver-side construction per query).
    """
    vd = f"CAST({vec} AS ARRAY<DOUBLE>)"
    vn = f"sqrt({_dot_sql(vd, vd)})"
    entries = []
    for cell, comps in centroids:
        cn = math.sqrt(sum(float(x) * float(x) for x in comps))
        if cn > 0.0:
            # zero-norm guard (same contract as guarded_cosine): a
            # degenerate vector scores 0.0 against every centroid and
            # deterministically lands in the lowest cell, instead of
            # killing the scan under ANSI division-by-zero
            sim = (
                f"round(CASE WHEN {vn} > 0.0D THEN "
                f"{_dot_sql(vd, _arr_sql(comps))} / ({vn} * {_dbl_sql(cn)}) "
                f"ELSE 0.0D END, 6)"
            )
        else:
            sim = "0.0D"
        entries.append(f"named_struct('ns', -{sim}, 'cell', {int(cell)})")
    return f"array({', '.join(entries)})"


def ivf_cell(vec: str, centroids: list) -> Column:
    """Row-local cell assignment: argmax cosine over the centroid literals.

    Pure codegen arithmetic — an array of (−rounded_sim, cell) structs and
    one ``array_min`` (lexicographic, so ties break to the lowest cell id).
    NO shuffle, NO join: at 100 TB the whole corpus is labeled in the scan
    stage. Sims are rounded to 6 dp before comparison so both engines sort
    identical keys. ``vec`` is a column name (or SQL snippet).
    """
    structs = _ivf_sim_structs_sql(vec, centroids)
    return _memo_expr(
        ("ivf_cell", vec, _cent_key(centroids)),
        f"CAST(array_min({structs}).cell AS INT)",
    )


def ivf_assignment(vec: str, centroids: list) -> Column:
    """Row-local winning (cell, sim) struct for a vector — the assignment
    plus its 6-dp-rounded cosine to the chosen centroid (ties to the
    lowest cell id, like :func:`ivf_cell`). Used by cluster reporting."""
    structs = _ivf_sim_structs_sql(vec, centroids)
    # bind array_min(structs) ONCE via a HOF lambda scope: referencing
    # the struct-array from both fields would re-evaluate the whole
    # k_cells x dims similarity array per field (interpreted HOF
    # aggregates get no common-subexpression elimination — 2x the
    # scoring cost, the same hazard hashed_ngram_score documents)
    return _memo_expr(
        ("ivf_assign", vec, _cent_key(centroids)),
        f"aggregate(array(array_min({structs})), "
        "named_struct('cell', -1, 'sim', CAST(0.0 AS DOUBLE)), "
        "(acc, m) -> named_struct('cell', CAST(m.cell AS INT), 'sim', -m.ns))",
    )


def ivf_probe_cells(vec: str, centroids: list, nprobe: int) -> Column:
    """The ``nprobe`` nearest cells for a query vector, as an array<int>.

    Same struct trick as :func:`ivf_cell`; ``array_sort`` + ``slice`` keeps
    it row-local.
    """
    structs = _ivf_sim_structs_sql(vec, centroids)
    return _memo_expr(
        ("ivf_probe", vec, _cent_key(centroids), nprobe),
        f"slice(array_sort({structs}), 1, {int(nprobe)}).cell",
    )


def ivf_index(
    corpus: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materializable inverted-list layout: (neighbor_id, c_vec, c_n, cell).

    The corpus is labeled row-locally with its argmax-cosine cell (no
    shuffle) and the norm is precomputed. This is the INDEX-BUILD stage of
    IVF — at 100 TB you run it once and write the result
    ``partitionBy("cell")`` so each probe's file scan prunes to its cell;
    locally, callers persist the returned frame across queries. Labeling
    the corpus per query (as a naive formulation would) re-pays the
    8-centroid × dims argmax on every search.
    """
    return spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            vec_d(vec_col).alias("c_vec"),
            vec_norm(vec_col).alias("c_n"),
            ivf_cell(vec_col, centroids).alias("cell"),
        ),
        "neighbor_id",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN search: scan only the ``nprobe`` probed cells per query.

    The corpus is labeled row-locally with its cell (no shuffle); queries
    explode into (query, probe_cell) rows and broadcast; the candidate join
    is an equality hash join on ``cell`` — the scanned fraction is
    ~nprobe/k_cells of the corpus. Pass a prebuilt (persisted or
    partitionBy-written) ``ivf_index`` frame via ``index`` to serve many
    queries against one labeling pass — the 100 TB deployment shape.
    """
    c = index if index is not None else ivf_index(corpus, centroids, id_col, vec_col)
    # explode in a separate projection (same Generate-rewrite hazard as in
    # ivf_centroids: generator + struct-array argmin in one select)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vec_d(vec_col).alias("q_vec"),
        vec_norm(vec_col).alias("q_n"),
        ivf_probe_cells(vec_col, centroids, nprobe).alias("cells"),
    ).select("query_id", "q_vec", "q_n", F.explode("cells").alias("cell"))
    return _cosine_topk_tail(c.join(F.broadcast(q), "cell"), k)


def srp_margins(vec: str, n_planes: int = 6, dims: int = 64) -> Column:
    """Per-plane SRP margins, sorted ascending: array of (m, p) structs
    where ``m`` is |projection| rounded to 6 dp and ``p`` the plane index.

    This is the multi-probe perturbation order (Lv et al., VLDB 2007):
    the planes a vector is CLOSEST to are the ones whose sign a true
    near-neighbor most plausibly lands on the other side of, so probe
    buckets are generated by flipping the lowest-margin bits first.
    Rounding before the sort makes the order engine-reproducible
    (DuckDB re-derives identical keys); exact 6-dp ties break to the
    lower plane index via the struct's lexicographic order.

    Row-local arithmetic only — same codegen'd generated-SQL shape as
    :func:`srp_bucket` (the per-plane dot products are re-stated rather
    than shared with the bucket expression; margins are only ever
    computed on the QUERY side, which is broadcast-sized by definition,
    so the duplicated fold costs nothing where it runs).
    """
    vd = f"CAST({vec} AS ARRAY<DOUBLE>)"
    entries = []
    for p in range(n_planes):
        proj = _dot_sql(vd, _arr_sql(plane_components(p, dims)))
        entries.append(f"named_struct('m', round(abs({proj}), 6), 'p', {p})")
    return _memo_expr(
        ("srp_margins", vec, n_planes, dims),
        f"array_sort(array({', '.join(entries)}))",
    )


def _width_checked(bucket: Column, vec: str, dims: int) -> Column:
    """Runtime embedding-width assertion wrapped around an SRP bucket
    expression (r13 ADVICE): a vector whose width differs from the plane
    dimensionality fails the job with a clear message instead of silently
    projecting against NULL-padded planes. NULL embeddings keep their
    pre-guard behavior: srp_bucket maps a NULL vector to bucket 0 (each
    IF(NULL >= 0, bit, 0) term yields 0), so NULL rows on both sides
    collide in bucket 0 and pair at score 0.0 via the guarded-cosine
    NULL contract (pinned by
    test_srp_topk_null_embedding_still_passes_through)."""
    return (
        F.when(F.col(vec).isNull() | (F.size(F.col(vec)) == dims), bucket)
        .otherwise(
            F.expr(
                f"raise_error(concat('SRP planes are {int(dims)}-dimensional "
                f"but {vec} has width ', CAST(size({vec}) AS STRING)))"
            ).cast("bigint")
        )
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    n_flip: int = 2,
    n_flip2: int = 0,
    dims: int = 64,
) -> DataFrame:
    """Multi-probe SRP top-k: each query searches its own bucket PLUS the
    ``n_flip`` buckets reached by flipping its lowest-margin planes.

    The recall dial without re-indexing: the corpus keeps ONE bucket per
    vector (same inverted-list layout as :func:`lsh_bucketed_topk` — at
    100 TB it is written bucket-partitioned once and never touched when
    the dial moves), while the query side explodes into 1 + n_flip
    (query, bucket) probe rows that broadcast into the same equality
    hash join.  Scanned fraction grows linearly in the probe count,
    ~(1 + n_flip)/2^n_planes of the corpus per query, against the
    exponential 2× per REMOVED plane that the single-probe dial pays —
    the standard multi-probe trade (measured in SCALE.md's round-13
    recall-dial table).  ``n_flip=0`` degenerates to exactly the
    single-probe operator.

    Probe buckets are distinct by construction (0-, 1- and 2-bit flips
    of distinct plane sets differ in Hamming distance or flipped bits),
    so no pair-dedup stage is needed — each (query, neighbor) candidate
    joins at most once.

    ``n_flip2`` adds SECOND-ORDER probes — buckets reached by flipping
    a PAIR of low-margin planes, taken in margin-sum order among the
    pairs of the 4 lowest-margin planes (the next entries of Lv et
    al.'s perturbation sequence after the single flips). The measured
    16x/64x recall plateau (SCALE.md: 0.978/0.991 flat from t=2 to
    t=8) is exactly the residual misses that differ by >= 2 sign bits;
    pair probes are the dial past it.

    ``dims`` is the embedding width the projection planes are generated
    for (r13 ADVICE: the old hard-coded 64 meant any other width
    silently yielded NULL projections — ``zip_with`` pads the shorter
    array — and empty joins instead of an error). The bucket expression
    on BOTH sides carries a runtime width assertion that fails the job
    on mismatch; NULL embeddings still pass through NULL, as before.
    """
    if not 0 <= n_flip <= n_planes:
        raise ValueError(
            f"lsh_multiprobe_topk: n_flip ({n_flip}) must be in "
            f"[0, n_planes ({n_planes})]"
        )
    max_pairs = min(n_planes, 4) * (min(n_planes, 4) - 1) // 2
    if not 0 <= n_flip2 <= max_pairs:
        raise ValueError(
            f"lsh_multiprobe_topk: n_flip2 ({n_flip2}) must be in "
            f"[0, {max_pairs}] (pairs of the 4 lowest-margin planes)"
        )
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            vec_d(vec_col).alias("c_vec"),
            vec_norm(vec_col).alias("c_n"),
            _width_checked(
                srp_bucket(vec_col, n_planes, dims), vec_col, dims
            ).alias("bucket"),
        ),
        "neighbor_id",
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        vec_d(vec_col).alias("q_vec"),
        vec_norm(vec_col).alias("q_n"),
        _width_checked(srp_bucket(vec_col, n_planes, dims), vec_col, dims).alias(
            "_b"
        ),
        srp_margins(vec_col, n_planes, dims).alias("_m"),
    )
    probe_sql = (
        f"concat(array(_b), transform(slice(_m, 1, {int(n_flip)}), "
        "s -> _b ^ shiftleft(CAST(1 AS BIGINT), s.p)))"
    )
    if n_flip2:
        # pair probes: margin-sum-ordered 2-bit flips over the 4
        # lowest-margin planes (row-local; ties break on the flipped
        # bucket value — both sides of the struct are deterministic)
        pp = min(n_planes, 4)
        pairs = [
            (
                f"named_struct('m', element_at(_m, {i + 1}).m + "
                f"element_at(_m, {j + 1}).m, "
                f"'h', _b ^ shiftleft(CAST(1 AS BIGINT), element_at(_m, {i + 1}).p) "
                f"^ shiftleft(CAST(1 AS BIGINT), element_at(_m, {j + 1}).p))"
            )
            for i in range(pp)
            for j in range(i + 1, pp)
        ]
        probe_sql = (
            f"concat({probe_sql}, transform(slice(array_sort(array("
            f"{', '.join(pairs)})), 1, {int(n_flip2)}), x -> x.h))"
        )
    q = q0.select(
        "query_id", "q_vec", "q_n", F.explode(F.expr(probe_sql)).alias("bucket")
    )
    return _cosine_topk_tail(c.join(F.broadcast(q), "bucket"), k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share the query's SRP bucket.

    At scale the corpus side is written bucket-partitioned once
    (``.repartition('bucket')`` / partitionBy on write), so each query
    reads a single partition — this is the IVF-style inverted-list layout.
    ``dims`` is the embedding width the planes are generated for; both
    sides carry a runtime width assertion (see :func:`_width_checked`).
    """
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            vec_d(vec_col).alias("c_vec"),
            vec_norm(vec_col).alias("c_n"),
            _width_checked(
                srp_bucket(vec_col, n_planes, dims), vec_col, dims
            ).alias("bucket"),
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vec_d(vec_col).alias("q_vec"),
        vec_norm(vec_col).alias("q_n"),
        _width_checked(srp_bucket(vec_col, n_planes, dims), vec_col, dims).alias(
            "bucket"
        ),
    )
    return _cosine_topk_tail(c.join(F.broadcast(q), "bucket"), k)


def ann_recall(
    exact_topk: DataFrame, approx_topk: DataFrame, k: int
) -> DataFrame:
    """Index-quality evaluation: recall@k of an approximate top-k result
    against the exact baseline — the acceptance metric every ANN index
    deployment tracks (build the index, measure recall on a probe set,
    THEN route traffic).

    Both inputs are (query_id, neighbor_id, ...) top-k tables (e.g.
    ``brute_force_cosine_topk`` vs ``lsh_bucketed_topk``). Returns one
    row per query: (query_id, n_exact, n_approx, n_common, recall) with
    recall = |approx ∩ exact| / k. Probe sets are small by construction
    (k·|queries| rows), so every join here is broadcast-sized metadata —
    the corpus itself is only touched by the top-k inputs.
    """
    e = exact_topk.select("query_id", "neighbor_id")
    a = approx_topk.select("query_id", "neighbor_id")
    common = e.join(a, ["query_id", "neighbor_id"], "left_semi")
    stats = (
        e.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            a.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_approx")),
            "query_id",
            "left",
        )
        .join(
            common.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_common")),
            "query_id",
            "left",
        )
    )
    return stats.select(
        "query_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce(F.col("n_approx"), F.lit(0)).cast("bigint").alias("n_approx"),
        F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
        F.round(
            F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / F.lit(float(k)),
            4,
        ).alias("recall"),
    )


def max_sim_to_reference(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic decontamination: for every corpus vector, its maximum
    cosine similarity to ANY reference (benchmark/eval) vector, plus the
    argmax reference id and a keep verdict — the embedding-space
    complement of shingle-overlap decontamination (lexical paraphrases
    evade n-grams; embeddings catch them).

    Scale shape mirrors :func:`brute_force_cosine_topk`: the reference
    set is small by definition -> broadcast; the corpus is scanned once,
    partition-parallel, norms computed once per row below the exchange
    barrier; the per-pair stage is one dot + one divide; the result agg
    is id-keyed with map-side combine (shuffle rows are (id, best)
    structs, never vectors). Determinism: similarity is rounded to 4dp
    BEFORE the argmax, ties break to the smallest reference id.

    Degenerate (zero-norm) vectors on either side score 0.0 rather
    than NULL — a NULL sim would make ``keep`` NULL and let a
    consumer's ``filter(~keep)`` silently pass the doc unjudged. 0.0
    states the honest answer ("no directional match is measurable");
    routing such vectors out beforehand is the q91 hygiene gate's job.

    Returns (vec_id, nn_ref_id, max_sim, keep) with keep = max_sim
    strictly below ``threshold``.
    """
    ref = reference.select(
        F.col(id_col).alias("_rid"),
        vec_d(vec_col).alias("_rv"),
        vec_norm(vec_col).alias("_rn"),
    )
    c = spread(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            vec_d(vec_col).alias("_cv"),
            vec_norm(vec_col).alias("_cn"),
        ),
        "vec_id",
    )
    sims = c.crossJoin(F.broadcast(ref)).select(
        "vec_id",
        "_rid",
        F.round(
            guarded_cosine(
                dot(F.col("_cv"), F.col("_rv")), F.col("_cn"), F.col("_rn")
            ),
            4,
        ).alias("_sim"),
    )
    # argmax as a struct max: (sim, -ref_id) orders by sim then smallest id
    best = sims.groupBy("vec_id").agg(
        F.max(F.struct(F.col("_sim").alias("s"), (-F.col("_rid")).alias("ni"))).alias("b")
    )
    return best.select(
        "vec_id",
        (-F.col("b.ni")).cast("bigint").alias("nn_ref_id"),
        F.col("b.s").alias("max_sim"),
        (F.col("b.s") < F.lit(threshold)).alias("keep"),
    )
