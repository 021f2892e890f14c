"""Plan-quality gate: every registered query's PHYSICAL plan is audited
for the scale red flags the whole engine design is built to avoid.

This is the automated version of the per-operator `.explain` review:
a query can be value-correct at sf0.01 and still carry a plan that dies
at 100 TB. Asserting on the plan text keeps regressions (an accidental
row-wise UDF, a join that degenerated to a cartesian product) out.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from bricolage_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"

# Queries whose plan legitimately contains a cartesian product:
# q10 IS the cross/theta-join demonstration (bounded: 25x15 dims).
CARTESIAN_OK = {"q10_cross_theta_join"}


@pytest.fixture(scope="module")
def plan_pairs(spark):
    """name -> (formatted, simple) physical plan for every registered
    query. ``simple`` is the executedPlan tree with inline arguments —
    the form whose indentation encodes the operator tree, which the
    single-partition-window gate walks."""
    out = {}
    for name, spec in sorted(load_all().items()):
        df = spec.fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        simple = df._jdf.queryExecution().executedPlan().toString()
        out[name] = (buf.getvalue(), simple)
    return out


@pytest.fixture(scope="module")
def plans(plan_pairs):
    """name -> formatted physical plan for every registered query."""
    return {n: p[0] for n, p in plan_pairs.items()}


@pytest.fixture(scope="module")
def simple_plans(plan_pairs):
    return {n: p[1] for n, p in plan_pairs.items()}


# Physical operators that hand rows to a Python worker, matched as plan
# substrings ("MapInArrow" also matches the older "PythonMapInArrow").
# Batch queries are pure Catalyst; the one Python boundary left is the
# streaming sessionizer (streaming/stateful.py), not a registered query.
_PYTHON_OPERATORS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "ArrowAggregatePython",
    "ArrowWindowPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
)


def test_no_row_wise_python_udf_on_any_path(plans):
    """No registered query's plan may run Python on its data path: not
    row-at-a-time (BatchEvalPython) and not Arrow-batched either
    (ArrowEvalPython, MapInPandas, PythonMapInArrow, grouped pandas or
    Arrow maps). Each one ships every row through a Python worker, and
    may need the package importable on the executors."""
    offenders = {
        n: [op for op in _PYTHON_OPERATORS if op in p]
        for n, p in plans.items()
        if any(op in p for op in _PYTHON_OPERATORS)
    }
    assert not offenders, f"Python worker operator in: {offenders}"


def test_no_unintended_cartesian_product(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "CartesianProduct" in p and n not in CARTESIAN_OK
    ]
    assert not offenders, f"cartesian product in: {offenders}"


def test_scan_level_filter_pushdown(plans):
    """Spot-check: the selective-filter queries must reach the parquet
    scan with pushed predicates (a non-empty PushedFilters list)."""
    for name in ["q02_filter_predicates", "q05_tpch_q1", "q11_tpch_q3"]:
        assert re.search(r"PushedFilters: \[[^\]]", plans[name]), (
            f"{name}: no non-empty PushedFilters on any scan"
        )


def test_column_pruning_on_projection(plans):
    """q01 projects a few columns of a 16-column table: the scan schema
    must not contain columns the query never touches."""
    p = plans["q01_scan_projection"]
    assert "l_comment" not in p, "q01 scan reads an untouched column"


def test_broadcast_join_for_small_dims(plans):
    """The dim-join queries must broadcast the small side, not shuffle
    both sides of an SMJ."""
    for name in ["q07_broadcast_join", "q11_tpch_q3"]:
        assert "BroadcastHashJoin" in plans[name], (
            f"{name}: expected a broadcast hash join"
        )


# -- registry-family broadcast gate (r11 verdict #2) -------------------------
#
# The 64x octave proved the failure mode twice: a registry/pair table
# derived inline ends in Generate/Aggregate chains with a TINY static
# size estimate, the planner broadcasts the data-proportional side, and
# the build OOMs. The fix was pinned per-site in r11 (ngram_jaccard_pairs,
# span_registry_probe) and per-helper in r12 (incremental_dedup,
# incremental_neardup_flags); these gates turn the discipline into a
# suite-wide invariant a NEW operator inherits automatically.

# The registry-family join keys. A registry keyed on any of these is
# corpus-scale by construction (O(docs) digests, O(docs x bands) band
# rows, O(history tokens) span anchors) — it must NEVER be a broadcast
# build. Queries with an adjudicated, genuinely-bounded broadcast on one
# of these keys go here WITH the reason (none currently).
_REGISTRY_KEYS = ("content_hash", "band_hash", "ahash")
_REGISTRY_BROADCAST_OK: dict[str, str] = {}


def test_no_registry_key_is_ever_a_broadcast_join_key(simple_plans):
    """Suite-wide: no query's physical plan may contain ANY broadcast
    join keyed on a registry-family column. At test scale these joins
    see inline-derived registries (the exact bogus-estimate trap shape),
    so a broadcast here is either the 64x OOM reproduced or a new
    operator that skipped the family pin."""
    # match anywhere on the join's plan LINE, not just the first
    # bracketed key list: an aliased/renamed left key puts the registry
    # name only in the RIGHT key list, and `\[[^\]]*` stops at the
    # first `]` (r12 ADVICE finding — gate mutation-tested below in
    # test_broadcast_gate_regex_sees_right_side_keys).
    pat = re.compile(
        r"Broadcast\w*Join [^\n]*(" + "|".join(_REGISTRY_KEYS) + ")"
    )
    offenders = [
        (n, m.group(0)[:120])
        for n, p in simple_plans.items()
        if n not in _REGISTRY_BROADCAST_OK
        for m in [pat.search(p)]
        if m
    ]
    assert not offenders, (
        f"registry-family key used as a broadcast join key in: {offenders}"
    )


def test_broadcast_gate_regex_sees_right_side_keys():
    """Regex regression (r12 ADVICE): a broadcast join whose registry
    key appears ONLY in the right-side key list (left side aliased to a
    neutral name) must still trip the gate; the pre-fix pattern stopped
    at the first `]` and let it escape."""
    line = (
        "BroadcastHashJoin [probe_key#12], [content_hash#34], "
        "LeftAnti, BuildRight, false"
    )
    old = re.compile(r"Broadcast\w*Join \[[^\]]*(content_hash|band_hash|ahash)")
    new = re.compile(r"Broadcast\w*Join [^\n]*(content_hash|band_hash|ahash)")
    assert not old.search(line), "fixture no longer exercises the escape"
    assert new.search(line), "gate regex must see right-side key lists"
    # and a multi-line plan must not leak a match across join lines
    plan = line + "\nProject [content_hash#99]\nSortMergeJoin [other#1], [other#2]"
    assert len(new.findall(plan)) == 1


def test_registry_probe_helpers_pin_smj_against_bogus_estimates(spark):
    """Unit worst case: every registry-probe helper, fed a registry
    DERIVED INLINE through a Generate->Aggregate chain (tiny static
    size estimate — the shape that OOM'd the 64x octave twice), must
    still plan the probe join as SortMergeJoin. Covers q67 (anti-join),
    q82/q101 (left-outer band probe), q110 (left-semi span probe), and
    the q33/q48 Jaccard-verify joins."""
    from pyspark.sql import functions as F

    from bricolage_spark.operators import dedup as D

    def trap(df):
        """Wrap a frame in an explode->agg chain: static size estimate
        collapses to a near-zero constant while the data is unchanged."""
        cols = df.columns
        return (
            df.withColumn("_x", F.explode(F.array(F.lit(1))))
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("_c"))
            .select(*cols)
        )

    def probe_join_lines(df, *needles):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            ln
            for ln in plan.splitlines()
            if any(n in ln for n in needles) and "Join" in ln
        ]

    docs = spark.range(50).select(
        F.col("id"), F.concat(F.lit("text body "), F.col("id")).alias("text")
    )
    registry = trap(
        spark.range(2000).select(F.md5(F.col("id").cast("string")).alias("content_hash"))
    )
    novel, _ = D.incremental_dedup(docs, registry, "id", "text")
    for ln in probe_join_lines(novel, "LeftAnti"):
        assert "SortMergeJoin" in ln, f"q67 probe not SMJ: {ln.strip()[:120]}"

    bands = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("band_id"),
        F.md5(F.col("id").cast("string")).alias("band_hash"),
    )
    reg_bands = trap(
        spark.range(3000).select(
            (F.col("id") % 4).cast("int").alias("band_id"),
            F.md5((F.col("id") * 7).cast("string")).alias("band_hash"),
        )
    )
    flags = D.incremental_neardup_flags(bands, reg_bands, "id")
    for ln in probe_join_lines(flags, "band_hash"):
        assert "SortMergeJoin" in ln, f"q82/q101 probe not SMJ: {ln.strip()[:120]}"

    anchors = spark.range(500).select(
        (F.col("id") % 7).alias("doc"),
        (F.col("id") + 1).alias("pos"),
        F.xxhash64(F.col("id")).alias("ahash"),
    )
    span_reg = trap(spark.range(5000).select(F.xxhash64(F.col("id") * 3).alias("ahash")))
    spans = D.span_registry_probe(anchors, span_reg, "doc")
    for ln in probe_join_lines(spans, "LeftSemi"):
        assert "SortMergeJoin" in ln, f"q110 probe not SMJ: {ln.strip()[:120]}"

    shingles = spark.range(400).select(
        (F.col("id") % 20).alias("id"),
        F.concat(F.lit("sh"), (F.col("id") % 37)).alias("shingle"),
    )
    pairs = trap(
        spark.range(30).select(
            (F.col("id") % 20).alias("id_a"), ((F.col("id") + 3) % 20).alias("id_b")
        )
    )
    jac = D.ngram_jaccard_pairs(shingles, pairs, id_col="id")
    plan = jac._jdf.queryExecution().executedPlan().toString()
    # r15 sets-based verify: BOTH pair-lineage joins (pairs ⋈ sets on
    # id_a, then ⋈ sets on id_b) must be SMJ — the pairs side is never
    # a broadcast build, whatever its bogus static estimate says.
    for key in ("id_a", "id_b"):
        join_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and key in ln
        ]
        assert join_lines, f"expected the pairs-side {key} join in the plan"
        for ln in join_lines:
            assert "SortMergeJoin" in ln, (
                f"pairs-side {key} join not SMJ: {ln.strip()[:120]}"
            )
    assert "BroadcastHashJoin" not in plan, "pairs lineage must never broadcast"


# -- single-partition-window gate (SCALE.md claim #4) -----------------------

_WSPEC_RE = re.compile(r"windowspecdefinition\(")
_BOUNDED_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")


def _indent(line: str) -> int:
    """Tree depth of a simple-plan line (the +-/:-/space gutter width)."""
    return len(re.match(r"^[\s+:|-]*", line).group(0))


def _spec_args(line: str) -> list[str]:
    """Top-level args of the first windowspecdefinition(...) on the line,
    split depth-aware (partition exprs may contain commas in parens)."""
    m = _WSPEC_RE.search(line)
    start = m.end()
    depth, args, cur = 1, [], []
    for ch in line[start:]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        if ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def _is_unpartitioned(line: str) -> bool:
    """True iff the window spec has NO partition expressions: every arg
    before the frame is an ordering expr (carries ASC/DESC). A window
    like ``count() over (partition by k)`` has a bare column arg and is
    fine; ``row_number() over (order by x)`` has only ordered args and
    funnels ALL rows through one task."""
    exprs = [
        a
        for a in _spec_args(line)
        if not a.startswith("specifiedwindowframe")
    ]
    return all(" ASC " in a or " DESC " in a for a in exprs)


def _window_input_is_bounded(lines: list[str], i: int) -> bool:
    """True iff the window node at ``lines[i]`` sits over a bounded
    input: a limit node (TakeOrderedAndProject / GlobalLimit /
    CollectLimit) on its FIRST-CHILD SPINE. The walk follows only the
    chain of first children (indent strictly increasing) and STOPS at
    any multi-input node (join/union): a limit inside one branch of a
    join bounds that branch, not the window's input."""
    prev = _indent(lines[i])
    for sub in lines[i + 1 :]:
        if not sub.strip():
            continue
        ind = _indent(sub)
        if ind <= prev:
            return False  # sibling branch: left the first-child spine
        if any(b in sub for b in _BOUNDED_NODES):
            return True
        if any(m in sub for m in ("Join", "Union", "CartesianProduct")):
            return False  # multi-input: a limit below bounds one branch only
        prev = ind
    return False


def test_no_unbounded_single_partition_window(simple_plans):
    """No Window without PARTITION BY over unbounded input, anywhere in
    the inventory (no allowlist): such a window funnels the full input
    through a single task — the one plan shape that cannot survive a
    100x scale-up. A single-partition window is acceptable ONLY when its
    INPUT SPINE contains a limit (see ``_window_input_is_bounded``),
    i.e. the head was taken distributed first and the window ranks a
    bounded row set (q81's shape)."""
    offenders = []
    for name, plan in simple_plans.items():
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Window " not in ln or not _WSPEC_RE.search(ln):
                continue
            if not _is_unpartitioned(ln):
                continue
            if not _window_input_is_bounded(lines, i):
                offenders.append((name, ln.strip()[:120]))
    assert not offenders, f"unbounded single-partition window in: {offenders}"


def test_window_bound_walk_stays_on_first_child_spine():
    """Regression (round-7 advice): a limit in ONE branch of a join
    below the window must NOT count as bounding the window's input —
    the walk stops at the first multi-input node. A limit ON the spine
    (above the join, or in a join-free chain) does bound it."""
    limited_join_branch = [
        "Window [row_number() windowspecdefinition(x ASC NULLS FIRST)]",
        "+- SortMergeJoin [a], [b], Inner",
        "   :- GlobalLimit 10",
        "   :  +- Exchange",
        "   +- Scan parquet",
    ]
    assert not _window_input_is_bounded(limited_join_branch, 0)
    limit_on_spine = [
        "Window [row_number() windowspecdefinition(x ASC NULLS FIRST)]",
        "+- TakeOrderedAndProject(limit=100)",
        "   +- SortMergeJoin [a], [b], Inner",
    ]
    assert _window_input_is_bounded(limit_on_spine, 0)
    sibling_not_descendant = [
        "Union",
        ":- Window [row_number() windowspecdefinition(x ASC NULLS FIRST)]",
        ":  +- Exchange SinglePartition",
        "+- GlobalLimit 10",
    ]
    assert not _window_input_is_bounded(sibling_not_descendant, 1)


def test_multiprobe_broadcasts_the_query_side(simple_plans):
    """q113/q114 contract: the ONLY broadcast in the probe join is the
    QUERY side (small by contract — its probe explosion multiplies a
    handful of rows), never the corpus inverted-list layout. In the
    executedPlan tree the probe join is the bucket-keyed
    BroadcastHashJoin with BuildRight (the code joins
    corpus.join(broadcast(queries), 'bucket'))."""
    import re as _re

    for name in ("q113_ann_multiprobe", "q114_ann_multiprobe_pairs"):
        p = simple_plans[name]
        m = _re.search(r"BroadcastHashJoin \[bucket[^\n]*", p)
        assert m, f"{name}: no bucket-keyed broadcast hash join in the plan"
        assert "BuildRight" in m.group(0), (
            f"{name}: probe join must build the (broadcast) query side: "
            f"{m.group(0)[:120]}"
        )
