"""Round-13 64x octave for the ANN/VECTOR family (r12 verdict ask #2):
the one operator family whose scale story was argued, never measured.
q36 (SRP bucketed top-k), q49 (IVF index build AND serve, separately),
q68 (cluster report), q85 (recall@k — does index quality hold as the
corpus grows?), and q77 (SemDeDup) in three configurations:

- ``q77_fixedk``   — |cells| held at the committed _SEM_CELLS=32 while
  the corpus grows: the n²/k pairwise pathology SCALE.md documents for
  q42 (62x at 16x), now measured on q77's own path;
- ``q77_scaledk``  — |cells| grown sqrt(scale)x (32 -> 256 at 64x),
  the retrained-quantizer model the published SemDeDup design
  prescribes; balances assignment cost (n·k) against pairwise cost
  (n²/k), which a fixed-k retrain cannot;
- ``q77_cap_guard`` — the cell-size cap forced low (factor 0 -> floor
  256) on the 64x corpus: the guard must raise ApplicationError at
  ASSIGNMENT time, in seconds — before any quadratic pairwise work —
  because at 100 TB "fail loudly, early" is the whole point of the cap.

Also records the vector analog of the r11 hot-bucket evidence: the
bucket/cell SIZE DISTRIBUTION at each scale (q36 SRP buckets, q49 IVF
cells, q77 trained cells) — a blown cell is where the quadratic cliff
would hide, and a distribution table is how you see it coming.

Process isolation per (probe, scale), warm-up outside timings, caches
released per cold run — the harness lessons from octave_iterative.py
(SCALE.md "harness lessons").

Usage:
    python tools/octave_vector.py [--scales 1,64] [--runs 2]
    python tools/octave_vector.py --single <probe> <sf_dir> <runs> <scale>
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PROBES = (
    "q36_srp_serve",
    "q113_multiprobe_serve",
    "q114_pairprobe_serve",
    "q49_build",
    "q49_serve",
    "q68_report",
    "q85_recall",
    "q77_fixedk",
    "q77_scaledk",
    "q77_cap_guard",
)


def best_of(runs: int, fn) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dist(sizes: list[int]) -> dict:
    """Size-distribution summary for a bucket/cell census."""
    s = sorted(sizes)
    n = len(s)
    mean = sum(s) / n
    return {
        "n": n,
        "mean": round(mean, 1),
        "p95": s[min(n - 1, int(0.95 * n))],
        "max": s[-1],
        "max_over_mean": round(s[-1] / mean, 2),
    }


def run_single(probe: str, sf_dir: str, runs: int, scale: int) -> dict:
    from pyspark.sql import functions as F

    from bricolage_spark.catalog import read_table
    from bricolage_spark.operators import similarity as S
    from bricolage_spark.queries import llm_ops, load_all
    from bricolage_spark.session import get_spark

    specs = load_all()
    spark = get_spark(f"octave-vec-{probe}")
    # warm the JVM/codegen once outside the timings
    specs["q31_dedup_exact"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    out: dict = {}
    emb = read_table(spark, sf_dir, "embeddings")

    if probe == "q36_srp_serve":
        out["sec"] = best_of(
            runs, lambda: _noop(specs["q36_ann_lsh_bucketed"].fn(spark, sf_dir))
        )
        sizes = [
            r["c"]
            for r in emb.select(S.srp_bucket("embedding", 6).alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
        out["bucket_dist"] = _dist(sizes)
    elif probe == "q114_pairprobe_serve":
        # q113's serve shape + 4 second-order pair probes (t=2, t2=4):
        # 7 probe rows/query vs q113's 3 — still a broadcast query-side
        # explosion over the identical corpus bucket layout
        out["sec"] = best_of(
            runs,
            lambda: _noop(specs["q114_ann_multiprobe_pairs"].fn(spark, sf_dir)),
        )
    elif probe == "q113_multiprobe_serve":
        # q36's serve shape + the query-side probe explosion (t=2):
        # corpus bucket layout identical, candidate volume ~3x of q36's
        out["sec"] = best_of(
            runs, lambda: _noop(specs["q113_ann_multiprobe"].fn(spark, sf_dir))
        )
        sizes = [
            r["c"]
            for r in emb.select(S.srp_bucket("embedding", 6).alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
        out["bucket_dist"] = _dist(sizes)
    elif probe == "q49_build":
        # cold: centroid training (2 metadata collects) + inverted-list
        # materialization, outside the artifact cache so every run pays it
        def build():
            cents = S.ivf_centroids(
                emb, k_cells=llm_ops._IVF_CELLS, seed=llm_ops._IVF_SEED
            )
            S.ivf_index(emb, cents).write.format("noop").mode(
                "overwrite"
            ).save()

        out["sec"] = best_of(runs, build)
        cents = S.ivf_centroids(
            emb, k_cells=llm_ops._IVF_CELLS, seed=llm_ops._IVF_SEED
        )
        sizes = [
            r["c"]
            for r in S.ivf_index(emb, cents)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
        out["cell_dist"] = _dist(sizes)
    elif probe == "q49_serve":
        # the index is built ONCE (the persisted inverted-list layout);
        # timed runs pay only the probe join — the serving contract
        specs["q49_ann_ivf"].fn(spark, sf_dir).count()  # build+persist
        out["sec"] = best_of(
            runs, lambda: _noop(specs["q49_ann_ivf"].fn(spark, sf_dir))
        )
    elif probe == "q68_report":
        out["sec"] = best_of(
            runs, lambda: _noop(specs["q68_embedding_clusters"].fn(spark, sf_dir))
        )
    elif probe == "q85_recall":
        out["sec"] = best_of(
            runs, lambda: _noop(specs["q85_ann_recall"].fn(spark, sf_dir))
        )
        rows = specs["q85_ann_recall"].fn(spark, sf_dir).collect()
        out["mean_recall"] = round(
            sum(r["recall"] for r in rows) / len(rows), 4
        )
    elif probe in ("q77_fixedk", "q77_scaledk"):
        if probe == "q77_scaledk":
            # retrained-quantizer model: k grows sqrt(scale)x. cold()
            # releases the artifact cache first, so the patched value
            # trains its own centroids; the oracle string (baked at
            # import) is not used here.
            llm_ops._SEM_CELLS = max(32, 32 * int(math.isqrt(scale)))
        out["k_cells"] = llm_ops._SEM_CELLS

        def cold():
            llm_ops.release_caches()
            _noop(specs["q77_semantic_dedup"].fn(spark, sf_dir))

        out["sec"] = best_of(runs, cold)
        sizes = [
            r["c"]
            for r in llm_ops._sem_assignment(spark, sf_dir)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
        out["cell_dist"] = _dist(sizes)
    elif probe == "q77_cap_guard":
        from bricolage_spark.exception import ApplicationError

        llm_ops.release_caches()
        llm_ops._SEM_CELL_CAP_FACTOR = 0  # cap collapses to the floor (256)
        t0 = time.perf_counter()
        try:
            specs["q77_semantic_dedup"].fn(spark, sf_dir).count()
            out["raised"] = False
        except ApplicationError as e:
            out["raised"] = True
            out["message_head"] = str(e)[:120]
        out["sec"] = round(time.perf_counter() - t0, 3)
    else:
        raise SystemExit(f"unknown probe: {probe}")
    return out


def main() -> None:
    from tools.scale_probe import _arg

    if "--single" in sys.argv:
        i = sys.argv.index("--single")
        probe, sf_dir, runs, scale = (
            sys.argv[i + 1], sys.argv[i + 2],
            int(sys.argv[i + 3]), int(sys.argv[i + 4]),
        )
        print(json.dumps(run_single(probe, sf_dir, runs, scale)))
        return

    scales = [int(x) for x in _arg("--scales", "1,64").split(",")]
    runs = int(_arg("--runs", "2"))
    only = _arg("--probes", "")
    probes = tuple(only.split(",")) if only else PROBES

    from bricolage_spark.session import get_spark, stop_spark
    from tools.scale_probe import BASE_SF, build_scaled

    dirs = {}
    spark = get_spark("octave-vec-build")
    for k in scales:
        dirs[k] = BASE_SF if k == 1 else build_scaled(spark, k)
    stop_spark()

    out: dict = {"base": BASE_SF, "scales": scales, "queries": {}}
    for probe in probes:
        probe_scales = (
            [max(scales)] if probe == "q77_cap_guard" else scales
        )  # the guard probe is about the BIG corpus
        for k in probe_scales:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single",
                 probe, dirs[k], str(runs), str(k)],
                capture_output=True, text=True, cwd=REPO,
            )
            tag = f"{k}x"
            if r.returncode != 0:
                out["queries"].setdefault(probe, {})[tag] = (
                    "FAILED: " + r.stderr.strip()[-400:]
                )
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            row = out["queries"].setdefault(probe, {})
            row[tag] = res.pop("sec")
            for key, v in res.items():
                out["queries"].setdefault(f"{probe}.{key}", {})[tag] = v
        row = out["queries"][probe]
        lo, hi = f"{scales[0]}x", f"{scales[-1]}x"
        if isinstance(row.get(lo), float) and isinstance(row.get(hi), float):
            row["growth"] = round(row[hi] / row[lo], 2)
    out["note"] = (
        f"growth = t({scales[-1]}x)/t({scales[0]}x); linear is "
        f"{scales[-1] // scales[0]}; each (probe, scale) in its own "
        "process (fresh JVM, warm-up outside timings)"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
