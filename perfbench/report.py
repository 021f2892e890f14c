"""Metric names, units and the reductions that produce them.

``end_to_end`` metrics are what a user of the system sees and are the same
four on every workload; what a *cycle* and an *operation* are differs per
workload (see ``workloads.py``). ``per_layer`` metrics come from the
traced pass only; a layer a workload does not use reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.tracing import concurrency, union_length

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}

#: The 24 artifacts ``llm_ops.stage_artifacts`` builds and times.
ARTIFACTS = (
    "shingle_postings", "shingle_sets", "verified_pairs", "cluster_assignments",
    "bpe_merges", "semdedup_assignments", "lm_counts", "ivf_index", "shingle_df",
    "shingle_pruned", "bench_shingle_counts", "srp_bands", "srp_registry",
    "fingerprints", "fp_postings", "span_table", "bm25_index", "dsir_ratio",
    "source_word_counts", "pmi_unigrams", "pmi_bigrams", "sentence_digest_df",
    "percentile_brackets", "hot_key_stats",
)

#: The job classes of ``examples/curation_home/curation/curation.jobnet``.
JOB_CLASSES = (
    "assert", "calibration-report", "classifier-filter", "dsir-select",
    "epoch-plan", "eval-split", "leakage-audit", "load", "neardup-history",
    "rebuild-rename", "registry-compact", "semantic-decon",
    "semantic-neardup-history", "span-registry", "span-scrub",
)

LAYERS = (
    "bench", "queries", "catalyst", "exec", "llm_ops", "runner", "jobs",
    "taskqueue", "engine", "streaming_load",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    # the Spark JVM's VmHWM; it moves by ~40 % between identical runs
    # (heap growth is up to the collector), too much to bound
    "session.jvm_peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.noop_save_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "llm_ops.stage_artifacts_s": "s",
    "llm_ops.artifact_concurrency": "ratio",
    **{f"llm_ops.artifact.{a}_s": "s" for a in ARTIFACTS},
    "runner.compile_net_s": "s",
    "runner.jobs": "count",
    "runner.jobs_failed": "count",
    "runner.overhead_s": "s",
    "runner.concurrency": "ratio",
    **{f"jobs.{c}_s": "s" for c in JOB_CLASSES},
    "taskqueue.save_s": "s",
    "taskqueue.saves": "count",
    "taskqueue.lock_s": "s",
    "engine.save_table_s": "s",
    "engine.save_table_calls": "count",
    "engine.rows_written": "count",
    "engine.rename_table_s": "s",
    "streaming_load.batches": "count",
    "streaming_load.files_per_batch": "count",
    "streaming_load.batch_p50_s": "s",
    "streaming_load.jobs_per_batch": "count",
    "streaming_load.recover_s": "s",
    "streaming_load.new_files_s": "s",
    "streaming_load.dequeue_s": "s",
    "streaming_load.busy_frac": "ratio",
    "streaming_load.batches_failed": "count",
    "stream_gen.late_p90_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.cycle_s": "s",
    "trace.overhead_s": "s",
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def op_latencies(passes) -> list[float]:
    """One latency per distinct operation: an operation repeated in several
    passes (a query) counts once, at its median, so that one slow repeat
    does not move the percentiles."""
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for op in p.ops:
            by_name.setdefault(op.name, []).append(op.latency_s)
    return [statistics.median(v) for v in by_name.values()]


def end_to_end(setup_s: float, passes) -> dict[str, float]:
    lat = op_latencies(passes)
    return {
        "setup_s": setup_s,
        "cycle_s": statistics.median(c for p in passes for c in p.cycles),
        "op_p50_s": percentile(lat, 50),
        "op_p90_s": percentile(lat, 90),
    }


def per_layer(tracer, traced, untraced_cycle_s: float, get_spark_s: float,
              rss_mb: float, spark: dict, stage_timings: dict[str, float]
              ) -> dict[str, float]:
    """Reduce the traced pass's spans, counts and Spark metrics."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    c = tracer.counts
    out["session.get_spark_s"] = get_spark_s
    out["session.jvm_peak_rss_mb"] = rss_mb
    out["queries.build_s"] = tracer.total("queries.build")
    out["catalyst.plan_s"] = c["catalyst.plan_s"]
    out["exec.noop_save_s"] = tracer.total("exec.noop_save")
    per_group = spark.get("per_group", {})
    out["queries.build_jobs"] = sum(n for g, n in per_group.items() if "/build/" in g)
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
              "spark.executor_run_s", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes", "spark.spill_bytes"):
        out[k] = spark.get(k, 0)

    stage_wall = tracer.total("llm_ops.stage_artifacts")
    out["llm_ops.stage_artifacts_s"] = stage_wall
    if stage_wall:
        for a in ARTIFACTS:
            out[f"llm_ops.artifact.{a}_s"] = stage_timings.get(a, 0.0)
        out["llm_ops.artifact_concurrency"] = sum(stage_timings.values()) / stage_wall

    out["runner.compile_net_s"] = tracer.total("runner.compile_net")
    out["runner.jobs"] = c["runner.jobs"]
    out["runner.jobs_failed"] = c["runner.jobs_failed"]
    job_spans = tracer.finished(layer="jobs")
    for run in tracer.finished("runner.run"):
        wall = run["end"] - run["start"]
        inside = [(s["start"], s["end"]) for s in job_spans]
        out["runner.overhead_s"] += wall - union_length(inside, run["start"], run["end"])
        out["runner.concurrency"] = concurrency(job_spans, wall)
    for c_name in JOB_CLASSES:
        out[f"jobs.{c_name}_s"] = tracer.total(f"jobs.{c_name}")

    out["taskqueue.save_s"] = tracer.total("taskqueue.save")
    out["taskqueue.saves"] = c["taskqueue.save.calls"]
    out["taskqueue.lock_s"] = tracer.total("taskqueue.lock")
    out["engine.save_table_s"] = tracer.total("engine.save_table")
    out["engine.save_table_calls"] = c["engine.save_table.calls"]
    out["engine.rows_written"] = c["engine.rows_written"]
    out["engine.rename_table_s"] = tracer.total("engine.rename_table")

    batches = traced.out.get("batches")
    if batches is not None:
        n = len(batches)
        out["streaming_load.batches"] = n
        out["streaming_load.batches_failed"] = sum(not b["ok"] for b in batches)
        if n:
            out["streaming_load.files_per_batch"] = sum(b["files"] for b in batches) / n
            out["streaming_load.batch_p50_s"] = percentile([b["s"] for b in batches], 50)
            jobs = sum(v for g, v in per_group.items() if "/batch/" in g)
            out["streaming_load.jobs_per_batch"] = jobs / n
        out["streaming_load.busy_frac"] = sum(b["s"] for b in batches) / traced.wall_s
        out["streaming_load.recover_s"] = tracer.total("streaming_load.recover")
        out["streaming_load.new_files_s"] = tracer.total("streaming_load.new_files")
        out["streaming_load.dequeue_s"] = tracer.total("streaming_load.dequeue")
        out["stream_gen.late_p90_s"] = percentile(traced.out["late"], 90)

    for layer, secs in tracer.self_times().items():
        out[f"self.{layer}_s"] = secs
    # Catalyst has no span of its own: it runs inside the noop writes
    out["self.catalyst_s"] = out["catalyst.plan_s"]
    out["self.exec_s"] -= out["catalyst.plan_s"]
    out["trace.cycle_s"] = statistics.median(traced.cycles)
    out["trace.overhead_s"] = out["trace.cycle_s"] - untraced_cycle_s
    return out
