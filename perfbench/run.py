"""Benchmark entry point.

    python3 perfbench/run.py --workload inventory --seed 1 --seconds 6 --trace 0

Runs one workload on ``local[<cores>]`` in this process and prints, as the
last line of standard output, one JSON object::

    {"correct": true, "attempted": 62, "failed": 0, "metrics": {...}}

A run prepares the workload's inputs, then sets up: it starts the session
and runs one untimed warm-up pass. ``setup_s`` is the time of these two
(session start plus warm-up), not of the input preparation before them.
``--trace 0`` then makes timed passes until ``--seconds`` have passed (at
least the workload's ``min_passes``) and reports the end-to-end metrics of
``report.END_TO_END``. ``--trace 1`` instead runs one pass with spans and
Spark job groups on between two untraced passes (after a cold one for a
workload with no warm-up), and reports ``report.PER_LAYER`` from the
traced pass; its cycle time minus the mean of the two untraced ones is the
tracing overhead. Outputs are checked after the
measured passes, outside every timed region.

Everything a run writes goes under ``.perfbench_tmp/`` in the checkout
(removed at the end); the span dump of a traced run is left in
``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT_DIR = os.path.join(REPO, ".perfbench_out")
# keeps the JVMs out of /tmp: no hsperfdata file, temporary files under the
# run's root (the path is appended)
JVM_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir="
# run as a script, this directory heads sys.path; import the benchmark as
# the ``perfbench`` package instead so its modules never shadow others
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path.pop(0)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - PROCESS_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["inventory", "curation_net", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def isolate(root: str) -> None:
    """Point every temporary location of Spark, the JVM and Python workers
    under ``root``, and make the checkout importable by Python workers."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS + os.path.join(root, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def spark_conf(root: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
        "spark.driver.extraJavaOptions": JVM_OPTS + os.path.join(root, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(root, "eventlog"),
            "spark.eventLog.compress": "false",
            # statusTracker keeps only this many jobs/stages
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    return conf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def traced_pass(bench, workload):
    from bricolage_spark.queries import llm_ops
    from perfbench.tracing import PlanListener, Tracer

    st = bench.spark.sparkContext.statusTracker()
    tracer = Tracer(f"trace-{workload.name}-{bench.seed}")
    ungrouped_before = set(st.getJobIdsForGroup(None))
    tracer.plans = PlanListener(bench.spark)
    tracer.install()
    bench.tracer = tracer
    try:
        bench.group("pass")
        with tracer.root_span("bench.pass", "bench"):
            p = workload.measure("traced")
    finally:
        tracer.restore()
        tracer.plans.remove()
        bench.tracer = None
        bench.spark.sparkContext.setJobGroup("perfbench/untraced", "")
    ungrouped = set(st.getJobIdsForGroup(None)) - ungrouped_before
    return tracer, p, ungrouped, dict(llm_ops.LAST_STAGE_TIMINGS)


def run(args, root: str) -> dict:
    from perfbench import report
    from perfbench.tracing import event_log_totals, spark_counts
    from perfbench.workloads import WORKLOADS, Bench

    from bricolage_spark.session import get_spark

    bench = Bench(root, OUT_DIR, args.seed, args.seconds)
    workload = WORKLOADS[args.workload](bench)  # prepares the inputs
    log("inputs ready")
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(root, bool(args.trace)))
    get_spark_s = time.perf_counter() - t
    log(f"session ready in {get_spark_s:.2f}s")
    try:
        bench.spark = spark
        t = time.perf_counter()
        warm = workload.warmup()
        setup_s = get_spark_s + time.perf_counter() - t
        log(f"set-up done: {setup_s:.2f}s")

        passes = []
        if args.trace:
            if warm is None:
                passes.append(workload.measure("cold"))
            # untraced passes right before and after the traced one: passes
            # still get faster one after the other, and their mean cancels
            # that trend out of the tracing overhead
            before = workload.measure("before")
            tracer, traced, ungrouped, stage_timings = traced_pass(bench, workload)
            after = workload.measure("after")
            passes += [before, traced, after]
            counts = spark_counts(spark, tracer.groups, ungrouped)
        else:
            t0 = time.perf_counter()
            while len(passes) < workload.min_passes or time.perf_counter() - t0 < args.seconds:
                passes.append(workload.measure(f"m{len(passes)}"))
        log(f"measured passes (s): {', '.join(f'{p.wall_s:.2f}' for p in passes)}")

        checked = [p for p in (warm, *passes) if p is not None]
        problems = [msg for p in checked for msg in workload.check(p)]
        log("outputs checked")
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_jvm(spark)
    log("session stopped")

    attempted = sum(len(p.ops) for p in checked)
    failed = min(attempted, sum(not op.ok for p in checked for op in p.ops) + len(problems))
    for msg in problems:
        print(f"[perfbench] check failed: {msg}", flush=True)
    if args.trace:
        counts.update(event_log_totals(os.path.join(root, "eventlog"), counts["job_ids"]))
        untraced = statistics.mean(
            report.end_to_end(setup_s, [p])["cycle_s"] for p in (before, after)
        )
        metrics = report.per_layer(
            tracer, traced, untraced, get_spark_s, rss, counts, stage_timings
        )
        units = report.PER_LAYER
        tracer.dump(os.path.join(OUT_DIR, f"{tracer.run_id}.json"))
    else:
        metrics = report.end_to_end(setup_s, passes)
        units = report.END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "bricolage_spark")):
        print(f"perfbench: no bricolage_spark package under {REPO}", file=sys.stderr)
        return 2
    root = os.path.join(REPO, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    isolate(root)
    os.makedirs(OUT_DIR, exist_ok=True)
    try:
        result = run(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
