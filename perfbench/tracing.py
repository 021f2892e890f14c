"""In-memory span recorder and the wrappers the traced run installs.

A span is ``(id, name, layer, start, end, parent, run)``. Spans nest per
thread; a span opened on a thread with no open span (a jobnet worker, a
staging thread) takes the tracer's current root as its parent. Nothing
here changes what the wrapped call does: each wrapper times the call,
records counts from its arguments or return value, and re-raises.

The wrappers sit on the public entry points of each layer:

========================  ====================================================
layer                     wrapped calls
========================  ====================================================
llm_ops                   ``queries.llm_ops.stage_artifacts``
runner                    ``JobNetRunner.run``, ``JobNetRunner.compile_net``
jobs                      ``Context.hooks`` before_job / after_job
taskqueue                 ``FileTaskQueue.save``, ``FileTaskQueue.lock``
engine                    ``SparkEngine.save_table``, ``save_table_bucketed``,
                          ``rename_table``
streaming_load            ``StreamingLoader.run_once``, ``recover``,
                          ``new_files``, ``FileQueue.dequeue``
========================  ====================================================

``queries`` and ``exec`` spans are opened by the inventory workload itself
around the query function and the noop save. Catalyst time is not a span:
:class:`PlanListener` reads it from the ``QueryPlanningTracker`` of each
noop write's own ``QueryExecution``, so it is a share of the
``exec.noop_save`` span that contains the write.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import queue
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.root: int | None = None
        self.groups: set[str] = set()
        self.plans: PlanListener | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else self.root,
            "run": self.run_id,
        }
        stack.append(span["id"])
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, key: str, value: float = 1) -> None:
        with self._lock:
            self.counts[key] += value

    # -- wrappers ------------------------------------------------------------

    @contextlib.contextmanager
    def root_span(self, name: str, layer: str):
        """A span that is also the parent of spans opened on other threads
        while it is open (a jobnet's worker pool, the staging pool)."""
        prev = self.root
        with self.span(name, layer) as s:
            self.root = s["id"]
            try:
                yield s
            finally:
                self.root = prev

    def wrap(
        self, owner, attr: str, name: str, layer: str, on_result=None, root=False
    ) -> None:
        """Replace ``owner.attr`` with a timed wrapper until ``restore()``."""
        orig = getattr(owner, attr)
        tracer = self
        opener = self.root_span if root else self.span

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with opener(name, layer):
                result = orig(*args, **kwargs)
            tracer.add(f"{name}.calls")
            if on_result is not None:
                on_result(tracer, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        from bricolage_spark.engine import SparkEngine
        from bricolage_spark.queries import llm_ops
        from bricolage_spark.runner import JobNetRunner
        from bricolage_spark.streaming.streaming_load import FileQueue, StreamingLoader
        from bricolage_spark.taskqueue import FileTaskQueue

        def rows(tr, n):
            tr.add("engine.rows_written", int(n or 0))

        self.wrap(
            llm_ops, "stage_artifacts", "llm_ops.stage_artifacts", "llm_ops", root=True
        )
        self.wrap(JobNetRunner, "run", "runner.run", "runner", root=True)
        self.wrap(JobNetRunner, "compile_net", "runner.compile_net", "runner")
        self.wrap(FileTaskQueue, "save", "taskqueue.save", "taskqueue")
        self.wrap(FileTaskQueue, "lock", "taskqueue.lock", "taskqueue")
        self.wrap(SparkEngine, "save_table", "engine.save_table", "engine", rows)
        self.wrap(SparkEngine, "save_table_bucketed", "engine.save_table", "engine", rows)
        self.wrap(SparkEngine, "rename_table", "engine.rename_table", "engine")
        self.wrap(StreamingLoader, "run_once", "streaming_load.batch", "streaming_load")
        self.wrap(StreamingLoader, "recover", "streaming_load.recover", "streaming_load")
        self.wrap(StreamingLoader, "new_files", "streaming_load.new_files", "streaming_load")
        self.wrap(FileQueue, "dequeue", "streaming_load.dequeue", "streaming_load")

    # -- jobnet hooks --------------------------------------------------------

    def job_hooks(self, spark, hooks) -> None:
        """Open a ``jobs.<class>`` span and a Spark job group per job."""

        def before(job, ref, **_):
            s = self.open(f"jobs.{job.class_name}", "jobs")
            self._local.job_span = s
            group = f"{self.run_id}/job/{ref}"
            with self._lock:
                self.groups.add(group)
            spark.sparkContext.setJobGroup(group, ref)

        def after(job, ref, status, **_):
            s = getattr(self._local, "job_span", None)
            if s is not None:
                self.close(s)
                self._local.job_span = None
            self.add("runner.jobs")
            if status != "succeeded":
                self.add("runner.jobs_failed")
            spark.sparkContext.setJobGroup(f"{self.run_id}/idle", "")

        hooks.before_job.append(before)
        hooks.after_job.append(after)

    # -- reduction -----------------------------------------------------------

    def finished(self, name: str | None = None, layer: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["end"] is not None
            and (name is None or s["name"] == name)
            and (layer is None or s["layer"] == layer)
        ]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.finished(name))

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by any child span."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.finished():
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.finished():
            covered = union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, "counts": self.counts}, f)


class PlanListener:
    """A ``QueryExecutionListener`` on the session, called back over Py4J for
    every SQL execution that ends. It queues ``(funcName, seconds)``, where
    the seconds are the analysis, optimization and planning phases of that
    execution's own ``QueryPlanningTracker``. Spark delivers the events on
    its listener bus, after the action has returned."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._events: queue.Queue = queue.Queue()
        self._manager = spark._jsparkSession.listenerManager()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager.register(self)

    def remove(self) -> None:
        self._manager.unregister(self)

    def take(self, func_name: str, timeout: float = 60.0) -> float:
        """Catalyst seconds of the next ended execution named ``func_name``;
        events of other executions before it are dropped."""
        deadline = time.monotonic() + timeout
        while True:
            name, secs = self._events.get(timeout=max(0.0, deadline - time.monotonic()))
            if name == func_name:
                return secs

    # QueryExecutionListener, called on a Py4J callback thread
    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803
        it = qe.tracker().phases().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self._events.put((funcName, ms / 1000.0))

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803
        self._events.put((funcName, 0.0))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def concurrency(spans: list[dict], wall: float) -> float:
    """Summed span time over wall time (1.0 = one at a time)."""
    return sum(s["end"] - s["start"] for s in spans) / wall if wall > 0 else 0.0


def spark_counts(spark, groups: set[str], extra_jobs: set[int]) -> dict:
    """Jobs, stages and tasks of the given job groups (plus ``extra_jobs``)
    from ``statusTracker``, and the job count of each group."""
    st = spark.sparkContext.statusTracker()
    jobs = set(extra_jobs)
    per_group = {}
    for g in groups:
        ids = st.getJobIdsForGroup(g)
        per_group[g] = len(ids)
        jobs.update(ids)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = n_failed = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its output was reused from an earlier job
        n_stages += 1
        n_tasks += info.numCompletedTasks
        n_failed += info.numFailedTasks
    return {
        "spark.jobs": len(jobs),
        "spark.stages": n_stages,
        "spark.tasks": n_tasks,
        "spark.tasks_failed": n_failed,
        "job_ids": jobs,
        "per_group": per_group,
    }


def event_log_totals(log_dir: str, job_ids: set[int]) -> dict[str, float]:
    """Task metrics summed over the stages of ``job_ids`` from the
    uncompressed Spark event logs under ``log_dir`` (single files or the
    rolling ``eventlog_v2_*`` directories)."""
    stages: set[int] = set()
    run_ms = shuffle_read = shuffle_write = spill = 0
    events = []
    for dirpath, _, files in os.walk(log_dir):
        for name in files:
            with open(os.path.join(dirpath, name)) as f:
                events.extend(json.loads(line) for line in f if line.startswith("{"))
    for e in events:
        if e.get("Event") == "SparkListenerJobStart" and e["Job ID"] in job_ids:
            stages.update(e["Stage IDs"])
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        m = e.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        r = m.get("Shuffle Read Metrics") or {}
        shuffle_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.shuffle_read_bytes": shuffle_read,
        "spark.shuffle_write_bytes": shuffle_write,
        "spark.spill_bytes": spill,
    }
