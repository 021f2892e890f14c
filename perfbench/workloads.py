"""The benchmark's workloads.

Each workload runs *passes*; a pass is made of *cycles*, the unit of
user-visible work, and of *operations*:

- ``inventory``: serve a fixed slice of the registered query inventory
  (noop sink) in a seed-shuffled order. The cycle is the whole slice; an
  operation is one query.
- ``curation_net``: the ``examples/curation_home`` jobnet with
  ``--parallel 2`` into a fresh warehouse. The cycle is the jobnet run; an
  operation is one job.
- ``stream_ingest``: an open loop; a generator thread drops seeded JSON
  files into a ``FileQueue`` at a fixed rate while the loader calls
  ``StreamingLoader.run_once`` back to back until the queue drains. A
  cycle is one micro-batch; an operation is one file, timed from its
  scheduled drop to its commit.

A workload prepares its inputs in its constructor, before any clock
starts. It has ``warmup()`` (the untimed pass of the set-up, or ``None``)
and ``measure(label)`` (one pass of ``bench.seconds``-long work where that
applies), each returning a :class:`Pass`, and ``check(pass)``, which returns the problems found in a pass's outputs and
runs outside every timed region. ``min_passes`` is the least number of
timed passes a run makes.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

#: The project's fixed test data at sf0.001 (seed 42, see TESTDATA.md),
#: copied byte for byte: the ten tables the query inventory and the example
#: homes read. It is only read. ``--seed`` varies the inventory's query
#: order and the stream's files, never these tables.
DATA = os.path.join(HERE, "testdata", "sf0.001")

#: Fingerprints of every table the curation jobnet publishes from ``DATA``
#: (``fingerprints()`` of a passing run).
EXPECTED_NET = os.path.join(HERE, "expected_curation_net.json")

#: Every eighth registered query in name order: 15 of the inventory's 118,
#: relational, pattern and staged LLM-ops queries alike. The full
#: inventory serves in ~50 s at this scale on 4 cores, which does not fit
#: a benchmark run next to its warm-up pass.
INVENTORY_STRIDE = 8

#: Open-loop stream: files per second and rows per file. The latency limit
#: on the commit p90 is 5 s (see BENCHMARK.json).
STREAM_RATE = 8.0
STREAM_ROWS = 500
#: The warm-up pass of the stream is this many seconds of arrivals.
STREAM_WARMUP_S = 1.0


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool


@dataclass
class Pass:
    wall_s: float
    cycles: list[float]
    ops: list[Op]
    out: dict = field(default_factory=dict)


class Bench:
    """What every workload shares: the session (set once it is up), a
    temporary root (removed after the run), an output directory (kept), the
    seed, the length of a measured pass and the tracer of a traced pass
    (``None`` otherwise)."""

    def __init__(self, root: str, out_dir: str, seed: int, seconds: float):
        self.spark = None
        self.root = root
        self.out_dir = out_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def group(self, name: str) -> None:
        """Label the Spark jobs this thread starts next (traced pass only)."""
        if self.tracer is not None:
            group = f"{self.tracer.run_id}/{name}"
            self.tracer.groups.add(group)
            self.spark.sparkContext.setJobGroup(group, name)

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


class Workload:
    min_passes = 1

    def warmup(self) -> Pass | None:
        return None


# ---------------------------------------------------------------------------
# inventory
# ---------------------------------------------------------------------------


class Inventory(Workload):
    name = "inventory"
    #: A warm pass serves in ~4 s, so a run times at least two.
    min_passes = 2

    def __init__(self, bench: Bench):
        from bricolage_spark.queries import load_all

        self.b = bench
        self.specs = load_all()
        names = sorted(self.specs)[::INVENTORY_STRIDE]
        random.Random(bench.seed).shuffle(names)
        self.order = names
        self.data = DATA

    def warmup(self) -> Pass:
        # The cold serve: the staged queries build the artifacts they read on
        # first use; the timed passes serve from those. It collects every
        # result (a few hundred rows at most) so that check() can compare
        # it with the oracle without serving the slice once more.
        return self.run_pass(stage=False, collect=True)

    def measure(self, label: str) -> Pass:
        # Only the traced pass rebuilds every artifact with stage_artifacts
        # (timed apart from the serve): building all 24 costs ~23 s cold and
        # ~10 s warm here, more than a run can spend.
        return self.run_pass(stage=self.b.tracer is not None)


    def run_pass(self, stage: bool, collect: bool = False) -> Pass:
        """Optionally rebuild the staged artifacts, then serve every query in
        order; the pass's wall time is the serve time."""
        from bricolage_spark.queries import llm_ops

        spark, b = self.b.spark, self.b
        traced = b.tracer is not None
        if stage:
            llm_ops.release_caches()
            b.group("stage_artifacts")
            llm_ops.stage_artifacts(spark, self.data)
        ops: list[Op] = []
        results = {}
        saves = 0
        t0 = time.perf_counter()
        for name in self.order:
            start = time.perf_counter()
            try:
                b.group(f"build/{name}")
                with b.span("queries.build", "queries"):
                    df = self.specs[name].fn(spark, self.data)
                b.group(f"exec/{name}")
                with b.span("exec.noop_save", "exec"):
                    if collect:
                        results[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        saves += 1
                ok = True
            except Exception as err:  # noqa: BLE001 — a failed query is a counted op
                print(f"[perfbench] {name} failed: {err!r:.300}", flush=True)
                ok = False
            ops.append(Op(name, time.perf_counter() - start, ok))
        wall = time.perf_counter() - t0
        if traced:
            # each write's own planning time, a share of its exec.noop_save
            for _ in range(saves):
                b.tracer.add("catalyst.plan_s", b.tracer.plans.take("overwrite"))
        return Pass(wall, [wall], ops, {"results": results})

    def check(self, p: Pass) -> list[str]:
        """Hash-match each collected result against its DuckDB oracle,
        canonicalised as ``tools/selfcheck.py`` does."""
        import duckdb

        from bricolage_spark.catalog import TESTDATA_TABLES, table_path
        from tools.selfcheck import canon, value_hash

        results = p.out["results"]
        if not results:
            return []  # a noop-sink pass: its failures are failed ops
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{table_path(self.data, t)}')"
                )
            problems = []
            for name, sdf in results.items():
                oracle = self.specs[name].oracle
                if oracle is None:
                    continue  # approximate op: it ran, nothing to compare
                s, o = canon(sdf), canon(con.sql(oracle).df())
                if len(s) != len(o) or list(s.columns) != list(o.columns):
                    problems.append(f"{name}: shape {s.shape} vs oracle {o.shape}")
                elif value_hash(s) != value_hash(o):
                    problems.append(f"{name}: value hash differs from oracle")
            return problems
        finally:
            con.close()


# ---------------------------------------------------------------------------
# curation_net
# ---------------------------------------------------------------------------


class CurationNet(Workload):
    name = "curation_net"

    def __init__(self, bench: Bench):
        self.b = bench
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.home = os.path.join(repo, "examples", "curation_home")
        self.net = os.path.join(self.home, "curation", "curation.jobnet")
        self.data = DATA

    # No warm-up: a jobnet runs in a fresh CLI process, so its cold run in a
    # new session is the run users wait for. (A warm pass after a cold one
    # would also double the run time.)

    def measure(self, label: str) -> Pass:
        return self.run_pass(label)

    def run_pass(self, label: str) -> Pass:
        from bricolage_spark.context import Context
        from bricolage_spark.engine import SparkEngine
        from bricolage_spark.runner import JobNetRunner

        b = self.b
        engine = SparkEngine(b.spark, b.path(f"wh_{label}"))
        ctx = Context(engine, home=self.home, variables={"testdata": self.data})
        starts: dict[str, float] = {}
        ops: list[Op] = []

        def before(ref, **_):
            starts[ref] = time.perf_counter()

        def after(ref, status, **_):
            ops.append(Op(ref, time.perf_counter() - starts[ref], status == "succeeded"))

        ctx.hooks.before_job.append(before)
        ctx.hooks.after_job.append(after)
        if b.tracer is not None:
            b.tracer.job_hooks(b.spark, ctx.hooks)
        runner = JobNetRunner(ctx, queue_dir=b.path(f"queue_{label}"))
        t0 = time.perf_counter()
        report = runner.run(self.net, parallel=2)
        wall = time.perf_counter() - t0
        return Pass(wall, [wall], ops, {"report": report, "engine": engine})

    def check(self, p: Pass) -> list[str]:
        """The example's own invariants, plus table fingerprints equal to
        those recorded in ``EXPECTED_NET`` for the same inputs."""
        report, engine = p.out["report"], p.out["engine"]
        if not report.success:
            return [f"jobnet failed: {report.failed}"]
        n = {t: read_table(engine, t).num_rows for t in (
            "raw_documents", "clean_documents", "scored_documents",
            "dedup_documents", "scrubbed_documents", "fresh_documents",
            "capped_documents", "length_histogram", "source_stats",
        )}
        problems = []
        if not (0 < n["clean_documents"] <= n["raw_documents"]):
            problems.append("clean_documents not within raw_documents")
        if not (0 < n["dedup_documents"] <= n["scored_documents"] <= n["clean_documents"]):
            problems.append("filter/dedup grew the corpus")
        if n["scrubbed_documents"] != n["dedup_documents"]:
            problems.append("span scrub dropped documents")
        if n["fresh_documents"] != n["scrubbed_documents"]:
            problems.append("empty history registry dropped documents")
        if n["length_histogram"] == 0:
            problems.append("length_histogram is empty")
        n_sources = len(set(read_table(engine, "capped_documents").column("source").to_pylist()))
        if n["source_stats"] != n_sources:
            problems.append("source_stats does not cover every source")
        fp = fingerprints(engine)
        p.out["fingerprints"] = fp
        with open(EXPECTED_NET) as f:
            expected = json.load(f)
        diff = sorted(t for t in set(fp) | set(expected) if fp.get(t) != expected.get(t))
        if diff:
            got = os.path.join(self.b.out_dir, "curation_net.fingerprints.json")
            with open(got, "w") as f:
                json.dump(fp, f, indent=1, sort_keys=True)
            problems.append(f"published tables differ from {EXPECTED_NET} (see {got}): {diff}")
        return problems


def read_table(engine, name: str):
    """A published table, read straight from its parquet files."""
    import pyarrow.parquet as pq

    return pq.read_table(engine.table_dir(name))


def fingerprints(engine) -> dict[str, list[int]]:
    """Row count and an order-insensitive content hash per published table."""
    import pandas as pd

    out = {}
    for schema in sorted(os.listdir(engine.warehouse)):
        sdir = os.path.join(engine.warehouse, schema)
        if not os.path.isdir(sdir):
            continue
        for name in sorted(os.listdir(sdir)):
            if "." in name or not os.path.isdir(os.path.join(sdir, name)):
                continue
            df = read_table(engine, f"{schema}.{name}").to_pandas()
            df = df[sorted(df.columns)].map(repr)
            h = int(pd.util.hash_pandas_object(df, index=False).sum())
            out[f"{schema}.{name}"] = [len(df), h]
    return out


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    name = "stream_ingest"

    def __init__(self, bench: Bench):
        self.b = bench
        n = round(STREAM_RATE * max(bench.seconds, STREAM_WARMUP_S))
        # a pass drops the first round(rate × its seconds) of these
        self.bodies = list(self._files(bench.seed, max(1, n)))

    def warmup(self) -> Pass:
        return self.run_pass("warmup", STREAM_WARMUP_S)

    def measure(self, label: str) -> Pass:
        return self.run_pass(label, self.b.seconds)

    def _files(self, seed: int, n: int):
        """``n`` files of ``STREAM_ROWS`` JSON events each; event ids are
        unique across the pass."""
        rng = np.random.default_rng(seed)
        types = ["click", "error", "purchase", "signup", "view"]
        for i in range(n):
            base = i * STREAM_ROWS
            users = rng.integers(0, 1500, STREAM_ROWS)
            kinds = rng.integers(0, len(types), STREAM_ROWS)
            values = np.round(rng.exponential(50.0, STREAM_ROWS), 2)
            yield "\n".join(
                json.dumps(
                    {"event_id": base + k, "user_id": int(users[k]),
                     "event_type": types[kinds[k]], "value": float(values[k])}
                )
                for k in range(STREAM_ROWS)
            ) + "\n"

    def run_pass(self, label: str, seconds: float) -> Pass:
        from bricolage_spark.engine import SparkEngine
        from bricolage_spark.streaming.streaming_load import FileQueue, StreamingLoader

        b = self.b
        qdir, archive = b.path(f"queue_{label}"), b.path(f"archive_{label}")
        os.makedirs(qdir)
        os.makedirs(archive)
        engine = SparkEngine(b.spark, b.path(f"wh_{label}"))
        queue = FileQueue(qdir, archive, "%Y%m%d_%H%M_%Q.json")
        loader = StreamingLoader(
            engine, queue, dest_table="stream_events", log_table="stream_events_l",
            work_table="stream_events_wk", fmt="json",
        )
        n_files = max(1, round(STREAM_RATE * seconds))
        bodies = self.bodies[:n_files]
        names = [f"20240101_0000_{i:06d}.json" for i in range(n_files)]
        due: dict[str, float] = {}
        late: list[float] = []
        t0 = time.perf_counter() + 0.2

        def generate():
            for i, (name, body) in enumerate(zip(names, bodies)):
                at = t0 + i / STREAM_RATE
                delay = at - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                tmp = os.path.join(qdir, f".{name}.tmp")
                with open(tmp, "w") as f:
                    f.write(body)
                os.rename(tmp, os.path.join(qdir, name))
                due[name] = at
                late.append(time.perf_counter() - at)

        gen = threading.Thread(target=generate, name="stream-gen")
        gen.start()
        ops: list[Op] = []
        batches: list[dict] = []
        seen: set[str] = set()
        while True:
            done = not gen.is_alive()
            start = time.perf_counter()
            b.group(f"batch/{len(batches)}")
            try:
                stats = loader.run_once()
                ok = True
            except Exception as err:  # noqa: BLE001 — a failed batch is counted
                print(f"[perfbench] batch failed: {err!r:.300}", flush=True)
                stats, ok = {"loaded_files": 0}, False
            end = time.perf_counter()
            committed = set(os.listdir(archive)) - seen
            seen |= committed
            for name in committed:
                ops.append(Op(name, end - due[name], ok))
            if stats["loaded_files"] or not ok:
                batches.append({"s": end - start, "files": len(committed), "ok": ok})
            if done and not stats["loaded_files"]:
                break  # arrivals over and nothing loaded: drained, or failing
            if ok and not stats["loaded_files"]:
                time.sleep(0.02)  # queue empty, arrivals still due
        gen.join()
        wall = time.perf_counter() - t0
        return Pass(wall, [b["s"] for b in batches], ops, {
            "engine": engine, "queue": queue, "n_files": n_files,
            "batches": batches, "late": late,
        })

    def check(self, p: Pass) -> list[str]:
        engine, n_files = p.out["engine"], p.out["n_files"]
        problems = []
        if p.out["queue"].queued_files():
            problems.append("queue did not drain")
        ids = read_table(engine, "stream_events").column("event_id").to_pylist()
        if len(ids) != n_files * STREAM_ROWS:
            problems.append(f"dest rows {len(ids)} != generated {n_files * STREAM_ROWS}")
        if len(set(ids)) != len(ids):
            problems.append("duplicate event_id in dest")
        files = read_table(engine, "stream_events_l").column("data_file").to_pylist()
        if len(files) != n_files or len(set(files)) != n_files:
            problems.append(f"load log has {len(files)} rows for {n_files} files")
        if len(p.ops) != n_files:
            problems.append(f"{len(p.ops)} commits for {n_files} files")
        return problems


WORKLOADS = {w.name: w for w in (Inventory, CurationNet, StreamIngest)}
