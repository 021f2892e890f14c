"""SparkSession factory tuned for the engine.

The defaults are chosen for correctness-at-scale first:

- AQE on (runtime join re-planning, skew-join splitting, partition
  coalescing) — replaces the manual ``distkey`` tuning the reference
  delegates to Redshift (``lib/bricolage/psqldatasource.rb`` COPY opts).
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE coalesces down from a high initial number, so a large value
  is safe — we set 200 unless local.
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
- Timestamps kept in session-local UTC so DuckDB-oracle comparisons and
  Parquet round-trips are stable.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import SparkSession

_APP_NAME = "bricolage_spark"


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = _APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a production deployment the caller passes the cluster master / lets
    spark-submit decide; every setting here is master-agnostic.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    shuffle_parts = str(max(2 * cores, 32)) if master.startswith("local") else "400"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- concurrent jobs (staging pool, overlapped materializations) -
        # FAIR task scheduling between the engine's concurrent jobs
        # (stage_artifacts' thread pool, q112's overlapped builds).
        # Under FIFO a queued job's tasks wait for every earlier job's
        # current stage to drain, so the 8-thread staging pool
        # quantum-thrashes at high core counts; FAIR round-robins task
        # slots across the live jobs. Measured on the 32-core artifact
        # build (r16, alternating same-minute runs): FIFO 19.3/17.9 s →
        # FAIR 13.4/15.9 s; at 8 cores inside noise (15.5 vs 16.1 s).
        # Scale-agnostic (single-job work is untouched — there is nothing
        # to arbitrate) and semantics-free; env-overridable for A/Bs.
        .config(
            "spark.scheduler.mode",
            os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR"),
        )
        # --- adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the output partitioning of persisted frames
        # (off by default). The engine's staged artifacts (shingle table,
        # IVF index) are .persist()ed and re-read by several queries; with
        # the default, the cache freezes the pre-AQE partition count and
        # every consumer stage re-schedules those micro-partitions. The
        # trade (a possible extra shuffle if a consumer needed the
        # original partitioning) is AQE-arbitrated per plan. Measured
        # −10–40% on the shingle-cache consumers at sf0.1.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # --- scan efficiency --------------------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Split size: 128 MiB is the right cluster default, but local test
        # files are single small parquets — without smaller splits every
        # scan collapses to ONE partition and all downstream work runs on
        # one core. 4 MiB locally ≈ row-group granularity; a cluster
        # deployment passes its own master and gets 128 MiB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            "4194304" if master.startswith("local") else "134217728",
        )
        .config("spark.sql.files.openCostInBytes", "1048576")
        # --- python interop (pandas-UDF slow path) ----------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- deterministic comparisons ----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps with no timezone annotation must read as
        # TIMESTAMP (session-UTC), not TIMESTAMP_NTZ: time functions such
        # as unix_micros()/window() reject NTZ inputs, and with the session
        # timezone pinned to UTC the two types have identical values.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # broadcast thresholds, two knobs on purpose. STATIC planning
        # compares scan-stats (≈ raw bytes): 64 MiB keeps the dims
        # (region/nation/supplier/part) broadcastable even at large SF.
        # AQE's runtime SMJ→BHJ conversion instead compares MEASURED
        # shuffle bytes, which are COMPRESSED — sorted fixed-width keys
        # compress ~10x, so "64 MiB compressed" can be a multi-GiB
        # deserialized HashedRelation (measured: a 12.9M-row candidate-
        # pair table slipped under 64 MiB compressed and OOM'd the
        # broadcast build at 64x scale-probe data). The adaptive
        # threshold therefore stays at 16 MiB: dims still convert, a
        # data-proportional intermediate never does.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(16 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_token(spark: SparkSession | None = None) -> str:
    """A key component that changes whenever the underlying JVM session
    does. :class:`ArtifactCache` keys include it, so a stopped/restarted
    session can never be handed a dead Py4J reference (persisted
    DataFrame, parsed Column) — the new session simply misses and
    rebuilds.
    """
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        return "<no-session>"
    sc = spark.sparkContext
    return f"{sc.applicationId}/{sc.startTime}"


_MISSING = object()


class ArtifactCache:
    """Build-once memo of session-scoped intermediates: staged artifacts,
    table handles, parsed expressions.

    An entry is keyed by (session token, absolute data dir, name, params).
    Each key has its own build lock, so concurrent callers build an entry
    once and the others wait for it; a build that calls ``get`` for
    another key therefore waits until that dependency is built. A value is
    stored only when its build returns, so a raising build leaves no entry
    and the next caller builds again.
    """

    def __init__(self) -> None:
        self._values: dict[tuple, object] = {}
        self._locks: dict[tuple, threading.Lock] = {}
        self._guard = threading.Lock()

    def get(self, spark, sf_dir, name: str, params: tuple, build):
        key = (
            session_token(spark),
            None if sf_dir is None else os.path.abspath(sf_dir),
            name,
            params,
        )
        value = self._values.get(key, _MISSING)
        if value is not _MISSING:
            return value
        with self._guard:
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            value = self._values.get(key, _MISSING)
            if value is _MISSING:
                value = self._values[key] = build()
            return value

    def release(self, sf_dir: str | None = None) -> None:
        """Drop every entry (all, or one data dir's).

        Persisted DataFrames of the live session, also inside tuples, are
        unpersisted. An entry keyed by a stopped session's token is only
        dropped: its storage died with that session, and ``unpersist`` on
        the dead Py4J handle raises from the driver endpoint.
        """
        path = None if sf_dir is None else os.path.abspath(sf_dir)
        with self._guard:
            keys = [k for k in self._values if path is None or k[1] == path]
            dropped = [(k[0], self._values.pop(k)) for k in keys]
            for k in keys:
                self._locks.pop(k, None)
        live = session_token()
        for token, value in dropped:
            if token != live:
                continue
            for handle in value if isinstance(value, tuple) else (value,):
                # `is True`: a Column answers any attribute with a Column
                if getattr(handle, "is_cached", False) is True:
                    handle.unpersist(blocking=False)
        # localCheckpoint-backed artifacts free their executor blocks only
        # after the JVM notices the checkpoint RDD is unreachable (py4j ref
        # dropped -> JVM GC -> ContextCleaner). A long-lived driver with a
        # quiet old-gen can sit on gigabytes of dead blocks for a long time
        # (the r12 64x octave exhausted the unified pool exactly that way),
        # so nudge the chain; ContextCleaner does the actual free.
        spark = SparkSession.getActiveSession()
        if spark is not None:
            try:
                spark._jvm.System.gc()
            except Exception:
                pass  # no JVM (stopped session) — nothing to free


#: The process's one artifact cache.
ARTIFACTS = ArtifactCache()


def artifact(build):
    """Memoise ``build(spark, sf_dir, *params)`` in :data:`ARTIFACTS`,
    keyed by the function's qualified name and ``params``. A build that
    persists a DataFrame must also materialise it before returning, so a
    caller that waited on the build lock never races its first job."""
    name = f"{build.__module__}.{build.__qualname__}"

    @functools.wraps(build)
    def get(spark, sf_dir, *params):
        return ARTIFACTS.get(
            spark, sf_dir, name, params, lambda: build(spark, sf_dir, *params)
        )

    return get


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
