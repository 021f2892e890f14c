"""Warehouse/catalog helpers: map the reference's ``schema.table`` world
onto Parquet datasets + Spark temp views.

The reference's only data object is a Redshift table name spliced into SQL
text (``lib/bricolage/sqlstatement.rb:302-349``). Here a "table" is a
Parquet directory registered as a temp view; ``load_testdata`` wires the
driver's TPC-H-ish tables (TESTDATA.md) into the session catalog so both
``spark.sql`` and DataFrame code can see them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bricolage_spark.session import artifact

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins: even at
# sf=100 (≈100 TB lineitem) region/nation are tiny and supplier/part grow
# slowly; Catalyst + AQE handle the threshold, these are the ones we hint
# explicitly in query code.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver's events.parquet carries TIMESTAMP(NANOS) — a type Spark's
    # parquet reader rejects outright. Read nanos as raw int64 and rebuild a
    # (microsecond) timestamp; set defensively here because the driver may
    # hand us a session built without this legacy conf.
    # Re-asserted on cache HITS too (r15 ADVICE): a mid-session conf
    # reset by the driver must not leave later SCANS of the memoized
    # handle (the read conf is consulted at execution) mis-configured —
    # two runtime conf sets are microseconds.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Likewise no-timezone parquet timestamps must surface as TIMESTAMP
    # (session-UTC), not TIMESTAMP_NTZ — unix_micros()/window() reject NTZ
    # and the session timezone is pinned to UTC so values are identical.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return _table_handle(spark, sf_dir, name)


# Logical-plan handle memo. A DataFrame is an immutable, lazily-evaluated
# plan — NOT data: every action on the memoized handle recomputes from the
# parquet files, so this caches only the driver-side construction cost
# (two conf round-trips, file listing, footer/schema read — measured
# ~0.12 s per call, paid by every query build before this memo; guide
# §6's file-listing-cache point at the API layer).
# Staleness caveat (same contract as the staged artifacts): the handle
# snapshots the file listing at first read — regenerating parquet under
# the SAME sf_dir within one session requires ARTIFACTS.release(sf_dir).
# Audited (r16, r15 ADVICE ask): no in-repo code path rewrites parquet
# under an sf_dir this memo serves — the one in-place writer
# (streaming_load's stage-and-move) targets the SparkEngine WAREHOUSE,
# whose register() re-reads fresh and never touches this cache; test
# fixtures use per-test tmp dirs.
@artifact
def _table_handle(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer div, not /: double division of ~1.7e18 nanos loses the
            # low microsecond bits (53-bit mantissa) → off-by-one timestamps
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Belt-and-suspenders: a frame scanned before the conf applied.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register testdata tables as temp views; return the frames.

    Pass ``tables`` to register only what a query needs — registering all
    ten reads every parquet footer, which is pure latency for SQL-text
    queries touching two tables.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread(df: DataFrame, *cols: str, cap: int | None = None) -> DataFrame:
    """Ensure enough partitions to use every core before CPU-heavy stages.

    The driver testdata is one single-row-group parquet per table, so a
    scan yields ONE partition and any explode/hash/percentile work after
    it runs on one core. At production scale inputs arrive in hundreds of
    splits and this is a no-op (the partition-count check): the
    repartition only fires when the input is under-partitioned relative
    to the cluster.

    ``cap`` bounds the fan-out for stages with high per-partition fixed
    cost (Python worker spin-up in mapInPandas): small inputs get fewer,
    fuller Arrow batches.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if cap is not None:
        target = min(target, cap)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
