"""ETL-pattern queries Q28–Q30 (SURVEY.md §2.3).

These re-express the reference's three signature job-class behaviors as
pure, oracle-checkable queries over the driver testdata:

- Q28 ``insert-delta`` (jobclass/insert-delta.rb:23-26): DELETE WHERE
  delete-cond + INSERT…SELECT, idempotent on re-run → expressed as
  anti-filter ∪ recomputed-delta.
- Q29 ``rebuild-drop``/``rebuild-rename`` (jobclass/rebuild-rename.rb:28-50):
  the rebuilt table content; the atomic-swap mechanics live in
  ``jobs/rebuild.py`` and are pytest-verified.
- Q30 ``streaming_load`` dedup (jobclass/streaming_load.rb:294-330): the
  right-outer/NOT-IN load-log join that gives exactly-once file loads →
  expressed as an anti-join of candidate "files" against a load log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bricolage_spark.catalog import read_table
from bricolage_spark.queries import register
from bricolage_spark.session import artifact


# --------------------------------------------------------------------------
# Q44 tumbling-window aggregation (batch twin of the streaming operator)
# --------------------------------------------------------------------------
@register(
    "q44_tumbling_window",
    oracle="""
    SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_start_us,
           event_type,
           COUNT(*)                    AS n,
           ROUND(SUM(value), 2)        AS sum_value
    FROM events
    GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
    """,
    doc="Tumbling event-time window aggregation — the batch execution of "
    "streaming/windows.tumbling_counts (batch/stream unification); oracle "
    "via DuckDB time_bucket. Window start emitted as epoch micros.",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Q45 sliding-window aggregation
# --------------------------------------------------------------------------
@register(
    "q45_sliding_window",
    oracle="""
    WITH slides AS (
        SELECT CAST(epoch_us(time_bucket(INTERVAL 30 MINUTE, ts)) AS BIGINT) AS b_us,
               value
        FROM events
    ),
    -- each event belongs to 2 overlapping 1h windows at 30min slide:
    -- the one starting at its 30-min bucket and the one 30min earlier
    expanded AS (
        SELECT b_us AS win_start_us, value FROM slides
        UNION ALL
        SELECT b_us - 1800000000, value FROM slides
    )
    SELECT win_start_us, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM expanded
    GROUP BY win_start_us
    """,
    doc="Sliding window (1 h width, 30 min slide): Spark's window() "
    "replicates each row into width/slide windows; oracle expands "
    "explicitly.",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            "n",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Q28 insert-delta: idempotent partition upsert
# --------------------------------------------------------------------------
# dest = daily sales summary built from lineitem; the delta re-loads
# July..Dec 2000 (delete-cond: sale_month >= '2000-07-01'). Because the
# delta is recomputed from source, re-running is idempotent — the final
# state equals "full rebuild", which is exactly what the oracle computes.
_DELTA_CUTOFF = "2000-07-01"


@register(
    "q28_insert_delta",
    oracle=f"""
    WITH daily AS (
        SELECT DATE_TRUNC('month', l_shipdate)          AS sale_month,
               ROUND(SUM(l_extendedprice), 2)           AS revenue,
               COUNT(*)                                 AS n_items
        FROM lineitem
        GROUP BY DATE_TRUNC('month', l_shipdate)
    )
    SELECT sale_month, revenue, n_items FROM daily
    WHERE sale_month < TIMESTAMP '{_DELTA_CUTOFF}'
    UNION ALL
    SELECT DATE_TRUNC('month', l_shipdate)    AS sale_month,
           ROUND(SUM(l_extendedprice), 2)     AS revenue,
           COUNT(*)                           AS n_items
    FROM lineitem
    WHERE DATE_TRUNC('month', l_shipdate) >= TIMESTAMP '{_DELTA_CUTOFF}'
    GROUP BY DATE_TRUNC('month', l_shipdate)
    """,
    doc="insert-delta: keep dest rows outside delete-cond, append recomputed "
    "delta rows; running twice yields the same state (idempotent).",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_DELTA_CUTOFF).cast("timestamp")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", "l_shipdate").alias("sale_month")
        ).agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )

    # the previously-built table, minus DELETE FROM dest WHERE
    # sale_month >= cutoff (insert-delta.rb delete_cond).
    # r16: the delete-cond is applied to summarize's INPUT on the raw
    # column — the same month-boundary equivalence the delta branch got
    # in r15 (guide §6): date_trunc('month', d) < cutoff ⇔ d < cutoff
    # when cutoff is a month start (truncation never moves a date
    # across a month boundary), and filtering before the groupBy keeps
    # exactly the groups the post-aggregate filter kept. This pushes
    # the predicate into the scan (PushedFilters: LessThan(l_shipdate))
    # instead of filtering 6 aggregated rows AFTER scanning every row
    # group — at scale the win is row-group pruning on both branches.
    kept = summarize(li.filter(F.col("l_shipdate") < cutoff))
    # INSERT INTO dest SELECT ... (recomputed delta from source).
    # r15: filter on the RAW column, not date_trunc(month, ...) — a
    # derived-column predicate never reaches PushedFilters (guide §6),
    # so the delta branch re-scanned every row group. The cutoff is a
    # month boundary, so l_shipdate >= cutoff selects exactly the same
    # rows as date_trunc('month', l_shipdate) >= cutoff (truncation
    # never moves a date across a month-start boundary in one
    # direction without the raw date being across it too).
    delta = summarize(li.filter(F.col("l_shipdate") >= cutoff))
    # (idempotence of the delete+insert cycle is pytest-verified in
    # tests/test_jobs.py — re-running here would only double the plan)
    return kept.unionByName(delta)


# --------------------------------------------------------------------------
# Q29 rebuild: full recompute of a derived table
# --------------------------------------------------------------------------
@register(
    "q29_rebuild",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*)                        AS n_orders,
           ROUND(SUM(o_totalprice), 2)     AS total,
           ROUND(AVG(o_totalprice), 4)     AS avg_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="rebuild-drop/rebuild-rename content: DROP+CREATE+INSERT SELECT ... "
    "The stage-and-swap writer protocol is exercised in jobs/rebuild.py.",
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# Q30 streaming-load dedup: anti-join candidates against the load log
# --------------------------------------------------------------------------
# "Files" are the daily event batches (one file per day, named like the
# reference's %Y%m%d pattern, streaming_load.rb:455-473). The load log
# already contains days 1-14; candidates are all days; only unseen days
# load. Output = per newly-loaded file: row count + value sum.
_LOG_CUTOFF = "2024-01-15"


@register(
    "q30_streaming_load_dedup",
    oracle=f"""
    WITH files AS (
        SELECT DISTINCT STRFTIME(DATE_TRUNC('day', ts), '%Y%m%d') || '_00.json' AS data_file,
               DATE_TRUNC('day', ts) AS d
        FROM events
    ),
    load_log AS (
        SELECT data_file FROM files WHERE d < TIMESTAMP '{_LOG_CUTOFF}'
    ),
    new_files AS (
        SELECT data_file, d FROM files
        WHERE data_file NOT IN (SELECT data_file FROM load_log)
    )
    SELECT nf.data_file,
           COUNT(*)                 AS n_rows,
           ROUND(SUM(e.value), 2)   AS sum_value
    FROM events e
    JOIN new_files nf ON DATE_TRUNC('day', e.ts) = nf.d
    GROUP BY nf.data_file
    """,
    doc="Exactly-once micro-batch dedup: candidates ⟕ load-log anti-join "
    "(streaming_load.rb:294-330), then load only unseen files.",
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    # r15 optimization (guide §2.3 "aggregate before you shuffle"): the
    # old shape scanned events TWICE — once to derive the candidate file
    # list (distinct days), once re-joined against the broadcast
    # new-file list before aggregating. Per-day totals are aggregated in
    # ONE pass first (map-side combine → |days| rows); the file-name
    # derivation, the load-log anti-join (the streaming_load.rb
    # exactly-once contract), and the final projection then all run at
    # metadata scale on that tiny table. Identical output: a day's
    # aggregate is independent of which files are new, and the anti-join
    # keeps exactly the same file rows. NULL-day rows (if a ts were
    # NULL) are dropped explicitly — the old inner join on d could never
    # match them.
    day_aggs = (
        e.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .where(F.col("d").isNotNull())
    )
    files = day_aggs.select(
        F.concat(F.date_format("d", "yyyyMMdd"), F.lit("_00.json")).alias(
            "data_file"
        ),
        "d",
        "n_rows",
        "sum_value",
    )
    log_cut = F.lit(_LOG_CUTOFF).cast("timestamp")
    load_log = files.filter(F.col("d") < log_cut).select("data_file")
    new_files = files.join(load_log, "data_file", "left_anti")
    return new_files.select("data_file", "n_rows", "sum_value")


# --------------------------------------------------------------------------
# Q46/Q47 skew toolkit, oracle-checked (operators/skew.py)
# --------------------------------------------------------------------------
@register(
    "q46_salted_aggregate",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(l_quantity) AS DOUBLE), 2) AS sum_qty,
           CAST(COUNT(l_orderkey) AS BIGINT)         AS n_items,
           CAST(MAX(l_extendedprice) AS DOUBLE)      AS max_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Aggregation-skew recipe: only ~6 (returnflag, linestatus) groups "
    "exist, so a plain groupBy pins all of lineitem on ~6 reduce tasks. "
    "salted_aggregate (operators/skew.py) splits each hot group across 16 "
    "content-derived salts (phase 1), then merges partials (phase 2) — "
    "identical answer, 16× the reduce parallelism.",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.skew import salted_aggregate

    li = read_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        {"l_quantity": "sum", "l_orderkey": "count", "l_extendedprice": "max"},
        salt_from="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.col("count_l_orderkey").alias("n_items"),
        F.col("max_l_extendedprice").alias("max_price"),
    )


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )


# Hot-key statistics memo: the sampled probe is the statistics-free stand-
# in for ANALYZE table stats, and like real stats it is computed once per
# (session, table), not once per query run.
@artifact
def _orders_hot_keys(spark: SparkSession, sf_dir: str) -> list:
    from bricolage_spark.operators.skew import detect_hot_keys

    return detect_hot_keys(_orders(spark, sf_dir), "c_custkey")


@register(
    "q47_salted_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT)                   AS n_orders,
           ROUND(CAST(SUM(o.o_totalprice) AS DOUBLE), 2) AS sum_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Join-skew recipe: salted_join (operators/skew.py) probes the "
    "fact side for heavy hitters (sampled key histogram) and only pays "
    "mitigation where skew exists — hot keys are salted across 16 tasks "
    "against a dim replicated FOR THOSE KEYS ONLY, the uniform rest takes "
    "the plain (broadcast-able) join. A rewrite identity either way, so "
    "the oracle is the plain join. On this uniform testdata the probe "
    "finds no hot keys and the plan IS the plain join — the mitigation "
    "machinery is exercised by the skewed-fixture pytest cases.",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.skew import salted_join

    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        _orders(spark, sf_dir),
        c,
        key="c_custkey",
        salt_from="o_orderkey",
        hot=_orders_hot_keys(spark, sf_dir),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Q55 batch sessionization (gap-based sessions — batch twin of
# streaming/stateful.py's applyInPandasWithState sessionizer)
# --------------------------------------------------------------------------
_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


@register(
    "q55_sessionization",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts)
                         - LAG(epoch_us(ts)) OVER (
                               PARTITION BY user_id ORDER BY ts, event_id)
                         > {_SESSION_GAP_US}
                    OR LAG(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, value, ts_us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           CAST(session_id AS BIGINT)          AS session_id,
           CAST(COUNT(*) AS BIGINT)            AS n_events,
           CAST(MIN(ts_us) AS BIGINT)          AS sess_start_us,
           CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us,
           ROUND(SUM(value), 2)                AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization in batch: a session breaks after 30 min "
    "of user inactivity. lag-diff marks session starts, a running sum "
    "numbers them, one aggregation summarizes — all windows partitioned "
    "by user_id (the natural key; never a global-order window), ties "
    "broken by event_id for cross-engine determinism. The streaming twin "
    "(streaming/stateful.py) holds the same session state in "
    "applyInPandasWithState.",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    new_s = (
        prev.isNull() | ((F.col("ts_us") - prev) > _SESSION_GAP_US)
    ).cast("long")
    sess = e.withColumn(
        "session_id",
        F.sum(new_s).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("sess_start_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Q66 bucketed interval join (points-in-window matching without a
# nested-loop join) — error-burst attribution over the events stream
# --------------------------------------------------------------------------
_IJ_WINDOW_US = 600_000_000  # 10 minutes


@register(
    "q66_interval_join",
    oracle=f"""
    WITH w AS (
        SELECT event_id AS window_id,
               epoch_us(ts)                    AS start_us,
               epoch_us(ts) + {_IJ_WINDOW_US}  AS end_us
        FROM events WHERE event_type = 'error'
    ),
    p AS (SELECT epoch_us(ts) AS ts_us, user_id, value FROM events)
    SELECT w.window_id,
           CAST(COUNT(*) AS BIGINT)                 AS n_events,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
           ROUND(SUM(p.value), 2)                   AS sum_value
    FROM w JOIN p ON p.ts_us >= w.start_us AND p.ts_us < w.end_us
    GROUP BY w.window_id
    """,
    doc="Interval (range) join at scale: attribute all activity within 10 "
    "minutes of each error event to that error's window. A naive BETWEEN "
    "join has no equi-key and Spark would plan a broadcast-nested-loop; "
    "operators/interval.py bins both sides on floor(ts/W) so the match "
    "becomes a plain hash equi-join + residual filter, each pair produced "
    "exactly once (interval length == bucket width → ≤2 bucket rows per "
    "window). Oracle: the literal BETWEEN join (DuckDB IEJoin).",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bricolage_spark.operators.interval import bucketed_interval_join

    e = read_table(spark, sf_dir, "events")
    pts = e.select(
        F.unix_micros("ts").alias("ts_us"), "user_id", "value"
    )
    wins = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("window_id"),
        F.unix_micros("ts").alias("start_us"),
        (F.unix_micros("ts") + F.lit(_IJ_WINDOW_US)).alias("end_us"),
    )
    j = bucketed_interval_join(
        pts,
        wins,
        point_ts="ts_us",
        start_col="start_us",
        end_col="end_us",
        bucket_width=_IJ_WINDOW_US,
    )
    return j.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
