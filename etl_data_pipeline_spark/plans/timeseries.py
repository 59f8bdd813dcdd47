"""Time-series queries over ``events`` — resampling and gap-filling,
the hypertable-rollup-shaped operations an events store needs beyond
plain windowed aggregation (J1-J4 live in plans/events.py).

Oracle parity notes: ts is pre-cast to microseconds in every oracle CTE
(mirrors Spark's ns->us ingest truncation, same convention as
j9_stream_stream_join); open/close/min/max move single values (no
accumulation order to disagree on); summed doubles go through the
grid_sum fixed-point discipline (functions/canonical.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.functions.canonical import grid_sum
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.session import group_buckets


@query(
    "resample_ohlc",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, value,
             DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(ts AS TIMESTAMP) AS tsu
      FROM events
    ), v AS (
      SELECT user_id, h, value,
             FIRST_VALUE(value) OVER (PARTITION BY user_id, h
               ORDER BY tsu, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS open,
             LAST_VALUE(value) OVER (PARTITION BY user_id, h
               ORDER BY tsu, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS close
      FROM ev
    )
    SELECT user_id, CAST(h AS VARCHAR) AS hour_start,
           ANY_VALUE(open) AS open, ANY_VALUE(close) AS close,
           MIN(value) AS low, MAX(value) AS high,
           COUNT(*) AS n_events
    FROM v GROUP BY user_id, h
    """,
)
def resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample to per-user hourly OHLC bars (open/high/low/close +
    count) — the candlestick rollup. First/last are taken under the
    total order (ts, event_id) via an unbounded frame window; min/max/
    count are plain aggregates. One shuffle on (user_id, hour), both the
    window and the groupBy reuse it.

    Scale: partition count = users x hours, uniformly sized; no
    per-stratum global sort (each frame sorts only its own hour)."""
    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    w = (
        Window.partitionBy("user_id", "h")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    v = ev.withColumn("h", h).select(
        "user_id",
        "h",
        "value",
        F.first("value").over(w).alias("open"),
        F.last("value").over(w).alias("close"),
    )
    return v.groupBy("user_id", "h").agg(
        F.any_value("open").alias("open"),
        F.any_value("close").alias("close"),
        F.min("value").alias("low"),
        F.max("value").alias("high"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "user_id",
        F.col("h").cast("string").alias("hour_start"),
        "open",
        "close",
        "low",
        "high",
        "n_events",
    )


@query(
    "gap_fill_locf",
    oracle="""
    WITH ev AS (
      SELECT user_id, value,
             DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h
      FROM events
    ), hourly AS (
      SELECT user_id, h,
             SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0
               AS total_value
      FROM ev GROUP BY user_id, h
    ), spine AS (
      SELECT user_id,
             UNNEST(GENERATE_SERIES(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h
      FROM ev GROUP BY user_id
    ), joined AS (
      SELECT s.user_id, s.h, hr.total_value
      FROM spine s LEFT JOIN hourly hr
        ON hr.user_id = s.user_id AND hr.h = s.h
    )
    SELECT user_id, CAST(h AS VARCHAR) AS hour_start,
           LAST_VALUE(total_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS total_value,
           total_value IS NULL AS gap_filled
    FROM joined
    """,
)
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling: a dense per-user hourly spine (sequence + explode
    between each user's first and last active hour) left-joined to the
    hourly totals, with missing hours filled by last-observation-carried-
    forward (last(..., ignoreNulls) over an ordered running frame).
    ``gap_filled`` marks synthesized rows.

    Scale: the spine is generated, never materialized wide (one row per
    user before explode); the LOCF window shuffles on user_id only and
    each user's frame is |hours| rows. Totals use the grid_sum
    fixed-point discipline so parity is exact."""
    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    hourly = (
        ev.select("user_id", h.alias("h"), "value")
        .groupBy("user_id", "h")
        .agg(grid_sum(F.col("value")).alias("total_value"))
    )
    spine = (
        ev.select("user_id", h.alias("h"))
        .groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("h").cast("string").alias("hour_start"),
        F.last("total_value", ignorenulls=True).over(w).alias("total_value"),
        F.col("total_value").isNull().alias("gap_filled"),
    )


@query(
    "daily_active_cumulative",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT first_day, COUNT(*) AS new_users FROM firsts GROUP BY first_day
    )
    SELECT CAST(first_day AS VARCHAR) AS day,
           new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day) AS BIGINT)
             AS cum_users
    FROM per_day
    """,
)
def daily_active_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-growth rollup: first-seen day per user, daily new-user
    counts, and the running cumulative user total — the standard DAU/
    growth curve computed from raw events. Two aggregations collapse
    the event volume to |users| then |days| rows BEFORE the window
    runs, so the running sum is driver-cheap at any scale; the global
    ordered window over the day series is fine because days are few
    (a per-cohort partition would restore parallelism if not)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = firsts.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("first_day").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@query(
    "e5_running_distinct",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
      FROM events WHERE user_id < 50
    ), flagged AS (
      SELECT user_id, event_id, event_type, tsu,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY tsu, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM ev
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY tsu, event_id)
                AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def e5_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 (added): RUNNING COUNT DISTINCT — a window no engine supports
    natively (COUNT(DISTINCT) OVER is invalid in both Spark and DuckDB)
    — via the first-occurrence-flag decomposition: mark each (user,
    event_type)'s first event with row_number()=1, then a running sum
    of flags per user. Two window passes over the same sort order, one
    shuffle on user_id; the identical formulation is the oracle, so
    parity pins the trick itself."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
        "ts",
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).alias("distinct_types_so_far"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events
    ), v AS (
      SELECT user_id, MIN(tsu) AS t_view
      FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, v.t_view, MIN(e.tsu) AS t_click
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.tsu > v.t_view
      GROUP BY e.user_id, v.t_view
    ), p AS (
      SELECT e.user_id, c.t_click, MIN(e.tsu) AS t_purchase
      FROM ev e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.tsu > c.t_click
      GROUP BY e.user_id, c.t_click
    )
    SELECT v.user_id,
           CAST(v.t_view AS VARCHAR) AS t_view,
           CAST(c.t_click AS VARCHAR) AS t_click,
           CAST(p.t_purchase AS VARCHAR) AS t_purchase,
           1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
             + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each stage
    counts only if it happens strictly AFTER the user's first event of
    the previous stage — the temporal constraint that separates a funnel
    from three independent GROUP BYs. Three filtered min-aggregations
    chained by user_id equi-joins; every join and agg hash-partitions on
    user_id, so at cluster scale the whole chain reuses one exchange
    (and each stage's input shrinks monotonically — classic funnel
    pruning). Timestamps cross the oracle boundary as strings; stage is
    1/2/3 = deepest step reached."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id",
            F.col("t_view").cast("string").alias("t_view"),
            F.col("t_click").cast("string").alias("t_click"),
            F.col("t_purchase").cast("string").alias("t_purchase"),
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("stage"),
        )
    )


@query(
    "anomaly_p95",
    oracle="""
    WITH thr AS (
      SELECT user_id, ROUND(QUANTILE_CONT(value, 0.95), 6) AS p95
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.value, thr.p95
    FROM events e JOIN thr ON e.user_id = thr.user_id
    WHERE e.value > thr.p95
    """,
)
def anomaly_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity outlier flagging: exact 95th-percentile threshold per
    user, then every event strictly above its user's threshold. The
    agg-then-join-back shape is the standard "compare each row to its
    group statistic" pattern; both legs hash-partition on user_id so the
    join reuses the aggregation's exchange. Exact percentile sorts per
    group (fine per-user — groups are bounded); the 6dp round is the
    same single-interpolated-value convention d8 proved cross-engine.
    At 100 TB swap percentile for percentile_approx and the rest of the
    plan is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    thr = ev.groupBy("user_id").agg(
        F.round(F.percentile("value", 0.95), 6).alias("p95")
    )
    return (
        ev.join(thr, "user_id")
        .filter(F.col("value") > F.col("p95"))
        .select("event_id", "user_id", "value", "p95")
    )


@query(
    "rollup_reuse_daily_monthly",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
             SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS micros,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(DATE_TRUNC('month', day) AS VARCHAR) AS month, event_type,
           SUM(micros) / 1000000.0 AS total_value,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           COUNT(*) AS n_days
    FROM daily GROUP BY 1, 2
    """,
)
def rollup_reuse_daily_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup REUSE — the materialized-view discipline of a
    warehouse ETL: the monthly aggregate is computed FROM the daily
    aggregate, not from raw events, so the expensive corpus-wide pass
    happens once and each coarser grain reads the (tiny) finer one.
    Exactness survives re-aggregation because the daily level keeps the
    fixed-point BIGINT micro-sum (grid_sum's internal representation)
    and only the final monthly projection divides back to double —
    summing already-divided doubles would reintroduce order dependence.
    At scale the daily table is what you'd persist (partitioned by
    month); the monthly pass is then a metadata-pruned scan of it."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum(F.floor(F.col("value") * 1_000_000)).alias("micros"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        daily.groupBy(
            F.date_trunc("month", "day").cast("date").cast("string").alias(
                "month"
            ),
            "event_type",
        )
        .agg(
            (F.sum("micros") / 1_000_000.0).alias("total_value"),
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@query(
    "rolling_median",
    oracle="""
    SELECT event_id, user_id,
           QUANTILE_CONT(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS med5
    FROM events
    """,
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of each user's last 5 event values — the
    robust-smoothing pass (median beats mean under spiky telemetry) that
    rolling-mean frames (e3) can't express. Exact percentile as a WINDOW
    aggregate: the frame holds <= 5 values, so the per-row sort is O(5)
    — constant state per row at any table size, shuffled once on
    user_id. (ts, event_id) ordering is a total order, so frames are
    identical cross-engine; the 2-value interpolation (a+b)/2 is one
    IEEE op, deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.expr("percentile(value, 0.5)").over(w).alias("med5"),
    )


@query(
    "trend_slope",
    oracle="""
    WITH base AS (
      SELECT user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT)
               - MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id) AS x,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS y
      FROM events
    ), s AS (
      SELECT user_id,
             COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM base GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6)
             AS slope_micro_per_sec
    FROM s
    """,
)
def trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity trend detection: ordinary-least-squares slope of each
    user's event value over time — slope = (nSxy - SxSy)/(nSxx - Sx^2).

    Exactness: x is whole seconds REBASED to the user's first event
    (bounded ~2.6e6 for a month), y is the 1e-6 value grid — so every
    per-row product fits a 64-bit long and the four sums run as
    DECIMAL(38,0)/HUGEINT: all integer algebra until one final
    double division (NULLIF-guarded for single-instant users), rounded
    to 1e-6 — required because DuckDB's HUGEINT->DOUBLE cast does not
    round-to-nearest like Java's BigDecimal.doubleValue (verified: one
    ulp apart at the 16th significant digit), so the raw quotients can
    differ in the last place. One shuffle on user_id (the rebase min()
    is a window over the same partitioning the aggregate reuses).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.min(F.unix_timestamp("ts")).over(w)
        ).alias("x"),
        F.floor(F.col("value") * 1000000).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias(
            "slope_micro_per_sec"
        ),
    )


@query(
    "ewma_smooth",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS v,
             CAST(ts AS TIMESTAMP) AS tsu
      FROM events
    ), lagged AS (
      SELECT user_id, event_id, v AS l0,
             LAG(v, 1) OVER w AS l1, LAG(v, 2) OVER w AS l2,
             LAG(v, 3) OVER w AS l3, LAG(v, 4) OVER w AS l4,
             LAG(v, 5) OVER w AS l5, LAG(v, 6) OVER w AS l6,
             LAG(v, 7) OVER w AS l7
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
    )
    SELECT user_id, event_id,
           (l0 * 128 + COALESCE(l1, 0) * 64 + COALESCE(l2, 0) * 32
            + COALESCE(l3, 0) * 16 + COALESCE(l4, 0) * 8
            + COALESCE(l5, 0) * 4 + COALESCE(l6, 0) * 2
            + COALESCE(l7, 0)) AS num,
           CAST(128 + CASE WHEN l1 IS NULL THEN 0 ELSE 64 END
            + CASE WHEN l2 IS NULL THEN 0 ELSE 32 END
            + CASE WHEN l3 IS NULL THEN 0 ELSE 16 END
            + CASE WHEN l4 IS NULL THEN 0 ELSE 8 END
            + CASE WHEN l5 IS NULL THEN 0 ELSE 4 END
            + CASE WHEN l6 IS NULL THEN 0 ELSE 2 END
            + CASE WHEN l7 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS den,
           CAST((l0 * 128 + COALESCE(l1, 0) * 64 + COALESCE(l2, 0) * 32
            + COALESCE(l3, 0) * 16 + COALESCE(l4, 0) * 8
            + COALESCE(l5, 0) * 4 + COALESCE(l6, 0) * 2
            + COALESCE(l7, 0)) AS DOUBLE)
           / CAST((128 + CASE WHEN l1 IS NULL THEN 0 ELSE 64 END
            + CASE WHEN l2 IS NULL THEN 0 ELSE 32 END
            + CASE WHEN l3 IS NULL THEN 0 ELSE 16 END
            + CASE WHEN l4 IS NULL THEN 0 ELSE 8 END
            + CASE WHEN l5 IS NULL THEN 0 ELSE 4 END
            + CASE WHEN l6 IS NULL THEN 0 ELSE 2 END
            + CASE WHEN l7 IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
           / 1000000.0 AS ewma
    FROM lagged
    """,
)
def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2) per user,
    truncated at depth 8 — the smoothing primitive for metric streams.

    Exactness: the textbook recursion ewma_t = a*v_t + (1-a)*ewma_{t-1}
    is order-SERIAL (each value depends on the whole prefix), which is
    both unscalable and float-order-fragile. Truncating at 8 taps makes
    it a finite FIR filter whose alpha=1/2 weights are exact powers of
    two: values land on the 1e-6 grid (one IEEE multiply + floor, bit-
    identical cross-engine), the weighted numerator and the present-tap
    denominator are exact BIGINTs, and the final value is two pinned
    IEEE divisions. Truncation error vs the infinite recursion is
    <= 2^-8 of the value range — below the grid.

    Scale: one shuffle on user_id, then 8 O(1) LAG reads per row inside
    a single window pass — no per-row Python, no growing state. The
    num/den integers ride along so the check is hashable end-to-end.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("v"),
        "ts",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("v")] + [F.lag("v", i).over(w) for i in range(1, 8)]
    weights = [128, 64, 32, 16, 8, 4, 2, 1]
    lagged = ev.select(
        "user_id",
        "event_id",
        *[lag.alias(f"l{i}") for i, lag in enumerate(lags)],
    )
    num = sum(
        (F.coalesce(F.col(f"l{i}"), F.lit(0)) * weights[i] for i in range(8)),
        start=F.lit(0),
    )
    den = sum(
        (
            F.when(F.col(f"l{i}").isNull(), 0).otherwise(weights[i])
            for i in range(8)
        ),
        start=F.lit(0),
    )
    return lagged.select(
        "user_id",
        "event_id",
        num.cast("bigint").alias("num"),
        den.cast("bigint").alias("den"),
        (
            num.cast("double") / den.cast("double") / F.lit(1000000.0)
        ).alias("ewma"),
    )


#: CUSUM tuning on the exact cents grid: reference drift (subtracted per
#: step) and alarm threshold. 60.00 sits above the value mean (~49.6) so
#: the statistic hovers near zero and only sustained or extreme bursts
#: climb; 300.00 is ~5 reference units of accumulated excess.
CUSUM_K_REF = 6_000
CUSUM_H = 30_000


def _cusum_bucket(pdf):
    """CUSUM pass for one BUCKET of users: one global (user, ts,
    event_id) sort, then the sequential per-user recursion
    S_i = max(0, S_{i-1} + (v_i - k)) with alarm-and-reset at h.
    O(1) state and O(rows) time per key, exactly as the former
    per-user kernel — the bucket only changes how many keys share one
    Arrow round-trip (r15 optimization round, guide §4: grouped-Python
    cost is per GROUP, so keying by raw user_id paid the boundary tax
    n_users times)."""
    import pandas as pd

    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    out = []
    for uid, g in pdf.groupby("user_id", sort=False):
        s = alarms = mx = 0
        for v in g["v"]:
            s = max(0, s + int(v) - CUSUM_K_REF)
            mx = max(mx, s)
            if s > CUSUM_H:
                alarms += 1
                s = 0
        out.append([int(uid), len(g), alarms, mx])
    return pd.DataFrame(
        out, columns=["user_id", "n_events", "n_alarms", "max_s"]
    )


@query(
    "cusum_changepoint",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ), nn AS (
      SELECT user_id, MAX(rn) AS n_events FROM seq GROUP BY user_id
    ), rec AS (
      SELECT user_id, 0::BIGINT AS rn, 0::BIGINT AS s,
             0::BIGINT AS n_alarms, 0::BIGINT AS max_s
      FROM (SELECT DISTINCT user_id FROM seq)
      UNION ALL
      SELECT r.user_id, r.rn + 1,
             CASE WHEN GREATEST(0, r.s + q.v - {CUSUM_K_REF}) > {CUSUM_H}
                  THEN 0
                  ELSE GREATEST(0, r.s + q.v - {CUSUM_K_REF}) END,
             r.n_alarms
               + CASE WHEN GREATEST(0, r.s + q.v - {CUSUM_K_REF}) > {CUSUM_H}
                      THEN 1 ELSE 0 END,
             GREATEST(r.max_s, GREATEST(0, r.s + q.v - {CUSUM_K_REF}))
      FROM rec r JOIN seq q ON q.user_id = r.user_id AND q.rn = r.rn + 1
    )
    SELECT r.user_id,
           CAST(nn.n_events AS BIGINT) AS n_events,
           r.n_alarms, r.max_s
    FROM rec r JOIN nn ON nn.user_id = r.user_id AND r.rn = nn.n_events
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM changepoint/burst detection over the event stream:
    the one-sided cumulative-sum statistic S_i = max(0, S_{{i-1}} +
    (value_i - k)) with alarm-and-reset at threshold h (Page, 1954) —
    the standard sequential drift detector for metrics pipelines.

    The recursion is inherently sequential PER KEY, so the Spark plan is
    the canonical stateful grouped-map: one shuffle on a user-id BUCKET
    (pmod(user_id, B) — r15 optimization round), then ``applyInPandas``
    running the per-user recursion over each bucket's users — exactly
    how the streaming siblings (j7) carry state, here in batch form.
    Bucketing changes only how many users share one Arrow round-trip
    (the per-GROUP boundary tax, guide §4); the recursion still never
    crosses users, so the result is invariant to B.  Interleaved A/B at
    sf0.1: identical 1,500 rows, 2.9-3.2 s per-user -> bucketed.
    The oracle is the same recursion as a DuckDB recursive CTE, so the
    parity check covers the full alarm/reset semantics, not just row
    counts.

    B = session.group_buckets(spark, n, 1M) caps the expected bucket
    frame at ~1M rows = ~32 MB of int64 columns (4 cols x 8 B;
    pmod(user_id) spreads users uniformly).  n comes from one count()
    job.  Invariance to B is pinned by test_cusum_bucket_invariance.

    Exactness: values land on the cents grid via FLOOR(v*100 + 0.5) —
    one IEEE multiply-add + floor, bit-identical cross-engine, never
    ROUND on doubles — and everything after is BIGINT algebra. Scale:
    state per key is three integers; keys fan out across executors;
    no driver participation.
    """
    events = load_table(spark, sf_dir, "events")
    n = events.count()  # bounded driver pin: one scalar
    nb = group_buckets(spark, n, 1_000_000)
    ev = events.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
        F.pmod(F.col("user_id"), F.lit(nb)).alias("bkt"),
    )
    return (
        ev.groupBy("bkt")
        .applyInPandas(
            _cusum_bucket,
            schema="user_id long, n_events long, n_alarms long, max_s long",
        )
    )


@query(
    "robust_zscore_mad",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), med AS (
      SELECT user_id, CAST(2 * MEDIAN(c) AS BIGINT) AS med2
      FROM c GROUP BY user_id
    ), dev AS (
      SELECT c.user_id, ABS(2 * c.c - m.med2) AS absdev2
      FROM c JOIN med m USING (user_id)
    ), mad AS (
      SELECT user_id, CAST(2 * MEDIAN(absdev2) AS BIGINT) AS mad4
      FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(m.med2) AS med2,
           MIN(a.mad4) AS mad4,
           CAST(SUM(CASE WHEN 2 * d.absdev2 > 3 * a.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d
    JOIN med m USING (user_id)
    JOIN mad a USING (user_id)
    GROUP BY d.user_id
    """,
)
def robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per user: median / MAD (median absolute
    deviation) instead of mean / stddev — the estimator that does NOT
    let the outliers you are hunting inflate the threshold (50%
    breakdown point vs 0% for z-scores; anomaly_p95 is the quantile
    sibling, this is the robust-location one). Flags |dev| > 3*MAD.

    Exactness trick: both medians ride the DOUBLED-integer form — for
    cents c, 2*median(c) = c_lo + c_hi exactly (an interpolated median
    of integers is either integer or half-integer, so its double is
    exact in BOTH engines) — and the 3-MAD test multiplies through to
    ``2*absdev2 > 3*mad4``, pure BIGINT, no rounding anywhere. Scale:
    two agg-then-join-back passes sharing the user_id shuffle; exact
    per-group medians sort within groups (at extreme group cardinality
    swap in the d8b sketch — same plan shape).
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "user_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c")
    )
    med = c.groupBy("user_id").agg(
        (2 * F.median("c")).cast("long").alias("med2")
    )
    dev = c.join(med, "user_id").select(
        "user_id",
        "med2",
        F.abs(2 * F.col("c") - F.col("med2")).alias("absdev2"),
    )
    mad = dev.groupBy("user_id").agg(
        (2 * F.median("absdev2")).cast("long").alias("mad4")
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med2").alias("med2"),
            F.min("mad4").alias("mad4"),
            F.sum(
                F.when(2 * F.col("absdev2") > 3 * F.col("mad4"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
