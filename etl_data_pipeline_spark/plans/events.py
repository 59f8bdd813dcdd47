"""Event-stream-shaped queries over ``events`` (SURVEY.md §2 categories
J1–J4 batch formulations + C8 as-of join + H6 JSON lives in scalar.py).

These are batch queries shaped like Structured Streaming operations (the
real readStream variants live in plans/streaming.py);
the DuckDB oracle is batch SQL, so parity is checked on the batch forms.

``value`` is a generic double (not decimal-grid money), so its totals
go through ``grid_sum`` (functions/canonical.py): each value floored
onto a 1e-6 grid, summed exactly as BIGINT, divided once — fully
order-independent and bit-identical across engines, unlike
ROUND-over-double-SUM which depends on accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.functions.canonical import grid_sum
from etl_data_pipeline_spark.operators.sessionize import asof_join, sessionize
from etl_data_pipeline_spark.plans.registry import query


@query(
    "events_tumbling",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: tumbling 1-hour window aggregation (F.window).

    In streaming this is the same expression after readStream +
    withWatermark; Catalyst plans one shuffle on (window, event_type)
    with partial aggregation map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            grid_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


@query(
    "j2_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT e.*,
             DATE_TRUNC('hour', e.ts)
               + (CAST(FLOOR(EPOCH(e.ts - DATE_TRUNC('hour', e.ts)) / 900) AS INTEGER) - k.k)
                 * INTERVAL 15 MINUTE AS window_start
      FROM events e
      CROSS JOIN (SELECT UNNEST(RANGE(4)) AS k) k
    )
    SELECT CAST(window_start AS VARCHAR) AS window_start,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
    FROM slid
    WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def j2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: sliding window (1 hour window, 15 minute slide) — each event
    lands in 4 overlapping windows; the oracle reproduces that by
    exploding 4 slide offsets per event.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            grid_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


_SESSION_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, event_type, value,
             event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH(ts - LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
"""


@query(
    "j3_session_window",
    oracle=_SESSION_ORACLE
    + """
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def j3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: gap-based session windows via native F.session_window.

    Native semantics: session extends while events arrive within the gap;
    window end = last event + gap — exactly what the lag-gap-cumsum oracle
    computes. In streaming the same expression works after withWatermark.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            F.col("w.end").cast("string").alias("session_end"),
            "n_events",
        )
    )


@query(
    "j4_sessionization_metrics",
    oracle=_SESSION_ORACLE
    + """
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT)
             - CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS duration_s,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0 AS session_value,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COALESCE(MIN(ts) FILTER (WHERE event_type = 'click')
              <= MAX(ts) FILTER (WHERE event_type = 'purchase'), FALSE) AS click_then_purchase
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def j4_sessionization_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: per-session metrics (events/session, duration, value, funnel
    click→purchase) on the lag-gap-cumsum sessionization operator."""
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", gap_minutes=30)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
        grid_sum(F.col("value")).alias("session_value"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.coalesce(
            F.min(F.when(F.col("event_type") == "click", F.col("ts")))
            <= F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.lit(False),
        ).alias("click_then_purchase"),
    )


@query(
    "c8_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts,
           c.event_id AS click_event_id,
           CAST(c.ts AS VARCHAR) AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def c8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: as-of join — for each purchase, the latest click by the same
    user at or before the purchase time.

    Implemented as tagged-union + ordered window carry-forward
    (operators/sessionize.asof_join): one shuffle on user_id, linear in
    events — the formulation that survives 100 TB. The DuckDB oracle
    cross-checks with its native ASOF JOIN.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id", "ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        F.col("r_event_id").alias("click_event_id"),
        F.col("r_ts").cast("string").alias("click_ts"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week
      FROM events
    )
    SELECT CAST(CAST(f.cohort_week AS DATE) AS VARCHAR) AS cohort_week,
           CAST(DATEDIFF('day', CAST(f.cohort_week AS DATE),
                         CAST(a.active_week AS DATE)) / 7 AS BIGINT) AS age_weeks,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, counted in
    each subsequent week they return — the standard product-analytics
    rollup. Two shuffles (per-user min, then cohort x age agg); both key
    spaces stay small at any event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    joined = active.join(firsts, "user_id")
    return (
        joined.select(
            F.col("cohort_week").cast("date").cast("string").alias("cohort_week"),
            (
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("age_weeks"),
            "user_id",
        )
        .groupBy("cohort_week", "age_weeks")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "c8b_asof_forward",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         v AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts,
           CAST(MIN(v.ts) AS VARCHAR) AS next_view_ts
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.ts > p.ts
     AND v.ts <= p.ts + INTERVAL 72 HOUR
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def c8b_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 forward variant: for each purchase, the EARLIEST view by the
    same user STRICTLY after the purchase, within a 72-hour tolerance
    (null when none) — the "next touch after conversion" as-of join.

    Implemented without any join: purchases and views are tagged into
    one stream and a RANGE frame over epoch-microseconds
    ``(current+1 .. current+72h)`` takes the min following view
    timestamp per user — one shuffle on user_id, linear scan per
    partition, no O(n*m) pair blowup. The strictness lives in the
    frame's +1 lower bound (micros are the finest grain, so +1 micro ==
    strictly after). The oracle is the quadratic-but-small join+MIN
    formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_type") == "view", F.unix_micros("ts")).alias("view_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(1, 72 * 3600 * 1_000_000)
    )
    out = tagged.withColumn("next_view_us", F.min("view_us").over(w))
    return out.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        F.timestamp_micros("next_view_us").cast("string").alias("next_view_ts"),
    )


@query(
    "interval_overlap_join",
    oracle=_SESSION_ORACLE
    + """
    , bounds AS (
      SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sessions GROUP BY user_id, session_id
    ), peaks AS (
      SELECT DATE_TRUNC('hour', ts) AS h
      FROM events GROUP BY 1 HAVING COUNT(*) >= 5
    )
    SELECT b.user_id, b.session_id,
           COUNT(p.h) AS n_peak_hours
    FROM bounds b LEFT JOIN peaks p
      ON p.h BETWEEN DATE_TRUNC('hour', b.s_start) AND b.s_end
    GROUP BY b.user_id, b.session_id
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each user session (an interval [first
    event, last event]) counted against corpus-wide "peak hours" (hour
    buckets holding >= 5 events) it overlaps.

    The scalable formulation is BANDED: sessions explode into the hour
    buckets they span (``sequence`` + explode — bounded fan-out, sessions
    are gap-capped) and overlap becomes an EQUI-join on the hour — no
    range-condition BNLJ anywhere at any scale. The oracle states the
    same result as a direct range-predicate join, which DuckDB can
    afford at oracle scale.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", gap_minutes=30)
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    peaks = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .select("h")
    )
    hours = bounds.select(
        "user_id",
        "session_id",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h"),
    )
    overlaps = hours.join(peaks, "h").groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_peak_hours")
    )
    return (
        bounds.select("user_id", "session_id")
        .join(overlaps, ["user_id", "session_id"], "left")
        .select(
            "user_id",
            "session_id",
            F.coalesce("n_peak_hours", F.lit(0)).alias("n_peak_hours"),
        )
    )


@query(
    "event_debounce",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts,
                           event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type, CAST(ts AS VARCHAR) AS ts_s
    FROM lagged
    WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 SECOND
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debouncing: drop repeats of the same (user, event_type)
    arriving within 5 seconds of the previous KEPT-OR-DROPPED event —
    the lag-based approximation (each event compares to its immediate
    predecessor), which is the one-pass windowed form every pipeline
    uses; true chain-debounce needs sessionization (j3) when bursts
    exceed the tolerance.

    One shuffle on (user_id, event_type); the window frame is a single
    LAG — constant state per row at any scale. (ts, event_id) is a
    total order so both engines pick identical predecessors.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_ts", F.lag("ts").over(w))
    return lagged.filter(
        F.col("prev_ts").isNull()
        # micros, not cast("long") seconds: truncated-second differences
        # disagree with the oracle's INTERVAL compare on sub-second data
        | (F.unix_micros("ts") - F.unix_micros("prev_ts") >= 5_000_000)
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("string").alias("ts_s"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ), t AS (
      SELECT prev_type, SUM(n) AS row_total FROM c GROUP BY prev_type
    )
    SELECT c.prev_type, c.next_type, c.n,
           CAST(t.row_total AS BIGINT) AS row_total,
           (c.n * 1000000) // CAST(t.row_total AS BIGINT) AS p_grid
    FROM c JOIN t USING (prev_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences:
    count of (previous event_type -> next event_type) steps and the
    transition probability on the exact 1e-6 integer grid. The standard
    behavioral-analytics summary (what do users do after an error?) and
    the input to Markov-chain attribution models.

    Determinism: the sequence order is (ts, event_id) — event_id breaks
    timestamp ties identically in both engines; probabilities are exact
    integer division (n * 1e6 div row_total), no doubles anywhere.
    Scale: one window shuffle partitioned by user_id (state per task is
    a single previous row), one groupBy over |event_types|^2 cells, and
    a row-total join over |event_types| rows — output is O(k^2), tiny
    at any corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    c = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return c.join(t, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.col("row_total").cast("long").alias("row_total"),
        F.expr("(n * 1000000) div row_total").alias("p_grid"),
    )


@query(
    "c8c_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         v AS (SELECT * FROM events WHERE event_type = 'view'),
         j AS (
           SELECT p.event_id, p.user_id, p.ts,
                  MAX(CASE WHEN v.ts <= p.ts THEN v.ts END) AS prev_ts,
                  MIN(CASE WHEN v.ts >  p.ts THEN v.ts END) AS next_ts
           FROM p LEFT JOIN v
             ON v.user_id = p.user_id
            AND v.ts >= p.ts - INTERVAL 72 HOUR
            AND v.ts <= p.ts + INTERVAL 72 HOUR
           GROUP BY p.event_id, p.user_id, p.ts
         )
    SELECT event_id, user_id, CAST(ts AS VARCHAR) AS purchase_ts,
           CAST(CASE
             WHEN prev_ts IS NULL THEN next_ts
             WHEN next_ts IS NULL THEN prev_ts
             WHEN ts - prev_ts <= next_ts - ts THEN prev_ts
             ELSE next_ts END AS VARCHAR) AS nearest_view_ts,
           CASE
             WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
             WHEN next_ts IS NULL THEN 'backward'
             WHEN prev_ts IS NULL THEN 'forward'
             WHEN ts - prev_ts <= next_ts - ts THEN 'backward'
             ELSE 'forward' END AS direction
    FROM j
    """,
)
def c8c_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 nearest variant (pandas ``merge_asof(direction='nearest')``
    semantics, tie -> backward): for each purchase, the closest view by
    the same user within ±72 h in EITHER direction, plus which side won.
    Completes the as-of triad: backward (c8), forward (c8b), nearest.

    Same join-free plan as c8b, doubled: one tagged stream, two RANGE
    frames over epoch-micros — max view in (-72h .. 0] (ties at 0 are
    backward-eligible, matching ``v.ts <= p.ts``) and min view in
    (+1us .. +72h] — then an integer CASE picks the smaller distance.
    One shuffle on user_id, linear scan per partition; the oracle is the
    quadratic-but-small join+conditional-extrema formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    h72 = 72 * 3600 * 1_000_000
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_type") == "view", F.unix_micros("ts")).alias("view_us"),
    )
    wb = Window.partitionBy("user_id").orderBy("us").rangeBetween(-h72, 0)
    wf = Window.partitionBy("user_id").orderBy("us").rangeBetween(1, h72)
    out = tagged.withColumn("prev_us", F.max("view_us").over(wb)).withColumn(
        "next_us", F.min("view_us").over(wf)
    )
    us, prev_us, next_us = F.col("us"), F.col("prev_us"), F.col("next_us")
    nearest = (
        F.when(prev_us.isNull(), next_us)
        .when(next_us.isNull(), prev_us)
        .when(us - prev_us <= next_us - us, prev_us)
        .otherwise(next_us)
    )
    direction = (
        F.when(prev_us.isNull() & next_us.isNull(), F.lit(None).cast("string"))
        .when(next_us.isNull(), F.lit("backward"))
        .when(prev_us.isNull(), F.lit("forward"))
        .when(us - prev_us <= next_us - us, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    return out.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        F.timestamp_micros(nearest).cast("string").alias("nearest_view_ts"),
        direction.alias("direction"),
    )


@query(
    "interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             EPOCH_US(ts) AS s,
             EPOCH_US(ts) + 1800000000 AS e
      FROM events
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    ), per_island AS (
      SELECT user_id, island,
             MAX(e) - MIN(s) AS len
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(len) AS BIGINT) AS covered_us,
           CAST(MAX(len) AS BIGINT) AS longest_us
    FROM per_island GROUP BY user_id
    """,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union: give each event a 30-minute
    activity interval, merge every overlapping-or-touching run per user
    into one island, and report per user the island count, total covered
    time, and longest island — the classic "actual usage time" rollup
    (interval union length), which naive SUM-of-durations double-counts.

    The island detector is the standard two-window pass: a row starts a
    new island iff its start exceeds the running MAX of all previous
    ends (ROWS .. 1 PRECEDING — handles contained intervals that a LAG
    of the immediately-previous end would miss); the running SUM of
    those flags numbers the islands. All arithmetic is epoch-micros
    BIGINTs. Scale: one shuffle on user_id, two window passes and two
    aggs over the same partitioning — no joins, no state beyond the
    window frame.
    """
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    iv = ev.select(
        "user_id", "event_id", s.alias("s"), (s + 1_800_000_000).alias("e")
    )
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "is_new",
        (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("is_new").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("len").cast("long").alias("covered_us"),
        F.max("len").cast("long").alias("longest_us"),
    )


@query(
    "session_path_trigrams",
    oracle=_SESSION_ORACLE
    + """
    , ordered AS (
      SELECT user_id, session_id, event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM sessions
      WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered
    WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 15
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey trigrams: the 15 most common 3-step event-type
    paths WITHIN a 30-minute-gap session (sessionization reused from J3;
    paths never straddle a session boundary — the third-order sibling of
    ``event_transition_matrix``, which is corpus-wide and first-order).

    Plan: sessionize (one shuffle on user_id) -> two LEADs over the
    in-session order (same shuffle reused — the session window and the
    LEAD window share partitioning) -> global count + TopK. Path space
    is |event_types|^3 so the agg output is tiny at any scale; ordering
    ties broken by path string both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ordered = sess.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        ordered.filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(15)
    )


@query(
    "j3b_dynamic_gap_session",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts,
             EPOCH_US(ts) AS s,
             EPOCH_US(ts) + CASE WHEN event_type IN ('purchase', 'signup')
                                 THEN 1800000000 ELSE 600000000 END AS e
      FROM events
    ), flagged AS (
      SELECT user_id, ts, s, e, event_id,
             CASE WHEN MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s >= MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), islands AS (
      SELECT user_id, ts, e,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start,
           CAST(MAKE_TIMESTAMP(MAX(e)) AS VARCHAR) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, island
    """,
)
def j3b_dynamic_gap_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 dynamic-gap variant (Spark 4 feature): ``session_window`` with
    a PER-EVENT gap expression — conversion events (purchase/signup)
    hold the session open 30 minutes, browse events only 10 — the
    engagement-weighted sessionization product analytics actually wants.

    Native semantics: each event spans [ts, ts+its_gap); overlapping
    spans merge; window end is the max span end. That is exactly the
    gaps-and-islands interval union (interval_coverage's machinery),
    which the oracle runs with the running-max-of-ends detector over
    epoch-micros (strict ``>=`` on the boundary: native windows are
    half-open, so a span starting exactly at a previous end does NOT
    merge). One shuffle on user_id either way.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"), F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            F.col("w.end").cast("string").alias("session_end"),
            "n_events",
        )
    )


@query(
    "funnel_latency",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         v AS (SELECT * FROM events WHERE event_type = 'view'),
         lat AS (
           SELECT p.event_id,
                  EPOCH_US(p.ts) - MAX(EPOCH_US(v.ts)) AS lat_us
           FROM p JOIN v
             ON v.user_id = p.user_id
            AND v.ts <= p.ts
            AND v.ts >= p.ts - INTERVAL 72 HOUR
           GROUP BY p.event_id, p.ts
         )
    SELECT CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchases,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(QUANTILE_CONT(lat_us, 0.5), 6) AS p50_us,
           ROUND(QUANTILE_CONT(lat_us, 0.9), 6) AS p90_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_us
    FROM lat
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every purchase with a view
    by the same user in the preceding 72 h, the view->purchase delay —
    reported as exact median/p90/max micros plus the conversion count
    against all purchases. ``funnel_conversion`` says HOW MANY convert;
    this says HOW FAST — the product-analytics pair.

    Plan: the join-free c8-style backward window (max view epoch-micros
    over a (-72h, 0] RANGE frame per user) produces per-purchase
    latency in one shuffle; the percentile agg follows d8's discipline
    (exact interpolated percentiles, ROUND 6 both engines). The oracle
    is the quadratic-but-small join+MAX formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    h72 = 72 * 3600 * 1_000_000
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_type") == "view", F.unix_micros("ts")).alias(
            "view_us"
        ),
    )
    wb = Window.partitionBy("user_id").orderBy("us").rangeBetween(-h72, 0)
    lat = (
        tagged.withColumn("prev_us", F.max("view_us").over(wb))
        .filter(F.col("event_type") == "purchase")
        .select((F.col("us") - F.col("prev_us")).alias("lat_us"))
    )
    # purchase total rides along as a broadcast single-row aggregate —
    # no driver action inside the plan
    n_p = tagged.filter(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )
    return (
        lat.filter(F.col("lat_us").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.percentile("lat_us", 0.5), 6).alias("p50_us"),
            F.round(F.percentile("lat_us", 0.9), 6).alias("p90_us"),
            F.max("lat_us").cast("long").alias("max_us"),
        )
        .crossJoin(F.broadcast(n_p))
        .select(
            F.col("n_purchases").cast("long").alias("n_purchases"),
            "n_converted", "p50_us", "p90_us", "max_us",
        )
    )
