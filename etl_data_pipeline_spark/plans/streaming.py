"""Streaming queries (J5-J12) — ALL with exact DuckDB oracles: each
output is a deterministic function of the staged event files (watermark
gating, dedup survivors, state snapshots, sink contents, join pairs),
so the equivalent batch SQL is an exact hash-checkable oracle; the same
semantics are additionally asserted by tests/test_operators.py.

Platform note (verified 2026-08-13): ``transformWithStateInPandas`` —
Spark 4.0's successor to ``applyInPandasWithState`` — cannot run in this
container: its driver<->worker state-server protocol requires a working
``google.protobuf`` (fails with ``ImportError: cannot import name
'descriptor'``), and installs are unavailable offline. J7
(applyInPandasWithState, exact oracle) covers the custom-stateful-operator
surface; the TWS port is a config+API swap on a normal cluster, with the
RocksDB state store provider enabled."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_data_pipeline_spark.catalog import scratch_path
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.streaming.jobs import (
    foreach_batch_sink,
    sliding_counts_with_watermark,
    stateful_running_totals,
    stream_dedup_within_watermark,
    stream_session_windows,
    stream_static_enrich,
    stream_stream_join,
    stream_update_mode_counts,
    windowed_counts_with_watermark,
)

@query(
    "j5_stream_watermark",
    oracle="""
    WITH mx AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
           COUNT(*) AS n_events
    FROM events, mx
    WHERE DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= wm
    GROUP BY 1
    """,
)
def j5_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: real readStream (availableNow, 2 micro-batches) with watermark
    + windowed agg in append mode.

    EXACT batch oracle: append mode emits precisely the hourly windows
    whose end the final watermark (max event ts - 1h) has passed, each
    exactly once with its full count — batch 0 holds all on-time rows
    (so on-time windows emit complete), batch 1's late rows land in
    windows that had no batch-0 state and emit complete on the next
    commit (Spark 4.1.2 file-source aggs don't drop below-watermark
    input — dropping is documented best-effort — so no rows vanish).
    Emission gating itself is additionally asserted by
    tests/test_operators.py::test_j5_watermark_gates_append_emission.

    VERSION COUPLING (deliberate, documented): the exactness of this
    oracle rides on 4.1.2's no-drop behavior for below-watermark file-
    source input. If a Spark upgrade starts filtering late input, the
    stream emits fewer rows than the oracle counts and this query (and
    j10) flips red — loud, not silent; re-verify the batch-1 staging on
    any version bump before trusting the parity check.
    """
    return windowed_counts_with_watermark(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j6_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def j6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: dropDuplicatesWithinWatermark over overlapping micro-batches.

    EXACT batch oracle: the two staged slices overlap 20% by event_id,
    the 30-day watermark exceeds the whole event-time span, so every
    duplicate arrival is within state lifetime and exactly one row per
    event_id survives — per-type counts equal the batch GROUP BY.
    Also asserted by tests/test_operators.py::
    test_j6_stream_dedup_matches_batch_distinct.
    """
    return stream_dedup_within_watermark(spark, sf_dir, scratch_path(sf_dir, "stream"))

@query(
    "j7_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
    FROM events GROUP BY user_id
    """,
)
def j7_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: applyInPandasWithState running totals per user; state holds
    integer 1e-6 micro-units (grid_sum discipline), so the final state
    snapshot equals the batch grid-sum aggregate EXACTLY — independent
    of micro-batch boundaries and accumulation order."""
    return stateful_running_totals(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j8_foreach_batch_sink",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(2 AS BIGINT) AS n_batches
    FROM events
    """,
)
def j8_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: foreachBatch idempotent parquet sink (per-batch overwrite
    directories); the two staged micro-batches land losslessly, so the
    sink's contents equal the source table."""
    return foreach_batch_sink(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j9_stream_stream_join",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    )
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM ev a JOIN ev b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
    GROUP BY a.user_id
    """,
)
def j9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: stream-stream inner join (clicks x same-user views within the
    preceding hour), both sides real readStream sources over 2
    micro-batches; 30-day watermarks pin the emitted union to exactly
    the batch join (see streaming/jobs.py::stream_stream_join), so the
    oracle is exact batch SQL — the CAST(ts AS TIMESTAMP) mirrors
    Spark's ns->us truncation on ingest."""
    return stream_stream_join(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j10_stream_session_windows",
    oracle="""
    WITH kept AS (
      SELECT user_id, ts FROM events
      WHERE ts <  TIMESTAMP '2024-01-05 00:00:00'
         OR ts >= TIMESTAMP '2024-01-12 00:00:00'
    ), lagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM kept
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM lagged
    ), bounds AS (
      SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    ), wm AS (
      SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events
      WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
    )
    SELECT user_id, CAST(s_start AS VARCHAR) AS session_start, n_events
    FROM bounds, wm
    WHERE s_end + INTERVAL 30 MINUTE <= wm.w
    """,
)
def j10_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: native streaming session windows (``session_window``, 30-min
    gap, per-user) in append mode over two real micro-batches.

    EXACT batch oracle: the staged slices are separated by a 7-day dead
    band so no session straddles the batch boundary (a late event can
    never reopen an emitted session), making the stream output equal
    batch sessionization of the kept events gated on the final watermark
    — sessions whose end (last event + gap, half-open: an event exactly
    gap-after starts a NEW session, hence >= in the oracle's break
    condition) the watermark passed. See
    streaming/jobs.py::stream_session_windows.
    """
    return stream_session_windows(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j11_stream_update_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def j11_stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: update output mode (completing the append/complete/update
    triad): per-type counts re-emitted on every micro-batch that changes
    them; the max emission per key is the final state and equals the
    batch aggregate exactly. See
    streaming/jobs.py::stream_update_mode_counts.
    """
    return stream_update_mode_counts(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j12_stream_sliding",
    oracle="""
    WITH mx AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events),
    slid AS (
      SELECT DATE_TRUNC('hour', ts) - k.range * INTERVAL 1 HOUR AS ws
      FROM events, RANGE(2) k
    )
    SELECT CAST(ws AS VARCHAR) AS window_start,
           COUNT(*) AS n_events
    FROM slid, mx
    WHERE ws + INTERVAL 2 HOUR <= mx.wm
    GROUP BY ws
    """,
)
def j12_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: real readStream sliding-window agg (2h windows, 1h slide,
    1h watermark, append mode). EXACT batch oracle: each event belongs
    to the two hour-aligned windows covering it (trunc(ts) and
    trunc(ts)-1h); append emits exactly the windows whose END the final
    watermark passed, each once with its full two-batch count. Same
    version coupling as j5 (documented there)."""
    return sliding_counts_with_watermark(spark, sf_dir, scratch_path(sf_dir, "stream"))


@query(
    "j13_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n_events
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
)
def j13_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: stream-static broadcast enrichment (see streaming/jobs.py) —
    completes the join surface: stream-stream (j9) + stream-static.
    EXACT batch oracle: the join is stateless and the complete-mode agg
    over all micro-batches equals the batch join's group counts."""
    return stream_static_enrich(spark, sf_dir, scratch_path(sf_dir, "stream"))
