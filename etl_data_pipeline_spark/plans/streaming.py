"""Streaming queries (J5-J13) — ALL with exact DuckDB oracles: each
output is a deterministic function of the staged event files (watermark
gating, dedup survivors, state snapshots, sink contents, join pairs),
so the equivalent batch SQL is an exact hash-checkable oracle; j5 and j6
are additionally asserted by tests/test_operators.py.

Batch-testable via the availableNow trigger over a file source:
``_staged_stream`` writes the events table as two parquet files and
reads them back with ``maxFilesPerTrigger=1``, so every query runs over
two real micro-batches. The watermark advances between them, which is
the semantics a long-running readStream would show, reproduced
deterministically. The same code runs against kafka/file sources on a
cluster; the state store is keyed by window/user, so it shards with the
shuffle.

Platform note: ``transformWithStateInPandas`` — Spark 4.0's successor
to ``applyInPandasWithState`` — cannot run here: its driver<->worker
state-server protocol requires a working ``google.protobuf`` (fails
with ``ImportError: cannot import name 'descriptor'``). J7
(applyInPandasWithState, exact oracle) covers the custom-stateful-operator
surface; the TWS port is a config+API swap on a normal cluster, with the
RocksDB state store provider enabled."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import SCHEMAS, load_table, scratch_path
from etl_data_pipeline_spark.plans.registry import query

_COUNTER = 0


def _unique(name: str) -> str:
    global _COUNTER
    _COUNTER += 1
    return f"{name}_{os.getpid()}_{_COUNTER}"


def _staged_stream(
    spark: SparkSession,
    sf_dir: str,
    leaf: str,
    first: str = "ts >= '2024-01-10 00:00:00'",
    second: str = "ts < '2024-01-10 00:00:00'",
) -> DataFrame:
    """Stage ``events`` under ``scratch_path(sf_dir, "stream", leaf)`` as
    two parquet files — ``batch=0`` holds the rows matching the SQL
    predicate ``first``, ``batch=1`` those matching ``second`` — and
    return their readStream. The file source lists lexicographically and
    ``maxFilesPerTrigger=1`` gives each file its own micro-batch, so
    ``first`` is processed before ``second``. The default split is an
    on-time slice followed by a late slice whose timestamps lie far
    behind batch 0's max."""
    ev = load_table(spark, sf_dir, "events")
    staged = scratch_path(sf_dir, "stream", leaf)
    for batch, cond in enumerate((first, second)):
        path = os.path.join(staged, f"batch={batch}")
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(path)
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(staged, "batch=*"))
    )


def _run_to_memory(stream_df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run ``stream_df`` to completion into a memory sink and return
    everything it emitted. The sink's temp view is dropped before
    returning: the frame keeps its own plan over the sink's rows, and a
    long-lived session holds no view (and no sink rows on the driver)
    once that frame is gone."""
    spark = stream_df.sparkSession
    name = _unique(name)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _final_emission(emitted: DataFrame, key: str, *cols: str) -> DataFrame:
    """Each key's final state from an update-mode sink, which holds one
    row per (key, micro-batch that touched it): ``n_events`` only grows,
    so the max-``n_events`` row per key is the last emission."""
    w = Window.partitionBy(key).orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, *cols)
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
    """J5: tumbling-window counts with a 1-hour watermark, append mode,
    over 2 micro-batches. Returns (window_start string, n_events).

    EXACT batch oracle: batch 0 advances the watermark to (max ts - 1h);
    append mode emits precisely the hourly windows whose end the final
    watermark has passed, each exactly once with its full count. Windows
    beyond it are held back in state — that emission gating is the
    GUARANTEED watermark semantic, asserted by
    tests/test_operators.py::test_j5_watermark_gates_append_emission.
    Batch 1's late rows land in windows that had no batch-0 state and
    emit complete on the next commit: Spark 4.1.2 file-source aggs do
    not drop below-watermark input (dropping is documented best-effort;
    checked with both append and update modes), so no rows vanish.

    VERSION COUPLING (deliberate, documented): the exactness of this
    oracle rides on 4.1.2's no-drop behavior for below-watermark file-
    source input. If a Spark upgrade starts filtering late input, the
    stream emits fewer rows than the oracle counts and this query (and
    j10, j12) flips red — loud, not silent; re-verify the batch-1
    staging on any version bump before trusting the parity check.
    """
    stream = _staged_stream(spark, sf_dir, "j5")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events")
    )
    return _run_to_memory(agg, "j5_watermark", "append")


@query(
    "j6_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def j6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: stateful stream dedup — dropDuplicatesWithinWatermark over two
    overlapping micro-batches keeps the first-seen row per event_id while
    the watermark bounds the dedup state. Returns per-type counts of the
    surviving rows (complete mode).

    EXACT batch oracle: batch 0 holds ``event_id % 5 < 3`` and batch 1
    ``event_id % 5 >= 2``, so the slices overlap on 20% of the ids and
    their union covers every id whatever the id range. The 30-day
    watermark exceeds the whole event-time span, so every duplicate
    arrival is within state lifetime and exactly one row per event_id
    survives — per-type counts equal the batch GROUP BY. Also asserted
    by tests/test_operators.py::test_j6_stream_dedup_matches_batch_distinct.
    """
    stream = _staged_stream(
        spark, sf_dir, "j6", "event_id % 5 < 3", "event_id % 5 >= 2"
    )
    deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return _run_to_memory(counted, "j6_dedup", "complete")


@query(
    "j7_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
    FROM events GROUP BY user_id
    """,
)
def j7_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: custom stateful operator via applyInPandasWithState — per-user
    running (count, sum) kept in explicit group state across
    micro-batches, update-mode emission each batch.

    State is keyed by user_id, so it shards with the shuffle, and holds
    two numbers per key (no event history). The running total is INTEGER
    1e-6 micro-units (each value floored onto the grid before
    accumulating, the grid_sum discipline): exact, order- and
    batching-independent. A double accumulator would drift with
    micro-batch order.

    EXACT batch oracle: the final state snapshot (the last emission per
    key) equals the batch grid-sum aggregate.
    """
    stream = _staged_stream(spark, sf_dir, "j7").select("user_id", "value")

    def update_totals(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += int(np.floor(pdf["value"].to_numpy() * 1e6).astype("int64").sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [s / 1e6]}
        )

    updates = stream.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_memory(updates, "j7_stateful", "update")
    return _final_emission(emitted, "user_id", "n_events", "total_value")


@query(
    "j8_foreach_batch_sink",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(2 AS BIGINT) AS n_batches
    FROM events
    """,
)
def j8_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: foreachBatch file sink — each micro-batch lands in its own
    ``batch_id=N`` directory with overwrite semantics, so a replayed
    batch (failure/retry) overwrites instead of duplicating: the
    idempotent exactly-once-per-batch pattern for non-transactional
    sinks. Returns (n_rows, n_batches) read back FROM THE SINK.

    EXACT batch oracle: the two staged micro-batches land losslessly, so
    the sink's contents equal the source table.
    """
    stream = _staged_stream(spark, sf_dir, "j8src")
    sink = scratch_path(sf_dir, "stream", "j8sink")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            scratch_path(sf_dir, "stream", "j8ckpt_" + _unique("c")),
        )
        .start()
    )
    q.awaitTermination()
    back = spark.read.option("basePath", sink).parquet(sink)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("batch_id").alias("n_batches"),
    )


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
    """J9: stream-stream inner join — click events joined to the same
    user's view events from the preceding hour, both sides real
    readStream file sources over 2 micro-batches. Returns (user_id,
    n_pairs).

    Both sides carry a 30-day watermark (far past the staged data, same
    pinning as J6): nothing is ever evicted or late-dropped, so the
    union of per-batch emissions is EXACTLY the batch join and the
    oracle is exact batch SQL — its CAST(ts AS TIMESTAMP) mirrors
    Spark's ns->us truncation on ingest. Production tightens the
    watermark to bound the join state; the interval condition is
    precisely what lets Spark clean state once the watermark passes
    (view rows older than click_wm - 1h can never match again). The
    join shuffles both streams by user_id, so state shards with that
    key, and each side holds only rows inside the watermark horizon.
    """
    stream = _staged_stream(spark, sf_dir, "j9")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 days")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 days")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "inner",
    ).select("user_id", "click_ts", "view_ts")
    emitted = _run_to_memory(joined, "j9_join", "append")
    return emitted.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


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
    """J10: native streaming SESSION windows — ``session_window`` with a
    30-minute gap per user, 1-hour watermark, append mode, over two real
    micro-batches (an on-time slice, then a far-late slice). Returns
    (user_id, session_start string, n_events).

    EXACT batch oracle: the slices are separated by a 7-day DEAD BAND
    (events in [2024-01-05, 2024-01-12) are not staged), so no 30-minute
    session can straddle the batch boundary and a late event can never
    extend a session that append mode already emitted. The output is
    therefore the batch sessionization of the kept events, gated on the
    final watermark: sessions whose end (last event + gap, half-open: an
    event exactly gap-after starts a NEW session, hence >= in the
    oracle's break condition) is <= max(on-time ts) - 1h emit; later
    ones are held in state.
    """
    stream = _staged_stream(
        spark,
        sf_dir,
        "j10",
        "ts >= '2024-01-12 00:00:00'",
        "ts < '2024-01-05 00:00:00'",
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "j10_sessions", "append")


@query(
    "j11_stream_update_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def j11_stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: UPDATE output mode — the third emission mode (append: J5/J10,
    complete: J6): a per-event-type count agg re-emits each key's new
    value on every micro-batch that changes it.

    EXACT batch oracle: the last emission per key is the final state and
    equals the batch GROUP BY.
    """
    stream = _staged_stream(spark, sf_dir, "j11")
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    emitted = _run_to_memory(agg, "j11_update", "update")
    return _final_emission(emitted, "event_type", "n_events")


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
    """J12: SLIDING-window counts (2-hour windows advancing every hour)
    with a 1-hour watermark, append mode — completes the streaming
    window triad (tumbling j5, session j10, sliding here). Returns
    (window_start string, n_events).

    EXACT batch oracle: each event belongs to the two hour-aligned
    windows covering it (trunc(ts) and trunc(ts)-1h); append emits
    exactly the windows whose END the final watermark passed, each once
    with its full two-batch count. Same gating and version coupling as
    j5 (documented there)."""
    stream = _staged_stream(spark, sf_dir, "j12")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events")
    )
    return _run_to_memory(agg, "j12_sliding", "append")


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
    """J13: stream-static join — the standard streaming-enrichment
    pattern, completing the join surface (stream-stream is j9): each
    micro-batch of the event stream joins a broadcast batch dimension
    (customer, keyed by the synthetic user->customer FK
    ``c_custkey = user_id + 1``), then aggregates per (segment, type).

    Stream-static joins are stateless (no watermark needed — the static
    side is re-planned per micro-batch, so a dim update would be picked
    up): the 100 TB shape for "attach account metadata to a clickstream".

    EXACT batch oracle: the complete-mode agg over both micro-batches
    equals the batch join's group counts.
    """
    stream = _staged_stream(spark, sf_dir, "j13")
    dim = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return _run_to_memory(agg, "j13_enrich", "complete")
