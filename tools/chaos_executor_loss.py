#!/usr/bin/env python
"""Executor-loss fault injection under local-cluster (round 9).

The engine's fault-tolerance posture rests on two design decisions made
in round 7 (SURVEY round-7 record, item 2): multi-consumer reuse points
use lineage-PRESERVING persist(MEMORY_AND_DISK) — an executor loss
recomputes the lost blocks instead of killing the job — and iterative
loops truncate lineage via reliable checkpoint() whenever a checkpoint
dir is configured.  Eight rounds of local[*] testing could not falsify
either claim: with driver and executors sharing one JVM there is no
executor to lose.  This tool actually loses one.

Method: run the target query once for a baseline hash, then re-run it
in a thread and, mid-flight, SIGKILL one CoarseGrainedExecutorBackend
JVM (filtered by this session's application id, so concurrent Spark
sessions on the host are never touched).  The Worker relaunches the
executor; Spark retries the lost tasks and recomputes any lost
persisted blocks from lineage.  PASS = the chaos run returns the
byte-identical row hash with at least one executor verifiably killed
while the job was still running.

Usage::

    python tools/chaos_executor_loss.py [query] [sf_dir] [kill_after_sec]
    SPARK_GRAFT_CHECKPOINT_DIR=... python tools/chaos_executor_loss.py

``kill_after_sec`` defaults to ``auto`` (VERDICT r9 item 5): the kill
fires at 50% of the measured baseline wall-time, so a faster host or a
warmer cache can't fail the gate with "job finished before the kill" —
the failure mode the old fixed constant had.  Two non-atomic races
remain possible and are handled by retrying ONCE at half the kill
delay (ADVICE r9): the warm chaos run may still finish before the kill
fires, and — the subtler false-PASS case — the job may complete
between the liveness check and the SIGKILL, in which case the kill
lands on a mid-flight executor of an already-finished job.  The latter
is detected after join by requiring the chaos run's recorded duration
to exceed the moment the kill actually fired (result timer and kill
timestamp share one clock): a "green" where the kill landed
post-completion is a false pass of a safety gate and never reported.

Default query is ``neardup_clusters`` — the iterative large-star/
small-star components loop over the MinHash-LSH dedup graph: it has
BOTH a persist() reuse point (the LSH candidate build) and cut_lineage
truncation points per iteration, and runs ~25 s cold under
local-cluster[2,4,4096] at sf0.01 — long enough to kill into.

Measured round 9 (2026-08-15), three runs on this host:

- ``SPARK_GRAFT_CHECKPOINT_DIR=... chaos neardup_clusters`` → GREEN:
  executor SIGKILLed at t=6 s, job completed, hash identical, executor
  relaunched.  The reliable-checkpoint deployment path survives
  executor loss end-to-end.
- ``chaos neardup_clusters`` (no dir) → FAILS by design:
  ``localCheckpoint`` TRUNCATES lineage and stores its blocks
  non-replicated on the computing executor, so killing that executor
  makes the truncation points irrecoverable (Py4JJavaError on the
  localCheckpoint consumer).  This is documented Spark semantics, not
  an engine bug — and it is the measured proof of WHY cut_lineage
  insists on reliable checkpoint() whenever a dir is configured: on
  any real cluster, set ``SPARK_GRAFT_CHECKPOINT_DIR``.
- ``chaos i4b_minhash_lsh /root/testdata/sf0.1 2.5`` → GREEN with NO
  checkpoint dir: the non-iterative dedup path uses only lineage-
  PRESERVING persist(MEMORY_AND_DISK) (materialize.py), so the lost
  blocks recompute from lineage exactly as the round-7 design argued
  (kill at t=2.5 s into a ~5.6 s run, hash identical).

Must run as a DEDICATED process (the local-cluster session-lifecycle
constraint noted at gate 4 of tools/verify.py).
"""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

QUERY = sys.argv[1] if len(sys.argv) > 1 else "neardup_clusters"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
#: "auto" = 50% of the measured baseline wall-time (see module doc);
#: a numeric argument pins the kill point for reproduction; "map" /
#: "fetch" (round 11, VERDICT r10 stretch 7) target the kill at a
#: SHUFFLE PHASE via the status tracker instead of the clock — map =
#: while the first stage's tasks are writing shuffle output, fetch =
#: once a downstream stage is reading it (the FetchFailed +
#: parent-stage-resubmission path).
KILL_AFTER = sys.argv[3] if len(sys.argv) > 3 else "auto"


def _rows_hash(rows) -> str:
    cells = sorted("|".join(repr(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(cells).encode()).hexdigest()


def _executor_pids(app_id: str) -> list[int]:
    """PIDs of this application's executor JVMs only (--app-id match)."""
    out = subprocess.run(
        ["pgrep", "-f", f"CoarseGrainedExecutorBackend.*{app_id}"],
        capture_output=True,
        text=True,
    ).stdout
    return [int(p) for p in out.split()]


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[2,4,4096]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from etl_data_pipeline_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    fn = QUERIES[QUERY]

    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    mode = f"reliable-checkpoint({ckpt})" if ckpt else "lineage-recompute"
    print(f"app={app_id} query={QUERY} sf={SF} mode={mode}", flush=True)

    t0 = time.perf_counter()
    baseline = _rows_hash(fn(spark, SF).collect())
    base_sec = time.perf_counter() - t0
    # The chaos run executes WARM-code / COLD-cache (attempt() clears
    # the cache first), which for shuffle-only queries is far faster
    # than the cold baseline (measured j4 at sf0.1: 11.7 s cold,
    # < 2.9 s warm — a 50%-of-cold kill point fires into a finished
    # job).  Take a second baseline run in exactly the chaos run's
    # regime and scale the kill point from THAT.
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    warm_hash = _rows_hash(fn(spark, SF).collect())
    warm_sec = time.perf_counter() - t0
    if warm_hash != baseline:
        print("FAIL: baseline is not deterministic across two runs — "
              "chaos comparison would be meaningless")
        spark.stop()
        sys.exit(1)
    phase_mode = KILL_AFTER in ("map", "fetch")
    kill_after = (None if phase_mode
                  else 0.5 * warm_sec if KILL_AFTER == "auto"
                  else float(KILL_AFTER))
    kill_desc = (f"phase:{KILL_AFTER}" if phase_mode
                 else f"{kill_after:.2f}s")
    print(f"baseline: cold {base_sec:.1f}s / warm {warm_sec:.1f}s "
          f"hash={baseline[:16]} kill_after={kill_desc}", flush=True)

    def _wait_phase(phase: str, th: threading.Thread):
        """Block until the requested SHUFFLE PHASE is verifiably active
        (round 11, VERDICT r10 stretch 7 — deterministic map-side vs
        reduce-side loss instead of a wall-clock kill point):

        - ``map``: the job's FIRST stage has at least one ACTIVE task —
          its tasks are computing and WRITING shuffle files, so the
          SIGKILL destroys partially-written map output and the lost
          map tasks must rerun (shuffle-write recovery);
        - ``fetch``: some stage in THIS run has COMPLETED with
          ``shuffleWriteBytes > 0`` (its map output exists) and a stage
          with a higher id is now active — so the active stage is
          consuming a shuffle boundary; the SIGKILL destroys both the
          victim's running reduce tasks AND the map outputs it wrote in
          the previous phase, forcing surviving reducers into
          FetchFailed and the scheduler into parent-stage resubmission
          — the one recovery path a wall-clock kill can't target
          deterministically.  (The round-11 trigger — any stage id
          above the FIRST observed — was measured WRONG by the post-hoc
          check below: the first observed stage of a parquet query is
          the file-LISTING job's, so the "higher" stage it fired on was
          the map stage and the r11 "fetch" green was really a second
          map-phase kill.  ADVICE r11 called exactly this.)

        Returns (label, stage_id) or None when the job finished before
        the phase was reached (retryable, like an early finish).

        Trigger mechanics (measured on this host with a 10ms-poll
        probe): the tracker's per-stage task counters LAG — an active
        stage lists with numActiveTasks=0 for most of its life — so
        the triggers key on stage PRESENCE, which is immediate: map =
        the first active-stage listing (plus a 50ms settle so the
        SIGKILL lands on started tasks — the first stage of a 2s+ job
        runs hundreds of ms), fetch = any listed stage id above the
        first observed one.

        The fetch label is then CONFIRMED POST-HOC (ADVICE r11): with
        a branchy DAG an independent sibling stage — not a shuffle
        consumer — can satisfy ``max(sids) > first`` (and if the first
        stage completes between 20ms polls, ``first`` itself may be a
        later stage), so stage presence alone could certify a map-phase
        kill mislabeled as FetchFailed recovery.  Live shuffle-read
        counters can't confirm it (they lag behind task completion —
        measured 0 bytes on an actively-fetching stage), but the FINAL
        per-stage metrics after the job completes are exact:
        ``_confirm_fetch_stage`` requires the killed-into stage's
        ``lastStageAttempt(sid).shuffleReadBytes() > 0`` before the
        fetch run may report green."""
        tracker = spark.sparkContext.statusTracker()
        store = spark.sparkContext._jsc.sc().statusStore()
        first = None
        seen: set[int] = set()
        writers: set[int] = set()  # COMPLETE stages with shuffle output
        while th.is_alive():
            sids = tracker.getActiveStageIds()
            seen.update(sids)
            if sids:
                if first is None:
                    first = min(sids)
                    if phase == "map":
                        time.sleep(0.05)
                        return ("map", first)
                if phase == "fetch":
                    for sid in seen - writers:
                        if sid in sids:
                            continue  # still active — final metrics lag
                        try:
                            s = store.lastStageAttempt(sid)
                            if (s.status().toString() == "COMPLETE"
                                    and s.shuffleWriteBytes() > 0):
                                writers.add(sid)
                        except Exception:  # noqa: BLE001 — not listed yet
                            pass
                    cands = [s for s in sids
                             if writers and s > min(writers)]
                    if cands:
                        return ("fetch", max(cands))
            time.sleep(0.02)
        return None

    def _confirm_fetch_stage(stage_id: int) -> bool:
        """POST-HOC fetch-label check (ADVICE r11; see _wait_phase):
        after the chaos run completes, the killed-into stage's FINAL
        metrics must show it actually read shuffle output — a sibling
        stage that merely carried a higher id reads zero.  Final
        metrics are exact (unlike the lagging live counters); the
        lookup spans attempts, so a resubmitted stage still confirms
        via its successful attempt."""
        try:
            store = spark.sparkContext._jsc.sc().statusStore()
            read = store.lastStageAttempt(stage_id).shuffleReadBytes()
            print(f"fetch confirm: stage {stage_id} final "
                  f"shuffleReadBytes={read}", flush=True)
            return read > 0
        except Exception as e:  # noqa: BLE001 — statusStore API drift
            print(f"fetch confirm FAILED to introspect stage "
                  f"{stage_id}: {e!r}", flush=True)
            return False

    def attempt(kill_at: float | None, phase: str | None = None) -> str:
        """One chaos attempt.  Returns 'green' on a verified mid-job
        kill with an identical hash, 'early'/'early-post-kill' when the
        job outran the kill (retryable), and exits the process on a
        real failure.  Exactly one of ``kill_at`` (wall-clock seconds)
        and ``phase`` ('map'/'fetch', see _wait_phase) is set."""
        # Drop every cached block so the chaos run rebuilds its persist
        # points from scratch — otherwise the baseline's cache
        # subsidizes it and the kill has nothing interesting to destroy.
        spark.catalog.clearCache()
        result: dict = {}

        def chaos_run() -> None:
            try:
                t = time.perf_counter()
                result["hash"] = _rows_hash(fn(spark, SF).collect())
                result["sec"] = time.perf_counter() - t
            except Exception as e:  # noqa: BLE001
                result["error"] = repr(e)

        th = threading.Thread(target=chaos_run, daemon=True)
        t_start = time.perf_counter()
        th.start()
        hit = None
        if phase is not None:
            hit = _wait_phase(phase, th)
            if hit is not None:
                print(f"phase trigger: {hit[0]} (stage {hit[1]}) at "
                      f"t={time.perf_counter() - t_start:.2f}s", flush=True)
        else:
            time.sleep(kill_at)
        if not th.is_alive():
            if "error" in result:
                # The thread died on a query exception, not an early
                # finish — retrying would chase a timing problem that
                # does not exist (review finding, round 10).
                print(f"FAIL: chaos run raised before the kill fired: "
                      f"{result['error']}")
                spark.stop()
                sys.exit(1)
            when = (f"in under {kill_at:.2f}s" if phase is None
                    else f"before the {phase} phase was caught")
            print(f"retryable: job finished {when} — nothing was "
                  f"running when the kill would have fired")
            return "early"
        pids = _executor_pids(app_id)
        if not pids:
            print("FAIL: no executor JVMs found for this app id")
            spark.stop()
            sys.exit(2)
        victim = pids[0]
        os.kill(victim, signal.SIGKILL)
        kill_delta = time.perf_counter() - t_start
        print(
            f"killed executor pid={victim} at t={kill_delta:.2f}s "
            f"({len(pids)} executors up, job mid-flight)",
            flush=True,
        )
        th.join(timeout=900)
        if th.is_alive():
            print("FAIL: chaos run still not finished after 900s")
            spark.stop()
            sys.exit(1)
        if "error" in result:
            print(f"FAIL: chaos run raised: {result['error']}")
            spark.stop()
            sys.exit(1)
        if result["sec"] <= kill_delta:
            # ADVICE r9: the job completed between the liveness check
            # and the SIGKILL — the kill landed after the result was
            # computed, so fault tolerance was NOT exercised.  Never
            # report this as green; retry with a tighter kill point.
            print(f"retryable: chaos run took {result['sec']:.2f}s but "
                  f"the kill landed at {kill_delta:.2f}s — job was "
                  f"already done; kill did not exercise recovery")
            return "early-post-kill"
        survivors = _executor_pids(app_id)
        relaunched = [p for p in survivors if p != victim]
        match = result["hash"] == baseline
        print(
            f"chaos: {result['sec']:.1f}s hash={result['hash'][:16]} "
            f"match={match} executors_after={len(relaunched)}",
            flush=True,
        )
        if not match:
            spark.stop()
            print("FAIL: chaos hash differs from baseline")
            sys.exit(1)
        if phase == "fetch":
            # ADVICE r11: never certify a fetch-phase kill on stage
            # PRESENCE alone — require the killed-into stage to have
            # actually read shuffle output (see _confirm_fetch_stage).
            if hit is None or not _confirm_fetch_stage(hit[1]):
                print("FAIL: kill landed in a stage that read no "
                      "shuffle output — a sibling stage satisfied the "
                      "fetch trigger; this green would certify a "
                      "mislabeled map-phase kill")
                spark.stop()
                sys.exit(1)
        return "green"

    def _wait_full_cluster(expected: int, timeout: float = 120.0) -> None:
        """Block until the app's executor count recovers to ``expected``.

        ADVICE r10: after a post-kill 'early' result an executor has
        already been SIGKILLed; retrying immediately would measure the
        retry's warm-time assumption and kill point against a degraded
        1-executor cluster while the replacement JVM is still
        relaunching — making the retry more likely to time out or
        mis-aim.  Bounded wait: if the master never refills the slot,
        proceed anyway and let the retry's own assertions decide."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < timeout:
            if len(_executor_pids(app_id)) >= expected:
                print(f"cluster back to {expected} executors "
                      f"({time.perf_counter() - t0:.1f}s)", flush=True)
                return
            time.sleep(1.0)
        print(f"warning: executor count still below {expected} after "
              f"{timeout:.0f}s — retrying on a degraded cluster", flush=True)

    n_exec_full = len(_executor_pids(app_id))
    if phase_mode:
        status = attempt(None, phase=KILL_AFTER)
        if status.startswith("early"):
            # One retry: phase triggers are event-driven, so the only
            # early-finish cause is the job outracing the 20ms poll —
            # a second attempt on a warm cluster usually catches it.
            if status == "early-post-kill":
                _wait_full_cluster(n_exec_full)
            status = attempt(None, phase=KILL_AFTER)
    else:
        status = attempt(kill_after)
        if status.startswith("early"):
            # One retry at half the delay: a warm run beating the cold
            # baseline's 50% mark is the common early-finish cause.
            if status == "early-post-kill":
                _wait_full_cluster(n_exec_full)
            status = attempt(kill_after / 2)
    spark.stop()
    if status != "green":
        print("FAIL: job finished before the kill in both attempts — "
              "use a longer query or larger sf_dir")
        sys.exit(2)
    tag = f"{mode}, phase={KILL_AFTER}" if phase_mode else mode
    print(f"CHAOS GREEN ({tag}): executor killed mid-job, result identical")


if __name__ == "__main__":
    main()
