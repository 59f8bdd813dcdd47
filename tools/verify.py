#!/usr/bin/env python
"""Single verification entry point (VERDICT r6 item 5).

Runs, in order, the gates that previously ran ad hoc, plus the
coverage-window sync check, and exits non-zero on the first failure:

  1. driver emulator  — sf0.01, plain local[8] session without engine
     confs (catches loaders that forget ensure_engine_confs): 271
     queries vs their DuckDB oracles, rows + schema + value-hash; on a
     green pass it also records every query's per-run (file, func,
     AST-hash) trace into TRACES_r{next}.json so the coverage audit
     certifies exactly the code each green row executed (VERDICT r9
     item 4);
  2. emulator + reliable checkpoint — the same full pass with
     ``SPARK_GRAFT_CHECKPOINT_DIR`` set, so the cluster deployment
     interplay (reliable checkpoint() at cut_lineage points + AQE +
     persist) is proven continuously, not in one unit test
     (VERDICT r7 item 4 / r8 item 4);
  3. small-SF stress  — every query at sf0.001 with 32 shuffle
     partitions (empty-partition / partitioning-determinism regime);
  4. local-cluster stress — every query at sf0.001 under
     ``local-cluster[2,4,4096]``: real separate executor JVMs, the
     only local regime exercising closure serialization, broadcast
     transport, and executor-side module import (VERDICT r8 item 1);
  4b. executor-loss chaos — tools/chaos_executor_loss.py, six
     recovery paths: reliable checkpoint (neardup_clusters, the
     iterative graph loop, checkpoint dir set), lineage recompute
     (i4b_minhash_lsh at sf0.1, pure persist, no dir), plain
     shuffle/exchange recovery (j4_sessionization_metrics at sf0.1, no
     persist points at all — the path most of the registry actually
     uses; VERDICT r9 item 6), stateful-streaming recovery
     (j6_stream_dedup at sf0.1: a real multi-micro-batch job whose
     state store must reload on the relaunched executor; first
     measured green 2026-08-15, kill at 2.66 s, recovery visible at
     16.6 s vs 5.3 s warm, hash identical), and — round 11 — a
     PHASE-TARGETED kill during a downstream stage's shuffle FETCH
     (status-tracker trigger, not wall-clock; since round 12 the green
     additionally requires the killed-into stage's FINAL
     shuffleReadBytes > 0 — ADVICE r11 showed the r11 trigger actually
     landed in the map stage), plus — round 12 — a kill mid-way
     through the adaptive IVF path's iterative seeded k-means
     (ivf_ann at sf0.1: persist-kept lineage + all-integer iteration
     state must recompute the identical hash); in the non-phase modes,
     one executor JVM is SIGKILLed mid-query at 50% of the measured
     WARM baseline wall-time (adaptive, VERDICT r9 item 5), and in
     every mode the result hash must be byte-identical to the
     unkilled baseline; round 12's second session adds a seventh
     mode, the two-level IVF (ivf2_ann: BOTH k-means levels' integer
     state recomputed through chained materialize points);
  5. pytest           — the full unit/property/plan suite;
  6. bench smoke      — bench.py at sf0.01 with the load gate enabled
     (proves the artifact path runs end-to-end; NOT a timing claim);
  7. coverage window  — tools/coverage_audit.py --check: the registry's
     driver window must match the audit's mechanical prescription;
  8. slope audit      — tools/slope_audit.py --check: every query's
     sf0.01→sf0.1 wall-clock slope; an unexempted superlinear flag
     fails the gate so a quadratic can't land between rounds
     (VERDICT r7 item 5 / r8 item 3).

Usage::

    python tools/verify.py               # all gates (~55 min quiet host)
    python tools/verify.py --fast        # gates 1-5 only (~20 min)
    python tools/verify.py --round-start # gate 1 only, re-stamping the
                                         # JUST-CLOSED round's traces —
                                         # run FIRST thing each round,
                                         # before any engine edit
    python tools/verify.py --round N     # pin the trace round stamp

Each gate streams its tail on failure.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent


def _run(name: str, cmd: list[str], env: dict | None = None,
         timeout: int = 900) -> None:
    print(f"=== {name}: {' '.join(cmd)}", flush=True)
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(
            cmd,
            cwd=_REPO,
            env={**os.environ, **(env or {})},
            capture_output=True,
            text=True,
            timeout=timeout,
        )
    except subprocess.TimeoutExpired as exc:
        # ADVICE r9: a hung gate used to surface as a raw traceback
        # with no output tail — print the gate's captured output and
        # fail like any other gate instead.
        for stream in (exc.stdout, exc.stderr):
            if stream:
                text = stream.decode() if isinstance(stream, bytes) else stream
                print(text[-4000:], file=sys.stderr)
        print(f"FAIL {name} (timeout after {timeout}s)")
        sys.exit(1)
    dt = time.perf_counter() - t0
    if proc.returncode != 0:
        print(proc.stdout[-4000:])
        print(proc.stderr[-4000:], file=sys.stderr)
        print(f"FAIL {name} (exit {proc.returncode}, {dt:.0f}s)")
        sys.exit(proc.returncode or 1)
    tail = [l for l in proc.stdout.strip().splitlines() if l][-2:]
    for l in tail:
        print(f"    {l}")
    print(f"PASS {name} ({dt:.0f}s)", flush=True)


def _closed_round() -> int:
    """Max round with a CORRECTNESS_r*.json artifact — the round the
    driver has already swept."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for f in glob.glob(str(_REPO / "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", f))
    ]
    return max(rounds, default=0)


def _trace_round(argv: list[str]) -> int:
    """Round stamped into gate 1's TRACES_r{N}.json.

    Default: the round the NEXT correctness artifact will carry
    (_closed_round() + 1) — correct for every mid-round and round-close
    run, because the driver's CORRECTNESS_rN.json only lands AFTER the
    builder's turns end.  Two explicit overrides (ADVICE r10: the
    default mis-stamps a run executed after the round's artifact has
    already landed, e.g. a round-START re-record):

    - ``--round N``: stamp exactly N (the round-close workflow can pin
      the round it is shipping evidence for);
    - ``--round-start``: stamp _closed_round() — re-records the
      just-closed round's traces against the current tree.  Run this at
      round start BEFORE any engine edit: the engine tree is then
      byte-identical to the tree the driver's round-N sweep executed
      (the driver commits only artifact files), so the refreshed
      TRACES_rN is EXACT evidence for round-N rows even when the
      round's closing verify ran earlier than its final engine edit
      (the conservative-churn window documented in round 10).

    Each run OVERWRITES the stamped round's TRACES file; the audit
    keys traces by the stamped round, so the last write is the one
    that counts."""
    if "--round" in argv:
        return int(argv[argv.index("--round") + 1])
    if "--round-start" in argv:
        return _closed_round()
    return _closed_round() + 1


def main() -> None:
    fast = "--fast" in sys.argv
    py = sys.executable
    rnd = _trace_round(sys.argv)
    _run(
        "emulator sf0.01",
        [py, str(_REPO / "tools" / "driver_emulator.py"),
         "--traces-out", str(_REPO / f"TRACES_r{rnd:02d}.json"),
         "--round", str(rnd)],
    )
    if "--round-start" in sys.argv:
        # Round-start mode exists only to refresh the just-closed
        # round's traces (gate 1); the remaining gates belong to the
        # normal mid-round/round-close runs.
        print("ROUND-START TRACE REFRESH DONE")
        return
    _run(
        "emulator sf0.01 + reliable ckpt",
        [py, str(_REPO / "tools" / "driver_emulator.py")],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": str(_REPO / ".scratch" / "ckpt_verify")},
    )
    _run("stress sf0.001x32", [py, str(_REPO / "tools" / "stress_small_sf.py")])
    _run(
        "stress local-cluster[2,4,4096]",
        [py, str(_REPO / "tools" / "stress_small_sf.py"),
         "/root/testdata/sf0.001", "8", "local-cluster[2,4,4096]"],
        timeout=3600,
    )
    _run(
        "executor-loss chaos (reliable ckpt)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "neardup_clusters", "/root/testdata/sf0.01", "auto"],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": str(_REPO / ".scratch" / "ckpt_chaos")},
        timeout=1800,
    )
    _run(
        "executor-loss chaos (lineage recompute)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "i4b_minhash_lsh", "/root/testdata/sf0.1", "auto"],
        # empty = unset (both consumers check truthiness): the lineage
        # mode must not silently become reliable mode when the caller's
        # environment happens to carry a checkpoint dir
        env={"SPARK_GRAFT_CHECKPOINT_DIR": ""},
        timeout=1800,
    )
    _run(
        # VERDICT r9 item 6: both chaos runs above exercise the
        # text/dedup family's persist/checkpoint recovery; this one
        # loses an executor under a query with NO persist points —
        # pure shuffle/exchange + window recovery, the path most of
        # the registry actually uses.
        "executor-loss chaos (shuffle recovery)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "j4_sessionization_metrics", "/root/testdata/sf0.1", "auto"],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": ""},
        timeout=1800,
    )
    _run(
        # Round 10: the one recovery family the other three modes miss —
        # a real multi-micro-batch stateful streaming job (watermarked
        # dedup state store) whose state must reload on the relaunched
        # executor.
        "executor-loss chaos (stateful streaming)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "j6_stream_dedup", "/root/testdata/sf0.1", "auto"],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": ""},
        timeout=1800,
    )
    _run(
        # Round 11 (VERDICT r10 stretch 7): the fifth mode kills by
        # SHUFFLE PHASE, not by the clock — here during a downstream
        # stage's FETCH, which destroys the victim's map outputs and
        # forces FetchFailed + parent-stage resubmission, the last
        # recovery path local-cluster can exercise.  (The map-phase
        # twin is exercised ad hoc; fetch is the gate because it is
        # the path a wall-clock kill essentially never lands on.)
        "executor-loss chaos (shuffle fetch phase)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "j4_sessionization_metrics", "/root/testdata/sf0.1", "fetch"],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": ""},
        timeout=1800,
    )
    _run(
        # Round 12 (VERDICT r11 stretch 8): sixth mode — the adaptive
        # IVF path's iterative seeded k-means (operators/
        # ann_adaptive.py) under executor loss.  The loop's per-
        # iteration state is lineage-PRESERVING persist, and every
        # quantity upstream of the final cosine is exact integer math,
        # so a mid-iteration kill must recompute the identical
        # centroids and the identical hash (first measured green
        # 2026-08-15: kill at 50% of a 4.4s warm run, hash identical).
        "executor-loss chaos (adaptive IVF k-means)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "ivf_ann", "/root/testdata/sf0.1", "auto"],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": ""},
        timeout=1800,
    )
    _run(
        # Round 12, second session: seventh mode — the TWO-LEVEL IVF
        # (plans/ann_hier.py) under executor loss.  Beyond the flat
        # path's surface it adds a second persist-kept k-means level
        # whose per-sup seeds depend on a window rank over the
        # level-1 assignment, so a kill must recompute BOTH levels'
        # identical integers through the chained materialize points
        # (first measured green 2026-08-16: kill at t=2.47s of a 4.7s
        # warm run, hash identical).
        "executor-loss chaos (two-level IVF)",
        [py, str(_REPO / "tools" / "chaos_executor_loss.py"),
         "ivf2_ann", "/root/testdata/sf0.1", "auto"],
        env={"SPARK_GRAFT_CHECKPOINT_DIR": ""},
        timeout=1800,
    )
    _run("pytest", [py, "-m", "pytest", "tests/", "-q"])
    if not fast:
        _run(
            "bench smoke sf0.01",
            [py, str(_REPO / "bench.py")],
            env={
                "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.01",
                "SPARK_GRAFT_NO_SCALING": "1",
            },
        )
        _run(
            "coverage window",
            [py, str(_REPO / "tools" / "coverage_audit.py"), "--check"],
        )
        _run(
            "slope audit",
            [py, str(_REPO / "tools" / "slope_audit.py"), "--check"],
            timeout=3600,
        )
    print("ALL GATES GREEN")


if __name__ == "__main__":
    main()
