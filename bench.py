#!/usr/bin/env python
"""Benchmark harness — runs the headline query set from BASELINE.md.

Usage: ``python bench.py``.  Data dir comes from ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``); parallelism from ``$SPARK_GRAFT_CPUS``
(default 32).  Each query runs three times in one SparkSession and the best WARM time
(min of runs 2-3) is reported — the IDENTICAL method and core count used
for BASELINE.md's PySpark local[32] column (tools/measure_baseline.py),
so engine-vs-baseline ratios are like-for-like; the method is also
stamped into the emitted JSON.

Comparability note vs BASELINE.md: the engine's formulations carry
oracle-parity costs the baseline's plain formulations skip — q1's money
aggregates run as exact integer-cent sums with a hi/lo long split
(functions/canonical.py — deterministic cross-engine at codegen speed;
interleaved same-session A/B 2026-08-14 at sf0.1 after the cents_grid
FLOOR(+0.5) fix: full q1 1.26x the plain double-sum query; the
DECIMAL(38,s) path is 2.3x slower than the wide split), distinct_agg
computes THREE exact distincts (baseline: one
exact + one approx), window_rank evaluates four ranking functions
(baseline: row_number only).  cosine_topk is the numpy mapInPandas kernel
(the BASELINE number is the naive per-pair formulation, kept as
``i6b_cosine_topk_hof``).

Since round 8 the artifact is SELF-VALIDATING (VERDICT r7 item 1):
every headline query gets an interleaved paired probe against its
plain-PySpark twin (load_context.paired_ratios — the in-session 2x
bound), and a run whose quiet gate expired still loaded stamps
``headline_valid: false`` so its absolute total can never be read as
the round's official number.  Prints exactly one JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from etl_data_pipeline_spark.plans import QUERIES, load_all_plans  # noqa: E402
from etl_data_pipeline_spark.session import get_spark  # noqa: E402

#: The headline set measured in BASELINE.md (same names, same order).
#: i4b_minhash_lsh joined in round 8 (VERDICT r7 item 6): the designated
#: 100 TB dedup path needs a headline slot so an LSH regression surfaces
#: in the per-round artifact, not only in the full sweep.
HEADLINE = [
    "q1_pricing_summary",
    "q3_topk_join",
    "q5_multi_join",
    "window_rank",
    "distinct_agg",
    "events_tumbling",
    "wordcount",
    "cosine_topk",
    "i6c_quantized_rerank",
    "i4b_minhash_lsh",
]

#: A paired plain run slower than this after warmup gets two measured
#: pairs instead of three — at 35-75 s per plain run (naive cosine/kNN/
#: uncapped LSH at sf0.1) three pairs would triple bench wall-clock for
#: a ratio that sits at 0.02-0.10x where host noise cannot move the 2x
#: judgment; sub-10 s queries (where +-30% session noise CAN flip a
#: 1.4x into a 2.1x) keep the full three-pair treatment.  Round 9
#: (ADVICE r8 + VERDICT r7 stretch 8): the decision now reads the first
#: MEASURED plain run, not the cold one (a slow cold JIT/shuffle-file
#: warmup no longer truncates a query whose warm twin is cheap), and
#: the slow path measures TWO pairs (was one — the weakest noise guard
#: sat on exactly the naive-twin queries the probe was built to watch).
_PAIR_BUDGET_SEC = 10.0

#: Pinned paired-ratio ceilings (VERDICT r10 item 3: "publish a
#: measured per-regime ceiling ... so the gate distinguishes drift
#: from noise").  Default ceiling is the documented 2.0x bound every
#: headline query is judged against; q1 gets a TIGHTER drift alarm
#: because it is the only ratio that ever trended: post integer-grid
#: rewrite (round 11) it measured 1.487 (local[32]) / 1.217
#: (local-cluster) in back-to-back quiet bench sessions, and 1.261
#: warm-min on a dedicated 7-pair settled-host probe (per-round spread
#: 1.06-1.48) — a ~1.05-1.50 session noise band for this sub-second
#: pairing — so 1.65 sits clearly above the band's edge and clearly
#: below the 2.0 judgment bound.
#: Breaches don't sink the artifact (the driver must always get one);
#: they are stamped into load_context.paired_bound_breaches and
#: printed, so drift is visible the round it happens.
#:
#: Round 12 (VERDICT r11 item 5): bounds are PER-REGIME — the
#: local-cluster pairing (real executor JVMs, 8 cores total) is the
#: scale-faithful regime and measured far tighter post-rewrite (q1
#: 1.217 vs local[32]'s 1.05-1.50 noise band), so it gets its own
#: ceiling (1.45) instead of hiding a real ~30% regression inside the
#: looser local[32] bound.  Regime = "local-cluster" when the session
#: master (SPARK_GRAFT_MASTER) starts with it, else "local".
_PAIR_BOUND_DEFAULT = 2.0
_PAIR_BOUNDS = {
    "q1_pricing_summary": {"local": 1.65, "local-cluster": 1.45},
}


def pair_bound(name: str, regime: str) -> float:
    """Pinned paired-ratio ceiling for (query, regime) — the default
    2.0 judgment bound unless a tighter per-regime alarm is pinned."""
    return _PAIR_BOUNDS.get(name, {}).get(regime, _PAIR_BOUND_DEFAULT)


def _regime(master: str) -> str:
    return "local-cluster" if master.startswith("local-cluster") else "local"


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _wait_for_quiet_host() -> dict:
    """Refuse to start a timed run on a loaded host (VERDICT r5: the
    artifact of record must never be a loaded-host run — BENCH_r05
    started at loadavg 12.2 and published a spurious 2.84x on q1).

    Polls ``os.getloadavg()`` until BOTH the 1-min average drops below
    the gate (default 1.0, ``$SPARK_GRAFT_LOAD_GATE``) and the 5-min
    average below 1.5x the gate, or the max wait elapses (default
    1500 s, ``$SPARK_GRAFT_LOAD_WAIT_MAX`` — long enough to outlast a
    5-min loadavg decaying from a just-finished verify sweep, bounded
    so a driver-side timeout can never starve the round of its BENCH
    artifact entirely).  If the wait expires still loaded, the run
    proceeds — the driver must get SOME artifact — but main() stamps
    ``headline_valid: false`` at the TOP LEVEL of the record, so a
    loaded-host total can never again read as the round's official
    number (BENCH_r07's 15.52 s, VERDICT r7 item 1); the per-query
    ``paired_ratios`` measured in-session remain valid either way
    because each ratio's numerator and denominator share the same
    host state.

    The 5-min condition exists because a heavy job that finished a
    minute ago leaves the 1-min average quiet while cache/cgroup/
    thermal residue is still decaying: measured 2026-08-14, a run
    started at loadavg (1.13, 3.84) read a uniformly inflated 10.6 s
    headline vs 6.8 s in a genuinely settled window — a +56% artifact
    error with zero code change.  1.5x keeps that case gated (3.84 >
    3.0) while staying reachable inside the bounded wait: an idle
    host's 5-min average decays from 3.8 to 3.0 in ~75 s.

    The default gate tightened 2.0 -> 1.0 in round 12 (VERDICT r11
    item 6): BENCH_r11 passed the 2.0 gate at loadavg 1.33 after only
    a 60 s wait, then read every query uniformly ~15-30% over the same
    round's quiet-host run (10.02 s) while every paired ratio was flat
    — a valid-by-rule but host-inflated artifact.  At 1.0 that run
    would have waited out the residue instead (an idle host decays
    1.33 -> 1.0 in ~2 min, well inside the 1500 s bound).
    """
    gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1.0"))
    max_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_MAX", "1500"))
    waited = 0.0

    def _sample() -> tuple[float, float]:
        one, five, _ = os.getloadavg()
        return (round(one, 2), round(five, 2))

    def _quiet(s: tuple[float, float]) -> bool:
        return s[0] < gate and s[1] < 1.5 * gate

    samples = [_sample()]
    while not _quiet(samples[-1]) and waited < max_wait:
        step = min(15.0, max_wait - waited)
        time.sleep(step)
        waited += step
        samples.append(_sample())
    return {
        "gate": gate,
        "waited_sec": round(waited, 1),
        "samples": samples[-8:],
        "quiet": _quiet(samples[-1]),
    }


def compact_summary_line(record: dict) -> str:
    """One-line tail-proof summary printed AFTER the full record.

    The driver's artifact capture is a bounded TAIL of stdout;
    BENCH_r10.json lost the headline total and q1 to front-truncation
    because the growing ``load_context`` block pushed them out of the
    window (VERDICT r10 item 3).  The LAST line therefore always
    carries the headline numbers in a compact, fixed-shape JSON object
    — total + per-query seconds + validity + paired ratios — so any
    tail capture that retains even one full line retains the round's
    official numbers.  Format pinned by tests/test_bench_contract.py.
    """
    return json.dumps(
        {
            "bench_summary": True,
            "total": record["value"],
            "sf": record["sf"],
            "headline_valid": record["headline_valid"],
            "queries": record["queries"],
            "paired_ratios": record["load_context"]["paired_ratios"],
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_gate = _wait_for_quiet_host()
    # Load context: a uniform cross-query slowdown with unchanged code is
    # a host-contention signature; record the 1/5/15-min loadavg around
    # the run so a regression can be attributed (or not) to a noisy host
    # instead of a plan change (VERDICT r4 asked for exactly this).
    load_before = os.getloadavg()
    t0 = time.perf_counter()
    load_all_plans()
    registry_load_sec = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    spark = get_spark(app_name="bench")
    session_start_sec = round(time.perf_counter() - t0, 4)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        warm = float("inf")
        for i in range(3):  # run 0 is cold; report best warm (of runs 1-2)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.collect()
            dt = time.perf_counter() - t0
            if i > 0:
                warm = min(warm, dt)
        timings[name] = round(warm, 4)

    total = round(sum(timings.values()), 4)

    # Paired denominators for EVERY headline query (VERDICT r7 item 1a,
    # generalizing r6's q1-only probe): each engine query and its plain
    # PySpark twin (tools/measure_baseline.py::BASELINE_QUERIES — the
    # identical formulations behind BASELINE.md's local[32] column) run
    # ALTERNATELY in THIS session, and the per-query ratio of warm mins
    # is stamped into the artifact.  Interleaving makes the 2x-bound
    # judgment in-session by construction: numerator and denominator
    # share cache/cgroup/thermal state, so a loaded host inflates both
    # and cancels out (r7's loaded-host artifact still read
    # q1_paired_ratio 1.118 while absolute times were 2-4x off).
    # Round 0 of each pairing is a warmup and dropped; plain twins
    # slower than _PAIR_BUDGET_SEC get two measured pairs instead of
    # three, decided at the first measured run (see the constant's
    # comment).  Per ADVICE r7, a probe failure records repr(e) in
    # paired_ratio_errors instead of silently publishing null.
    paired_ratios: dict[str, float] = {}
    paired_rounds: dict[str, int] = {}
    # ADVICE r9: when the headline loop's warm min is folded into a
    # low-sample numerator, the engine side rests on MORE samples than
    # the plain side (min over more samples is stochastically smaller,
    # a one-directional bias) and the folded sample predates the
    # interleaved pairing.  The fold stays — dropping a same-session
    # sample already paid for would only add variance — but the
    # asymmetry is DISCLOSED per query: paired_engine_samples counts
    # the samples the numerator actually rests on (measured + folded),
    # vs paired_rounds for the denominator.
    paired_engine_samples: dict[str, int] = {}
    paired_ratio_errors: dict[str, str] = {}
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "measure_baseline", str(Path(_REPO_ROOT) / "tools" / "measure_baseline.py")
        )
        mb = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mb)
        plain_twins = mb.BASELINE_QUERIES
    except Exception as e:
        plain_twins = {}
        paired_ratio_errors["__import__"] = repr(e)
    # SPARK_GRAFT_PAIR_SKIP: comma-separated query names whose paired
    # probe is skipped AND DISCLOSED (recorded in paired_ratio_errors,
    # so a missing ratio can never read as an accidental gap).  Exists
    # for the sf1 regime (round 11): the three heavy plain twins are
    # quadratic BY DESIGN (naive all-pairs cosine/kNN, uncapped LSH —
    # their cost model is the documented reason the engine formulations
    # exist), so at sf1 a single twin run is 1-3 h; their 2x-bound
    # evidence stays the sf0.1 interleaved ratios (0.016-0.050, both
    # regimes) plus the engine-only sf1 slopes.
    pair_skip = {
        s for s in os.environ.get("SPARK_GRAFT_PAIR_SKIP", "").split(",") if s
    }
    for name in HEADLINE:
        if name in pair_skip:
            paired_ratio_errors[name] = (
                "probe skipped via SPARK_GRAFT_PAIR_SKIP (quadratic "
                "plain twin; see BASELINE.md regime note)"
            )
            continue
        if name not in plain_twins:
            paired_ratio_errors[name] = "no plain twin in BASELINE_QUERIES"
            continue
        try:
            plain_fn = plain_twins[name]
            engine_fn = QUERIES[name]
            plain_min = engine_min = float("inf")
            measured = 0
            rounds = 4  # warmup + 3 measured, unless the twin is slow
            i = 0
            while i < rounds:
                t0 = time.perf_counter()
                plain_fn(spark, sf_dir).collect()
                dt_p = time.perf_counter() - t0
                t0 = time.perf_counter()
                engine_fn(spark, sf_dir).collect()
                dt_e = time.perf_counter() - t0
                if i == 1 and dt_p > _PAIR_BUDGET_SEC:
                    rounds = 3  # warmup + 2 measured for slow twins
                if i > 0:
                    plain_min = min(plain_min, dt_p)
                    engine_min = min(engine_min, dt_e)
                    measured += 1
                i += 1
            engine_samples = measured
            if measured < 3 and name in timings:
                # Low-sample queries fold in the headline loop's warm
                # min — a same-session engine sample already paid for —
                # so the numerator never rests on fewer samples than
                # the 3-run headline method (ADVICE r8).  The headline
                # warm min is itself a min over 2 warm runs; the
                # asymmetry vs the plain side is disclosed via
                # paired_engine_samples — which only counts the +2 when
                # the fold actually LOWERED the numerator (ADVICE r10:
                # a fold that didn't win contributes no samples to the
                # published ratio, so claiming them misdescribes it).
                if timings[name] < engine_min:
                    engine_min = timings[name]
                    engine_samples = measured + 2
            if plain_min > 0 and measured:
                paired_ratios[name] = round(engine_min / plain_min, 3)
                paired_rounds[name] = measured
                paired_engine_samples[name] = engine_samples
        except Exception as e:  # a probe must never sink the artifact
            paired_ratio_errors[name] = repr(e)
    q1_paired_ratio = paired_ratios.get("q1_pricing_summary")
    regime = _regime(
        os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    paired_bound_breaches = {
        name: {"ratio": r, "bound": pair_bound(name, regime),
               "regime": regime}
        for name, r in paired_ratios.items()
        if r > pair_bound(name, regime)
    }
    for name, b in paired_bound_breaches.items():
        print(
            f"PAIRED-BOUND BREACH: {name} ratio {b['ratio']} > "
            f"pinned {b['bound']}",
            file=sys.stderr,
        )

    # Scaling probe: re-run the set once at a 10x-smaller sf (when the
    # sibling dir exists) and record t_big/t_small per query. With 10x
    # the data, a linear operator stays well under ~10x (fixed overheads
    # dominate the small run); a hidden quadratic shows up as an outlier
    # ratio no plan-reading can miss. Skippable via SPARK_GRAFT_NO_SCALING
    # to keep the bare headline run cheap.
    scaling = None
    small_dir = sf_dir.replace("sf0.1", "sf0.01")
    if (
        not os.environ.get("SPARK_GRAFT_NO_SCALING")
        and small_dir != sf_dir
        and os.path.isdir(small_dir)
    ):
        small: dict[str, float] = {}
        ratios: dict[str, float] = {}
        for name in HEADLINE:
            fn = QUERIES[name]
            best = float("inf")
            for i in range(2):  # cold + one warm
                t0 = time.perf_counter()
                fn(spark, small_dir).collect()
                dt = time.perf_counter() - t0
                if i > 0:
                    best = min(best, dt)
            small[name] = round(best, 4)
            ratios[name] = round(timings[name] / best, 2) if best > 0 else -1.0
        scaling = {
            "small_sf": _sf_from_dir(small_dir),
            "data_ratio": 10.0,
            "small_sec": small,
            "big_over_small": ratios,
        }

    record = {
        "metric": "headline_query_set_warm_total",
        "value": total,
        "unit": "sec",
        # False when the quiet gate expired still loaded: the absolute
        # times below are then host-contention artifacts and MUST NOT
        # be compared across sessions — use paired_ratios (in-session,
        # self-normalizing) instead.  VERDICT r7 item 1b.
        "headline_valid": bool(load_gate["quiet"]),
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        # methodology stamped into the record so the number is
        # only ever compared like-for-like (BASELINE.md's
        # local[32] column uses the identical method, via
        # tools/measure_baseline.py)
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        # Proof the session honors $SPARK_GRAFT_CPUS (ratios ~1 at this
        # SF look like an ignored knob; the resolved master string and
        # the context's ACTUAL defaultParallelism are stamped so the
        # artifact itself shows cpus/master/parallelism agreeing).
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "method": "3 runs per query in one session; min of runs 2-3",
    }
    if scaling is not None:
        record["scaling"] = scaling
    record["load_context"] = {
        "paired_ratios": paired_ratios,
        "paired_rounds_measured": paired_rounds,
        # numerator sample counts incl. the folded-in headline warm min
        # (> paired_rounds_measured means the engine side rests on more
        # samples than the plain side — disclosed bias, ADVICE r9)
        "paired_engine_samples": paired_engine_samples,
        "paired_ratio_errors": paired_ratio_errors,
        # ratios above their pinned per-(query, regime) ceiling (see
        # _PAIR_BOUNDS); regime names which ceiling family applied
        "paired_bound_breaches": paired_bound_breaches,
        "pair_bound_regime": regime,
        "q1_paired_ratio": q1_paired_ratio,
        "load_gate": load_gate,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "ncpus": os.cpu_count(),
        # duplicated from the record top level because the driver's
        # artifact capture is a bounded TAIL of stdout — load_context is
        # the last block before the compact line, so the cpus-honored
        # proof survives any capture that keeps the record's tail
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "registry_load_sec": registry_load_sec,
        "session_start_sec": session_start_sec,
    }
    print(json.dumps(record))
    print(compact_summary_line(record))
    spark.stop()


if __name__ == "__main__":
    main()
