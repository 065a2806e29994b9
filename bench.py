"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>,
   "canary_iters_per_sec": <float>, ...}

The stdout ``queries`` map carries only the 25 slowest queries — the
registry has grown past the driver's line-capture limit (BENCH_r09.json
survived only as a tail with ``"parsed": null``), so the one-line artifact
is kept deliberately small. The FULL per-query map plus per-family
subtotals goes to ``BENCH_DETAIL.json`` next to this file (committed each
round); the stdout line names that file in ``detail_file``.

Delta fixture construction (one-time, derived from the sf dir) happens
before the clock starts — the benchmark measures query execution, matching
the reference's suite structure where data generation is a separate step
(reference: benchmark/benchmark.Makefile:27-37 vs scripts/data_generator/).

Host-throttle hardening (see docs/bench_environment_notes.md): the box's
effective CPU speed varies across a session, which shifts every absolute
timing uniformly and makes cross-round comparison misleading. Two guards:

* a pure-CPU **canary** (20M-iteration integer loop) is timed before and
  after the suite and emitted as ``canary_iters_per_sec`` — a healthy box
  runs ~15-20M iter/s; under observed host throttle it drops 3-4×, so the
  artifact carries its own calibration.
* a **multicore canary** (8 forked processes × the same loop, emitted as
  ``canary_mt_iters_per_sec`` = aggregate iters/sec) — the r17→r18 window
  proved the single-thread canary does NOT track multicore throttle (the
  r18 builder's single-thread canary was FASTER than r17's while
  byte-identical query families ran 1.5× slower: the host throttled the
  many-core envelope, not one core). Suite queries run on local[32], so
  the MT canary is the one that calibrates them; healthy aggregate is
  ~6-8× the single-thread rate on this box.
* every query whose first run lands under 60 s is run **twice** and the
  minimum reported — the second run at sf0.1 is cheap, and min-of-two
  removes one-off scheduler/page-cache spikes AND first-use codegen
  compile costs (expression-heavy plans like PQ pay ~5 s of Janino
  compilation once per session) without hiding real costs (a genuinely
  slow plan is slow on both runs). When the two runs disagree by >50%
  on a ≥0.5 s query under 10 s, a THIRD run breaks the tie (round 10's
  tpch_q18 spike persisted across two adjacent runs and read as a 2×
  regression until round 11 re-timed it at parity). BENCH_DETAIL.json
  carries per-query ``run_counts`` so single-sample readings (first run
  ≥60 s) are distinguishable from min-of-N readings.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RERUN_THRESHOLD_SEC = 10.0
# a first run above RERUN_THRESHOLD used to be reported raw — exactly the
# reading most likely to be a one-off stall (BENCH_r12 carried ~32s of
# phantom regression from two such single-sample spikes: delta_tpch_q06
# 13.2s vs 0.85s re-timed, stream_delta_sink 24.7s vs 3.9s). Now a slow
# first run still buys a second sample unless it's genuinely huge.
SLOW_RERUN_CEILING_SEC = 60.0
CANARY_ITERS = 20_000_000


def cpu_canary() -> float:
    """Iterations/sec of a pure-Python integer loop — the cross-round
    CPU-health calibration from docs/bench_environment_notes.md §1."""
    t0 = time.time()
    acc = 0
    for i in range(CANARY_ITERS):
        acc += i
    dt = time.time() - t0
    return round(CANARY_ITERS / dt, 1)


MT_CANARY_PROCS = 8
MT_CANARY_ITERS = 10_000_000  # per process

# Committed healthy band for the MULTICORE canary (aggregate iter/s),
# from the observed healthy-window spread: r17 ~157M, r19 200.1M, two
# r20 healthy-window peaks at 212M/208M (BENCH_DETAIL.json
# canary_mt_{pre,post} across rounds; the r18 throttled window measured
# ~2-3× under this floor). The band is DATA the runner compares against
# — not prose that drifts (docs/bench_environment_notes.md §3).
# ``throttled`` is emitted true when the measured MT canary falls >1.3×
# below the floor; readings above the ceiling are fine (faster box) and
# only widen the band next round.
CANARY_MT_HEALTHY_FLOOR = 157_000_000.0
# ceiling widened r20→r21 to the observed healthy peak (224.9M in this
# round's final suite run) — same rule as the r20 widening: readings
# above the ceiling are a faster box, not an error, and only move the
# band for the next round's reader
CANARY_MT_HEALTHY_CEILING = 225_000_000.0
CANARY_MT_THROTTLE_RATIO = 1.3


def _mt_loop(_):
    acc = 0
    for i in range(MT_CANARY_ITERS):
        acc += i
    return acc


def cpu_canary_mt() -> float:
    """AGGREGATE iterations/sec of the same loop across 8 forked
    processes — calibrates the MULTICORE envelope the local[32] suite
    actually runs in. The single-thread canary missed the r17→r18 host
    throttle entirely (one core stayed fast while the many-core envelope
    dropped ~1.5×); this one is the suite-relevant signal. Forked
    processes (not threads — the GIL would serialize the loop) so the
    kernel schedules 8 genuinely concurrent CPU-bound workers."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.get_context("fork").Pool(MT_CANARY_PROCS) as pool:
        pool.map(_mt_loop, range(MT_CANARY_PROCS))
    dt = time.time() - t0
    return round(MT_CANARY_PROCS * MT_CANARY_ITERS / dt, 1)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf") or 0)

    from duckdb_delta_spark.queries import all_queries
    from duckdb_delta_spark.session import get_spark
    from duckdb_delta_spark.testing.fixtures import ensure_fixtures

    canary_pre = cpu_canary()
    canary_mt_pre = cpu_canary_mt()
    spark = get_spark("bench")
    queries = all_queries()

    # Scaling-evidence contract (round-20 verdict item 2): the artifact
    # must carry the EFFECTIVE core count so a low-core probe run can
    # verify $SPARK_GRAFT_CPUS was honored instead of inferring
    # "suspect_cpus_ignored" from ≈1 timing ratios (which is also what a
    # constant-bound suite at this SF looks like). Additions-only: the
    # timing methodology and every existing field are unchanged.
    # The count is read from the session's ``local[N]`` master, so it is
    # the one the session actually runs with.
    m = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)
    scaling_evidence = {
        "cpus": int(m.group(1)) if m else None,
        "spark_master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }

    # setup outside the clock: delta fixtures + JVM warmup
    t0 = time.time()
    ensure_fixtures(spark, sf_dir)
    print(f"[bench] fixtures ready in {time.time() - t0:.1f}s", file=sys.stderr)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # warm the Python-worker fleet (fork + pandas/pyarrow import per
    # worker) so the first Arrow-UDF query isn't charged the one-time
    # session cost — same spirit as the JVM warmup above
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long").count()

    timings: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    for name in sorted(queries):
        t0 = time.time()
        queries[name].fn(spark, sf_dir).collect()
        runs = [time.time() - t0]
        # min-of-2 for everything that isn't genuinely huge: a slow first
        # run (10-60s) is the reading MOST likely to be a one-off stall,
        # so it must not be the one reading reported single-sample
        if runs[0] < SLOW_RERUN_CEILING_SEC:
            t0 = time.time()
            queries[name].fn(spark, sf_dir).collect()
            runs.append(time.time() - t0)
            # spike guard (r10's tpch_q18 lesson: a scheduler/page-cache
            # spike can persist across two adjacent runs and read as a
            # 2x regression): when the two runs disagree by >50% and the
            # query is non-trivial, buy one more sample — but cap the
            # tie-break at the re-run threshold so a slow query can't
            # triple the suite's wall time
            if (min(runs) >= 0.5 and max(runs) > 1.5 * min(runs)
                    and min(runs) < RERUN_THRESHOLD_SEC):
                t0 = time.time()
                queries[name].fn(spark, sf_dir).collect()
                runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        run_counts[name] = len(runs)
        print(f"[bench] {name} {timings[name]:.1f}s "
              f"({len(runs)} run{'s' if len(runs) > 1 else ''})",
              file=sys.stderr)

    canary_post = cpu_canary()
    canary_mt_post = cpu_canary_mt()
    total = round(sum(timings.values()), 3)

    # self-judgment against the COMMITTED band: the artifact says whether
    # its own absolute times are comparable to other healthy rounds
    canary_mt = min(canary_mt_pre, canary_mt_post)
    throttled = canary_mt < (CANARY_MT_HEALTHY_FLOOR
                             / CANARY_MT_THROTTLE_RATIO)
    canary_band = {
        "floor": CANARY_MT_HEALTHY_FLOOR,
        "ceiling": CANARY_MT_HEALTHY_CEILING,
        "throttle_ratio": CANARY_MT_THROTTLE_RATIO,
    }

    # Full per-query detail goes to a committed sidecar file; the stdout
    # line must stay under the driver's capture limit (BENCH_r09.json was
    # truncated to an unparseable tail by the 277-entry map).
    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = name.split("_", 1)[0]
        families[fam] = round(families.get(fam, 0.0) + sec, 3)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "queries": timings,
                "run_counts": run_counts,
                "families": families,
                "canary_iters_per_sec": min(canary_pre, canary_post),
                "canary_pre": canary_pre,
                "canary_post": canary_post,
                "canary_mt_iters_per_sec": canary_mt,
                "canary_mt_pre": canary_mt_pre,
                "canary_mt_post": canary_mt_post,
                "canary_band": canary_band,
                "throttled": throttled,
                "timing_mode": "min_of_2_under_60s_plus_spike_guard",
                "suite_total": len(queries),
                **scaling_evidence,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:25])
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "queries_note": "25 slowest of suite_total; full map in detail_file",
                "detail_file": "BENCH_DETAIL.json",
                "sf": sf,
                # CPU-health calibration: healthy ≈ 15-20M iter/s; a
                # 3-4× drop means the box was throttled and absolute
                # times are NOT comparable to other rounds' artifacts
                "canary_iters_per_sec": min(canary_pre, canary_post),
                "canary_pre": canary_pre,
                "canary_post": canary_post,
                # MULTICORE calibration (8 procs × the same loop,
                # aggregate iters/sec): the suite runs on local[32], and
                # the r17→r18 throttle hit the many-core envelope while
                # single-core stayed fast — compare THIS number across
                # rounds before reading absolute suite seconds
                "canary_mt_iters_per_sec": canary_mt,
                "canary_mt_pre": canary_mt_pre,
                "canary_mt_post": canary_mt_post,
                # committed healthy band + the artifact's own verdict:
                # throttled=true ⇒ absolute times NOT comparable across
                # rounds (the r18 lesson, now a number not a judgment)
                "canary_band": canary_band,
                "throttled": throttled,
                "timing_mode": "min_of_2_under_60s_plus_spike_guard",
                # artifact self-description: the driver's correctness
                # window covers only the first 50 registry names
                # (alphabetical); the full suite is larger — see
                # tests/oracle_check.py for the all-names gate
                "suite_total": len(queries),
                "correctness_window": 50,
                # effective core count the run ACTUALLY used (resolved
                # from $SPARK_GRAFT_CPUS by session.py) — the scaling
                # probe's verification that the env var is honored
                **scaling_evidence,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
