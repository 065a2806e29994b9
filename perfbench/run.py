"""Delta engine benchmark: one closed-loop client against the public API.

Usage (from the repository root)::

    python3 perfbench/run.py --workload meta_point --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs an untraced
pass, a traced pass and a second traced pass from a fresh build of the same
seed, and prints the per-layer metrics. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import re
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: table builds per run; setup_s takes their median
SETUP_REPS = 3
#: write_mix: stored bytes per live byte is read after this many writes,
#: so that a faster engine doing more writes in a run does not move it
STORED_AT_WRITES = 10
DRIVER_MEM = "4g"
#: what the calibration job takes on an unloaded 4-core host; only scales
#: the normalized figures into familiar units
CALIBRATION_NOMINAL_MS = 25.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark():
    """Start the session with all scratch output inside the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = tmp
    from duckdb_delta_spark.session import get_spark

    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def environment(spark, facts: dict) -> dict:
    sc = spark.sparkContext
    m = re.fullmatch(r"local\[(\d+)\]", sc.master)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "spark_master": sc.master,
        "cores": int(m.group(1)) if m else None,
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "ram_bytes": ram,
        "table": facts,
        "table_bytes_over_ram": facts["bytes"] / ram,
    }


class Calibration:
    """A fixed Spark job that touches no engine code, run after every
    measured op. The speed of this shared host drifts by ±20% over 10-30 s
    (other tenants, not steal); the job slows with it, so latency divided
    by the job's median in the same run is steady where raw latency is not.

    A change to the Spark session the engine configures moves the job too,
    and would not show in the normalized figures; the raw figures are
    printed beside them."""

    def __init__(self, spark):
        self.df = spark.range(0, 400_000, numPartitions=4).selectExpr("sum(id * 7 % 13)")
        self.ms: list[float] = []
        for _ in range(5):  # warm-up, not recorded
            self.df.collect()

    def sample(self) -> None:
        t = time.perf_counter()
        self.df.collect()
        self.ms.append(1e3 * (time.perf_counter() - t))

    def slowdown(self) -> float:
        """How much slower than nominal the host ran during the samples."""
        return statistics.median(self.ms) / CALIBRATION_NOMINAL_MS


@dataclass
class Sample:
    name: str
    kind: str        # "read" or "write"
    ms: float        # call into the engine until result or commit
    cost_s: float    # wall time the op took from the client's loop


class Pass:
    """One closed-loop pass: the next op is issued when the last returns."""

    def __init__(self):
        self.samples: list[Sample] = []
        self.failed = 0
        self.peak_rss = 0.0
        self.stored_ratio: float | None = None

    @property
    def attempted(self) -> int:
        return len(self.samples)

    def run(self, wl, built, ops, tracer, seconds: float | None = None,
            max_ops: int | None = None, calibration: Calibration | None = None) -> "Pass":
        deadline = time.perf_counter() + seconds if seconds is not None else None
        writes = 0
        prev = time.perf_counter()
        for op in ops:
            if max_ops is not None and self.attempted >= max_ops:
                break
            if deadline is not None and time.perf_counter() >= deadline:
                break
            with tracer.op(op.name, op.table_root, op.user_bytes):
                t = time.perf_counter()
                try:
                    ok = op.run()
                except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                    log(f"op {self.attempted + 1} ({op.name}) raised:\n"
                        f"{traceback.format_exc()}")
                    ok = False
                ms = 1e3 * (time.perf_counter() - t)
            if not ok:
                self.failed += 1
                log(f"op {self.attempted + 1} ({op.name}) returned a wrong result")
            self.peak_rss = max(self.peak_rss, rss_mb())
            now = time.perf_counter()
            self.samples.append(Sample(op.name, op.kind, ms, now - prev))
            if op.kind == "write":
                writes += 1
                if writes == STORED_AT_WRITES:
                    self.stored_ratio = wl.stored_ratio(built)
                    if deadline is not None:
                        deadline += time.perf_counter() - now
                    now = time.perf_counter()
            if calibration is not None:
                calibration.sample()
                now = time.perf_counter()
            prev = now
        return self

    def _by_type(self, kind: str | None, field: str) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for x in self.samples:
            if kind is None or x.kind == kind:
                out.setdefault(x.name, []).append(getattr(x, field))
        return out

    def typical_ms(self, kind: str, mix: dict[str, float]) -> float:
        """Median latency of each op type, combined over the types by a
        geometric mean weighted by the workload's mix. Per-type medians
        keep where a run stops inside a deck, and a slow first run of a
        type, from moving the figure."""
        med = {n: statistics.median(v) for n, v in self._by_type(kind, "ms").items()}
        total = sum(mix[n] for n in med)
        return math.exp(sum(mix[n] / total * math.log(m) for n, m in med.items()))

    def ops_per_s(self, mix: dict[str, float]) -> float:
        """Throughput of the stated mix: 1 / the mix-weighted median cost
        of one op in the client's loop."""
        med = {n: statistics.median(v) for n, v in self._by_type(None, "cost_s").items()}
        total = sum(mix[n] for n in med)
        return 1.0 / sum(mix[n] / total * m for n, m in med.items())

    def tail(self, kind: str) -> dict:
        """The highest percentile with at least ten samples beyond it."""
        xs = sorted(x.ms for x in self.samples if x.kind == kind)
        if len(xs) <= 10:
            return {"n": len(xs), "pct": None, "ms": None}
        i = len(xs) - 11
        return {"n": len(xs), "pct": math.floor(100 * (i + 1) / len(xs)),
                "ms": round(xs[i], 2)}


def new_build(wl, n: int):
    root = os.path.join(WORK, f"{wl.name}-build{n}")
    shutil.rmtree(root, ignore_errors=True)
    t = time.perf_counter()
    built = wl.build(root)
    return built, root, time.perf_counter() - t


def ops_rng(seed: int, stream: int):
    import numpy as np

    return np.random.default_rng([seed, stream])


def run_untraced(wl, args, session_s: float):
    from perfbench.trace import NullTracer

    tracer = NullTracer()
    build_s = []
    b0, r0, s = new_build(wl, 0)
    build_s.append(s)
    t = time.perf_counter()
    warm = Pass().run(wl, b0, wl.warm_ops(b0, ops_rng(args.seed, 3)), tracer)
    warm_s = time.perf_counter() - t
    shutil.rmtree(r0, ignore_errors=True)
    for n in range(1, SETUP_REPS):
        built, root, s = new_build(wl, n)
        build_s.append(s)
        if n < SETUP_REPS - 1:
            shutil.rmtree(root, ignore_errors=True)
    facts = wl.facts(built)
    log(f"setup: session {session_s:.2f}s, builds {[round(x, 2) for x in build_s]}, "
        f"warm-up {warm_s:.2f}s ({warm.attempted} ops)")

    calibration = Calibration(wl.spark)
    p = Pass().run(wl, built, wl.ops(built, ops_rng(args.seed, 2)), tracer,
                   seconds=args.seconds, calibration=calibration)
    slowdown = calibration.slowdown()
    errors = wl.final_check(built)
    # read-only workloads end as they were built; write_mix was read
    # after its STORED_AT_WRITES-th write unless the run wrote fewer
    stored = p.stored_ratio or wl.stored_ratio(built)
    primary = "write" if any(x.kind == "write" for x in p.samples) else "read"
    raw = {"read_p50_ms": p.typical_ms("read", wl.mix),
           "op_p50_ms": p.typical_ms(primary, wl.mix),
           "ops_per_s": p.ops_per_s(wl.mix)}
    metrics = {
        "setup_s": (session_s + statistics.median(build_s) + warm_s, "s"),
        "read_p50_norm_ms": (raw["read_p50_ms"] / slowdown, "ms"),
        "op_p50_norm_ms": (raw["op_p50_ms"] / slowdown, "ms"),
        "ops_per_s_norm": (raw["ops_per_s"] * slowdown, "1/s"),
        "stored_bytes_per_live_byte": (stored, "ratio"),
        "py_peak_rss_mb": (p.peak_rss, "MB"),
    }
    samples = p._by_type(None, "ms")
    log("samples " + json.dumps({k: [round(v, 1) for v in vs] for k, vs in samples.items()}))
    notes = {"raw": {k: round(v, 3) for k, v in raw.items()},
             "calibration_ms": {"median": round(statistics.median(calibration.ms), 2),
                                "n": len(calibration.ms)},
             "samples": {k: len(v) for k, v in samples.items()},
             "median_ms": {k: round(statistics.median(v), 2) for k, v in samples.items()},
             "primary_op_kind": primary,
             "read_tail": p.tail("read"), "op_tail": p.tail(primary),
             "op_error_rate": (p.failed + bool(errors)) / p.attempted}
    return p, errors, metrics, notes, facts


def run_traced(wl, args):
    from perfbench.trace import NullTracer, Tracer, layer_metrics

    third = args.seconds / 3.0
    b0, r0, _ = new_build(wl, 0)
    Pass().run(wl, b0, wl.warm_ops(b0, ops_rng(args.seed, 3)), NullTracer())
    shutil.rmtree(r0, ignore_errors=True)

    # traced, untraced, traced again: the untraced pass sits between the
    # two traced ones, so JIT warm-up left over after the warm-up ops
    # does not land on one side of trace_overhead_ratio only
    passes, tracers, errors = {}, [], []
    for n, mode in ((1, "traced"), (2, "plain"), (3, "repeat")):
        built, root, _ = new_build(wl, n)
        if n == 1:
            facts = wl.facts(built)
        ops = wl.ops(built, ops_rng(args.seed, 2))
        if mode == "plain":
            passes[mode] = Pass().run(wl, built, ops, NullTracer(), seconds=third)
        else:
            tr = Tracer(wl.spark)
            wl.tracer = tr
            tr.install()
            try:
                limit = (dict(seconds=third) if mode == "traced"
                         else dict(max_ops=passes["traced"].attempted))
                passes[mode] = Pass().run(wl, built, ops, tr, **limit)
            finally:
                tr.uninstall()
                wl.tracer = NullTracer()
            tracers.append(tr)
        errors += wl.final_check(built)
        shutil.rmtree(root, ignore_errors=True)

    a, b = tracers
    ca, cb = a.op_counts(), b.op_counts()
    drift = [f"op {i}: {x} vs {y}" for i, (x, y) in enumerate(zip(ca, cb)) if x != y]
    if len(ca) != len(cb):
        drift.append(f"op count {len(ca)} vs {len(cb)}")
    for d in drift:
        log(f"count drift between two traced runs of seed {args.seed}: {d}")
    errors += [f"count drift: {d}" for d in drift[:5]]

    metrics = layer_metrics(a)
    traced_rate = statistics.mean(
        passes[m].ops_per_s(wl.mix) for m in ("traced", "repeat"))
    metrics["trace_overhead_ratio"] = (passes["plain"].ops_per_s(wl.mix) / traced_rate,
                                       "ratio")
    total = Pass()
    for p in passes.values():
        total.samples += p.samples
        total.failed += p.failed
    notes = {"untraced_ops": passes["plain"].attempted,
             "traced_ops": passes["traced"].attempted,
             "repeat_ops_compared": len(cb), "count_drift": len(drift)}
    return total, errors, metrics, notes, facts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["meta_point", "write_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    sys.path.insert(0, ROOT)
    import duckdb_delta_spark  # noqa: F401 - fail before any work when the engine is absent

    from perfbench.trace import NullTracer
    from perfbench.workloads import WORKLOADS

    shutil.rmtree(WORK, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, NullTracer())
        if args.trace:
            p, errors, metrics, notes, facts = run_traced(wl, args)
        else:
            p, errors, metrics, notes, facts = run_untraced(wl, args, session_s)
        env = environment(spark, facts)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for e in errors:
        log(f"check failed: {e}")
    print(f"env {json.dumps(env, sort_keys=True)}")
    print(f"notes {json.dumps(notes, sort_keys=True)}")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    result = {
        "correct": p.failed == 0 and not errors,
        "attempted": p.attempted,
        "failed": p.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
