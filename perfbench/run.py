"""Real-time lake benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see perfbench/README.md):
ingest_live, cdc_upsert, lake_query. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. Lines before it name the
workload's own metrics with units.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

SETUP_REPS = 3


WORKLOADS = {
    "ingest_live": ("perfbench.w_ingest", "IngestLive"),
    "lake_query": ("perfbench.w_lake", "LakeQuery"),
    # runnable, but not in BENCHMARK.json: see README.md
    "cdc_upsert": ("perfbench.w_cdc", "CdcUpsert"),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, "rtdl_spark")):
        print("perfbench: no rtdl_spark package in this checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import importlib

    mod, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(mod), cls)

    work = common.workdir(args.workload)
    common.pin_environment(work)
    # a traced run measures twice, untraced and traced, in about the time
    # an untraced run measures once
    seconds = args.seconds / 2 if args.trace else args.seconds
    # inputs and their oracle answers are rendered while the JVM starts
    prep = Prepare(workload, work, args.seed, seconds)
    prep.start()
    spark = common.start_spark()
    try:
        prep.join()
        if prep.error is not None:
            raise prep.error
        prep.wl.attach(spark)
        return run(spark, prep.wl, args)
    finally:
        common.stop_spark(spark)


class Prepare(threading.Thread):
    def __init__(self, cls, work: str, seed: int, seconds: float):
        super().__init__(name="perfbench-prepare")
        self.cls, self.work, self.seed, self.seconds = cls, work, seed, seconds
        self.wl = None
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.wl = self.cls(self.work, self.seed, self.seconds)
        except BaseException as e:  # re-raised on the main thread
            self.error = e


def run(spark, wl, args) -> int:
    from perfbench.trace import Tracer

    cls = type(wl)
    # setup_s is reported by untraced runs only; a traced run sets up once
    reps = 1 if args.trace else SETUP_REPS
    setup = []
    for rep in range(reps):
        t0 = time.perf_counter()
        wl.setup(rep)
        setup.append(time.perf_counter() - t0)
    setup_s = common.median(setup)

    off = Tracer(spark, enabled=False)
    # a workload's warm-up is for what only its traced run measures
    if args.trace and hasattr(wl, "warmup"):
        t0 = time.perf_counter()
        wl.warmup(off)
        common.say(f"{cls.name}: warm-up {time.perf_counter() - t0:.2f} s")
    res = wl.measure(off)
    failed, notes = wl.verify()
    runs = [res]
    if args.trace:
        from perfbench import layers

        tracer = Tracer(spark, enabled=True)
        tracer.install()
        try:
            wl.setup(reps)
            mark = time.time()
            traced = wl.measure(tracer)
        finally:
            tracer.remove()
        tracer.resolve_jobs()
        tracer.dump(os.path.join(wl.work, "spans.json"))
        metrics = layers.per_layer(wl, tracer, traced, mark)
        f2, n2 = wl.verify()
        failed, notes = failed + f2, notes + n2
        runs.append(traced)
        # the traced measurement runs second, on a warmer JVM, so this
        # reads lower than the true cost of tracing
        base = common.pct(res["latency"], 0.5)
        metrics["trace.overhead_pct"]["value"] = (
            common.pct(traced["latency"], 0.5) - base) / base * 100.0
    else:
        metrics = end_to_end(setup_s, res)

    for note in notes:
        common.say(f"FAIL {note}")
    attempted = sum(r["attempted"] for r in runs)
    late = max(r.get("late_s", 0.0) for r in runs)
    valid = all(r.get("valid", True) for r in runs)
    common.say(f"{cls.name}: setup_s {setup_s:.4f} s (runs {', '.join(f'{s:.3f}' for s in setup)})")
    for label, r in zip(("", "traced "), runs):
        for name, (value, unit) in r["named"].items():
            common.say(f"{cls.name}: {label}{name} {value:.4f} {unit}")
    common.say(f"{cls.name}: error_rate {failed / attempted:.6f} ratio "
               f"({failed} of {attempted})")
    if not valid:
        common.say(f"{cls.name}: INVALID run, generator ran {late:.3f} s late")
    common.emit(failed == 0 and valid, attempted, failed, metrics)
    return 0


def end_to_end(setup_s: float, res: dict) -> dict:
    lat = res["latency"]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_ms": {"value": common.pct(lat, 0.5), "unit": "ms"},
        "latency_p90_ms": {"value": common.pct(lat, 0.9), "unit": "ms"},
        "throughput": {"value": res["throughput"], "unit": "1/s"},
        "peak_rss_mb": {"value": common.peak_rss_mb(), "unit": "MB"},
    }


if __name__ == "__main__":
    sys.exit(main())
