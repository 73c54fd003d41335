#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload frontier_table --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run pins itself to the cores it may
use, starts a fresh Spark JVM, builds the workload's inputs from the seed
(cached per seed under ``.perfbench/cache``, outside every timing), sets up
``harness.SETUPS`` times, measures for about ``--seconds`` seconds, checks
the outputs and prints one JSON result as its last line. ``--trace 1`` is
the traced run: it prints the per-layer metrics instead of the end-to-end
ones and writes the full trace to ``.perfbench/out``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("frontier_table", "frontier_http", "content_dedup")

END_TO_END_UNITS = {"setup_s": "s", "work_s": "s", "throughput": "1/s", "peak_rss_mb": "MB"}


def make_workload(name: str, seed: int, cores: int, tracer):
    if name == "content_dedup":
        from perfbench.content import ContentDedup
        return ContentDedup(seed, cores, tracer)
    from perfbench.frontier import Frontier
    return Frontier("http" if name == "frontier_http" else "table", seed, cores, tracer)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_process = time.perf_counter()
    cores = harness.pin_cores()
    harness.prepare_dirs()
    load_start = os.getloadavg()

    from perfbench.trace import Tracer

    traced = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    event_dir = None
    if traced:
        event_dir = os.path.join(harness.OUT, f"eventlog-{run_id}")
        os.makedirs(event_dir, exist_ok=True)
    tracer = Tracer(traced, run_id)
    wl = make_workload(args.workload, args.seed, cores, tracer)

    spark = None
    try:
        # cold start: JVM launch, then the seeded inputs (cached per seed)
        t0 = time.perf_counter()
        spark = harness.start_session(cores, wl.aqe, event_dir)
        jvm_start = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0

        setups = []
        for _ in range(harness.SETUPS):
            wl.stop_services()
            spark.stop()
            t0 = time.perf_counter()
            spark = harness.start_session(cores, wl.aqe, event_dir)
            t1 = time.perf_counter()
            wl.register(spark)
            t2 = time.perf_counter()
            harness.warm_up(spark)
            t3 = time.perf_counter()
            wl.start_services()
            t4 = time.perf_counter()
            setups.append({"session": t1 - t0, "register": t2 - t1, "warmup": t3 - t2,
                           "services": t4 - t3, "total": t4 - t0})
        tracer.spark = spark

        with harness.RssSampler(harness.jvm_pid(spark)) as rss:
            t0 = time.perf_counter()
            # the traced run measures one repetition: it is for the breakdown
            if traced:
                reps = wl.run(spark, 0.0, 1)
            else:
                reps = wl.run(spark, args.seconds, harness.MIN_REPS)
            measured = time.perf_counter() - t0
        wl.stop_services()
        t0 = time.perf_counter()
        attempted, failed, check_info = wl.check(reps)
        check_s = time.perf_counter() - t0
        metrics, info = wl.end_to_end(reps)
        metrics["setup_s"] = harness.median([s["total"] for s in setups])
        metrics["peak_rss_mb"] = rss.peak_mb
        if traced:
            from perfbench import layers
            layers.collect(wl, spark, reps, tracer, setups, jvm_start, metrics, args)
    finally:
        wl.stop_services()
        if spark is not None:
            spark.stop()
        harness.stop_jvm()

    if traced:
        layer = layers.finish(tracer, event_dir, args)
    wl.cleanup(reps)

    named = info.pop("named")
    info.update({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "measured_s": round(measured, 3), "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "jvm_start_s": round(jvm_start, 3),
        "prepare_s": round(prepare_s, 3), "check_s": round(check_s, 3),
        "setups": json.dumps([{k: round(v, 3) for k, v in s.items()} for s in setups]),
        "process_s": round(time.perf_counter() - t_process, 3),
        **check_info,
    })
    named["failed_frac"] = (failed / attempted, "ratio")
    for k, (v, unit) in named.items():
        info[k] = f"{v!r} {unit}"
    correct = failed == 0
    if traced:
        harness.emit(correct, attempted, failed, layer["values"], layer["units"], info)
    else:
        record = {"metrics": metrics, "info": {k: str(v) for k, v in info.items()}}
        with open(os.path.join(harness.OUT, f"{args.workload}-seed{args.seed}-untraced.json"),
                  "w") as f:
            json.dump(record, f, indent=1)
        harness.emit(correct, attempted, failed, metrics, END_TO_END_UNITS, info)
    return 0


if __name__ == "__main__":
    sys.exit(main())
