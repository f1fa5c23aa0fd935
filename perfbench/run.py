"""Benchmark of the gpx2tiles_spark engine.

    python3 perfbench/run.py --workload render|registry --seed N \
        --seconds S --trace 0|1 [--tiny]

Run from the repository root.  Load is a closed loop: one driver thread
issues each operation after the previous one finished, on
``local[CPUS]`` (``harness.CPUS``).  Inputs are made from ``--seed``.

``--trace 0`` prints the end-to-end metrics (``BENCHMARK.json``
``end_to_end``); ``--trace 1`` is a separate run that tags every layer
call with ``setJobGroup``, materializes at each layer boundary, reads
the Spark event log and prints the per-layer metrics (``per_layer``),
with the ratio of the summed layer times to an untraced operation of
the same run (``trace.layers_over_op``).  The last stdout line is the
result object; the line before it is the full record (host facts,
input sizes, samples, check notes).
``--tiny`` shrinks every input for the self-test (``selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# The timed window lasts ``--seconds`` and at least three operations;
# the metrics are their medians.  Before it run ``WARMUP_OPS`` untimed
# operations: the first pays the cold JVM and Python-worker start, the
# second lets the JIT settle, since on the 4-vCPU host this was tuned on
# each of the first few warm operations ran 5-20% faster than the one
# before.
WARMUP_OPS = 2
MIN_OPS = 3

TINY = {"render": {"n_docs": 12, "zoom_max": 8},
        "registry": {"queries": ("sessionize", "clip_candidates",
                                 "cms_user_counts"),
                     "n_events": 500}}


def make_workload(name: str, spark, work: str, seed: int, tiny: bool):
    from registry import Registry
    from render import Render

    cls = {"render": Render, "registry": Registry}[name]
    return cls(spark, work, seed, **(TINY[name] if tiny else {}))


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when the
    gateway's stdin closes); the Python daemon stops with the context."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> tuple[dict, dict]:
    from bench_scaling import Interference
    from harness import (CPUS, RssSampler, closed_loop, configure_env,
                         host_facts, read_event_log, start_session)

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    configure_env(work, event_dir)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "seconds": args.seconds}
    t0 = time.perf_counter()
    setup_meter = Interference()
    setup_meter.start()
    rss = RssSampler().start()
    spark = start_session()
    try:
        session_s = time.perf_counter() - t0
        record["host"] = host_facts(spark, work)
        wl = make_workload(args.workload, spark, work, args.seed, args.tiny)
        input_s = wl.setup_inputs()
        warmup_walls = []
        for _ in range(WARMUP_OPS):
            spark.catalog.clearCache()
            t1 = time.perf_counter()
            wl.warmup()
            warmup_walls.append(time.perf_counter() - t1)
        # the cold first operation; the later ones are in the record
        warmup_s = warmup_walls[0]
        setup_external, setup_cpu_s = setup_meter.stop()
        record["setup"] = {"session_start_s": session_s,
                           "input_s": input_s, "warmup_walls_s": warmup_walls,
                           "wall_s": session_s + input_s + sum(warmup_walls),
                           "cpu_s": setup_cpu_s,
                           "external_cores": setup_external}

        sc = spark.sparkContext
        walls: dict[str, float] = {}

        def stage(name, fn):
            sc.setJobGroup(name, name)
            t = time.perf_counter()
            try:
                return fn()
            finally:
                walls[name] = time.perf_counter() - t
                sc.setJobGroup("probe", "probe")

        if not args.trace:
            log = closed_loop(wl.op, args.seconds, spark, MIN_OPS)
        else:
            log = closed_loop(lambda i: stage("plain", lambda: wl.op(i)),
                              0, spark)
        # the Python-worker peak of set-up and the measured operations
        # only: the checks below run Python workers of their own
        peak_mb = rss.stop()
        n_ops = len(log.walls)
        wl.inject_fault = args.inject_fault
        t2 = time.perf_counter()
        wl.check_warmup()
        failed, notes = wl.failures(log, n_ops)
        record["check_s"] = time.perf_counter() - t2
        attempted = wl.attempted(n_ops)
        record["sizes"] = wl.sizes
        if args.trace:
            counters, checked = wl.traced(stage)
            for _, errors in checked:
                attempted += 1
                failed += bool(errors)
                notes += errors
    finally:
        rss.stop()
        stop_session(spark)
    record["failed"], record["notes"] = failed, notes[:20]
    record["worker_peak_rss_mb"] = peak_mb
    cached_after = max(log.cached_after)
    record["spark_cached_rdds_after"] = cached_after
    record["ops"] = log.summary()
    if not args.trace:
        record["detail"] = wl.detail()
        metrics = {"op_s": statistics.median(log.walls),
                   "op_cpu_s": statistics.median(log.cpu_s),
                   "setup_s": setup_cpu_s,
                   "worker_peak_rss_mb": peak_mb}
    else:
        groups = read_event_log(event_dir)
        plain = groups.get("plain", {})
        plain_s = walls["plain"]
        layers = wl.layer_names()
        layers_s = sum(walls[n] for n in layers)
        metrics = wl.layer_metrics(walls, groups, counters)
        metrics.update({
            "session_start_s": session_s,
            "input_s": input_s,
            "warmup_s": warmup_s,
            "trace.plain_op_s": plain_s,
            "trace.layers_s": layers_s,
            "trace.layers_over_op": layers_s / plain_s,
            "trace.driver_s": sum(walls[n] - groups.get(n, {}).get(
                "jobs_wall_s", 0.0) for n in layers),
            "spark.jobs": plain.get("jobs", 0),
            "spark.tasks": plain.get("tasks", 0),
            "spark.task_s": plain.get("task_s", 0.0),
            "spark.gc_s": plain.get("gc_s", 0.0),
            "spark.spill_mb": plain.get("spill_mb", 0.0),
            "spark.busy_frac": plain.get("task_s", 0.0) / (plain_s * CPUS),
            "spark.driver_s": plain_s - plain.get("jobs_wall_s", 0.0),
            "spark.cached_rdds_after": cached_after,
        })
        record["groups"] = groups
        record["stage_walls_s"] = walls
    # every metric BENCHMARK.json lists for this mode, with its unit; a
    # per-layer metric of a layer this workload does not run reports 0
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]] if not args.trace
                                else metrics.get(m["name"], 0),
                                "unit": m["unit"]} for m in listed},
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("render", "registry"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--inject-fault", action="store_true",
                   help="self-test: damage one output tile (render) or "
                        "query result row (registry) before its check")
    args = p.parse_args(argv)

    root = os.getcwd()
    needed = ["gpx2tiles_spark/__init__.py", "tools/bench_scaling.py",
              "tools/check_oracles.py", "BENCHMARK.json"]
    missing = [n for n in needed if not os.path.isfile(os.path.join(root, n))]
    if missing:
        sys.stderr.write("perfbench: run from the repository root; missing "
                         f"{', '.join(missing)}\n")
        return 2
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
