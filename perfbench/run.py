#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_backfill --seed 1 --seconds 10 --trace 0

Workloads: ``pipeline_backfill`` and ``catalog_mix`` (see ``workloads.py``
and ``README.md``). The run sets up (Spark session,
seeded inputs, one warm-up unit), then runs units of work in a closed loop
with one client until ``--seconds`` have passed, checks the outputs, and
prints a human-readable summary followed by one JSON line:

    {"correct": true, "attempted": 30, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
units alternate between untraced and traced, and the metrics are the
per-layer ones from the traced units (see ``layers.py``), plus the
tracing overhead.

Everything the run writes goes under ``perfbench/.work/``.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PREPARE_REPEATS = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["pipeline_backfill", "catalog_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def set_environment(tmp: str) -> int:
    """Point Spark, the JVM and Python at directories inside the checkout and
    make ``pramen_spark`` importable by Python UDF workers. Returns the core
    count."""
    cores = len(os.sched_getaffinity(0))
    path = [ROOT, os.path.join(ROOT, "examples")]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the Spark application): temp files in the checkout,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    for p in path[:2]:
        if p not in sys.path:
            sys.path.insert(0, p)
    return cores


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for the JVM
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace) -> dict:
    import datagen
    import layers
    import stats
    from workloads import WORKLOADS

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = set_environment(tmp)
    base = datagen.ensure_base(WORK)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    from pramen_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench")
    session_s = time.perf_counter() - t0
    wl = None
    try:
        wl = WORKLOADS[args.workload](spark, run_dir, base, args.seed)
        prepare_s = []
        for _ in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            inputs = wl.prepare()
            prepare_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prepare_s) + warm_s

        probe = layers.Probe(spark) if args.trace else None
        units = []
        start = time.perf_counter()
        k = 0
        while True:
            traced = bool(args.trace) and k % 2 == 1
            if traced:
                units.append(probe.traced_unit(wl, k))
            else:
                units.append(wl.run_unit(k))
            k += 1
            done = time.perf_counter() - start >= args.seconds
            if done and (not args.trace or k >= 2):
                break
        measured_s = time.perf_counter() - start
        failed_checks = wl.check()
        stored = layers.stored(wl) if args.trace else None
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [u for u in units if not u.traced]
    ops = [o for u in units for o in u.ops]
    attempted = len(ops)
    failed = min(attempted, sum(not o.ok for o in ops) + len(failed_checks))
    lat = [o.seconds for o in ops]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "inputs": inputs,
        "units": len(units),
        "unit_walls_s": [round(u.wall, 3) for u in units],
        "measured_s": round(measured_s, 3),
        "ops": attempted,
        "op_p75_s": stats.percentile(lat, 75),
        "setup_parts_s": {"session": session_s, "prepare_median": statistics.median(prepare_s),
                          "warm_up": warm_s},
        "failed_checks": failed_checks[:20],
    }
    if args.trace:
        metrics = probe.metrics(units, stored, session_s)
        probe.tracer.dump(os.path.join(WORK, f"spans-{args.workload}.jsonl"))
    else:
        walls = [u.wall for u in timed]
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(walls), "s"),
            "rows_per_s": (sum(u.rows for u in timed) / sum(walls), "rows/s"),
            "op_p50_s": (statistics.median(lat), "s"),
        }
    print(json.dumps(summary, default=str))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pramen_spark", "cli.py")):
        print(f"perfbench: no pramen_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
