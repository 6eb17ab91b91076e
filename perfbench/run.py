#!/usr/bin/env python3
"""Repository benchmark: one command, three named workloads.

    python3 perfbench/run.py --workload rebalance_large --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
metrics. The line before it is the run record: the echoed inputs and
execution shape, every workload-level metric, the output checks, and the
failures. See perfbench/README.md.
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
PACKAGE = "clickhouse_data_rebalance_spark"


def _driver_memory() -> str:
    """A quarter of the box's memory, at most 4g: the session factory's
    own default (48g) assumes a far larger machine."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1024, min(4096, kb // 1024 // 4))}m"


def _environment(work: str) -> None:
    """Size the session to the box and keep every file Spark, the JVM and
    Python write inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = _driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM's perf-data file ignores java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _cpu_ticks() -> list[int]:
    """Aggregate CPU time counters of the box (user … steal), or [] where
    /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> float | None:
    if not before or not after:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


# the workload-level metrics of the run record, with units
RECORD_UNITS = {
    "setup_s": "s",
    "resize_p50_s": "s",
    "rows_moved_per_s": "rows/s",
    "reader_unavailable_s": "s",
    "orphaned_bytes_ratio": "ratio",
    "query_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "ops_failed_ratio": "ratio",
}


def _end_to_end(res) -> dict:
    return {
        "setup_s": {"value": res.setup_s, "unit": "s"},
        "pass_cpu_ratio": {"value": res.cpu_ratio, "unit": "ratio"},
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    ticks = _cpu_ticks()
    t_start = time.perf_counter()
    ctx = workloads.Context(args.seed, args.seconds, bool(args.trace), work)
    try:
        workloads.WORKLOADS[args.workload](ctx)
        echo = ctx.echo()
        res = ctx.result
        if args.trace:
            # every per-layer metric BENCHMARK.json names; one a workload
            # does not exercise reads 0
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
            layers = {
                "session.get_spark_s": _median(ctx.get_spark_s),
                "tables.load_tables_s": _median(ctx.load_tables_s),
                **res.layers,
            }
            unknown = set(layers) - set(units)
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}.jsonl"))
        else:
            metrics = _end_to_end(res)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    values = {
        "setup_s": res.setup_s,
        **res.record,
        "ops_failed_ratio": res.failed / res.attempted if res.attempted else 0.0,
    }
    record = {
        "workload": args.workload,
        **echo,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops_timed": len(res.op_s),
        "setup_runs_s": ctx.setup_runs_s,
        "pass_task_cpu_runs_s": res.pass_task_cpu_s,
        **{k: v for k, v in values.items() if k not in RECORD_UNITS},
        "metrics": {k: {"value": v, "unit": RECORD_UNITS[k]}
                    for k, v in values.items() if k in RECORD_UNITS},
        "failures": res.failures[:20],
        "wall_s": time.perf_counter() - t_start,
        # share of the box's CPU time the hypervisor gave to other guests
        # during the run: noise from the host, for comparing runs
        "cpu_steal_share": _steal_share(ticks, _cpu_ticks()),
    }
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
