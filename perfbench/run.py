"""Benchmark entry point.

    python3 perfbench/run.py --workload {follow,analytics} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from the seed under
`.perfbench_work/` in the checkout, drives the program through its
public entry points on `local[<cpus>]`, checks every answer, and prints
one JSON object as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
Exits non-zero without a result when the program is not there or a
run cannot complete.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # every JVM, the spark-submit launcher too; PerfDisableSharedMem keeps
    # HotSpot from writing its hsperfdata file to the system temp directory
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:+PerfDisableSharedMem"
    ).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "helium_etl_lite_spark", "__init__.py")):
        print(f"perfbench: no helium_etl_lite_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    run = workloads.Run(ROOT, work, args.workload, args.seed, args.seconds, bool(args.trace), T0)
    try:
        workloads.WORKLOADS[args.workload](run).main()
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    if not run.ops:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    print(f"perfbench: per-layer {json.dumps(run.layer)}", file=sys.stderr)
    chosen = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    source = run.layer if args.trace else run.e2e
    metrics = {name: {"value": source.get(name, 0.0), "unit": unit} for name, unit in chosen}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
