"""Benchmark for yase-spark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload build|query_warm|query_cold|update \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout that holds ``yase_spark/``. The last line
of standard output is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it holds the
workload's detailed figures. Traced runs also write their spans to
``perfbench/out/traces/``. The exit code is 0 when every check passed,
1 when a check failed, 2 when the program or its inputs are missing.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def stop_spark() -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "yase_spark", "__init__.py")):
        print(f"perfbench: no yase_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    # the program, for this process and for Spark's Python workers
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # Spark's block and shuffle files; an inherited SPARK_LOCAL_DIRS
    # would otherwise take precedence over any spark.local.dir setting
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM Spark starts (its launcher too) keeps its scratch files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    bench = Bench(spec, args.workload, args.seed, args.seconds, bool(args.trace), work, T_PROCESS)
    try:
        result = WORKLOADS[args.workload](bench)
        if bench.traced:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            bench.tr.write(
                os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                {"workload": args.workload, "seed": args.seed, **result},
            )
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    if bench.errors:
        bench.detail["errors"] = bench.errors[:20]
        bench.detail["error_count"] = len(bench.errors)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": bench.detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
