"""Sync-service benchmark for qms_datawarehouse_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload trickle_serve --seed 1 --seconds 15 --trace 0

Runs one workload (see ``workloads.py``) with one closed-loop client
and Spark at ``local[<cpus>]``, checks every output against an
independent reference, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and
traced cycles and reports per-layer metrics. A human-readable report
of every figure goes to stderr and, with the spans, under
``.perfbench/reports/``. Exit status is 0 only when every operation
succeeded and the outputs are correct.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "qms_datawarehouse_spark")
STATE = os.path.join(ROOT, ".perfbench")


@dataclass
class Context:
    spark: object
    duck: object
    recorder: object
    workdir: str
    seed: int
    seconds: float
    trace: bool
    t_start: float


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def confine_run_files(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write under the run's
    work dir, and pin the timezone the gate's timestamps assume."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": "2g",
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    time.tzset()
    os.chdir(workdir)


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import duckdb

    import metrics
    import spans
    import workloads
    from qms_datawarehouse_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    workdir = os.path.join(STATE, f"{run_id}-{os.getpid()}")
    confine_run_files(workdir)
    spark = get_spark("perfbench", master=f"local[{cpus()}]", shuffle_partitions=cpus())
    recorder = spans.Recorder(spark.sparkContext)
    undo = spans.install(recorder) if args.trace else []
    try:
        ctx = Context(spark, duckdb.connect(), recorder, workdir, args.seed,
                      args.seconds, bool(args.trace), T_START)
        workloads.log(ctx, "session up")
        out = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark)
    finally:
        spans.uninstall(undo)
        stop_spark(spark)

    report = metrics.report(args.workload, out, recorder.spans, rss)
    reports = os.path.join(STATE, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        recorder.dump(os.path.join(reports, f"{run_id}-spans.jsonl"))
    metrics.print_report(report, sys.stderr)
    os.chdir(ROOT)
    shutil.rmtree(workdir, ignore_errors=True)

    chosen = report["per_layer"] if args.trace else report["end_to_end"]
    result = {
        "correct": not out.problems and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics.for_result(chosen, trace=bool(args.trace)),
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
