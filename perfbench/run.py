"""Benchmark entry point.

    python3 perfbench/run.py --workload tick_etl --seed 1 --seconds 27 --trace 0

Runs one workload on one ``local[<cores>]`` Spark session in this
process, checks every job's output against its DuckDB twin outside the
timed and set-up regions, and prints two lines on standard output: a
report with every metric's value, unit and sample count, then the
result object (``correct``, ``attempted``, ``failed``, ``metrics``).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run.

Inputs, Spark scratch space and outputs live in ``.perfbench_work/``
at the repository root and are deleted at the end of the run; oracle
digests (``oracle-cache/``) and span files (``traces/``) are kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

END_TO_END = {"setup_s": "s", "job_s_p50": "s", "rows_per_s": "rows/s"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_out"):
        return "B"
    if name.endswith(("ratio", "core_util")):
        return "ratio"
    return "count"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Session:
    """One local[cores] session whose scratch space sits in ``work``;
    on exit the session is stopped and the JVM waited for."""

    def __init__(self, work: Path, cores: int, app: str):
        self.work, self.cores, self.app = work, cores, app

    def __enter__(self):
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # the JVM's temp files (native libraries it unpacks) go under work;
        # -XX:-UsePerfData keeps it from writing its perf-data file to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={self.work / 'warehouse'}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ])
        from tickdatapipeline_spark.session import get_spark

        self.spark = get_spark(self.app)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def __exit__(self, *exc):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        return False


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        with Session(work, cores, f"perfbench-{args.workload}") as spark:
            runner = workloads.Runner(spark, work, cores, traced=bool(args.trace))
            outcome = workloads.WORKLOADS[args.workload](runner, args.seed, args.seconds, t_start)
            if runner.store is not None:
                outcome.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
                outcome.layers["trace.overhead_s"] = runner.store.read_s
        # outputs are checked after the session is gone, outside every timed region
        oracle = workloads.OracleCache(WORK_ROOT / "oracle-cache", work / "duckdb-tmp")
        failed = workloads.verify(runner.jobs, oracle)
        trace_name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        trace_file = WORK_ROOT / "traces" / trace_name
        runner.tracer.write(trace_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    times = [j.seconds for j in outcome.timed if j.error is None] or \
        [j.seconds for j in outcome.timed]
    p50 = statistics.median(times)
    if args.trace:
        values = {n: (float(outcome.layers.get(n, 0.0)), layer_unit(n), len(outcome.timed))
                  for n in workloads.PER_LAYER}
    else:
        measured = {
            "setup_s": (outcome.setup_s, 1),
            "job_s_p50": (p50, len(times)),
            "rows_per_s": (outcome.rows_in / p50, len(times)),
        }
        values = {n: (v, END_TO_END[n], k) for n, (v, k) in measured.items()}
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "metrics": {n: {"value": v, "unit": u, "samples": k} for n, (v, u, k) in values.items()},
        "jobs": [{"label": j.label, "build_s": j.build_s, "run_s": j.run_s, "error": j.error}
                 for j in runner.jobs],
        "oracle_queries_run": oracle.computed,
        "trace_file": str(trace_file.relative_to(ROOT)),
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runner.jobs),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u, _k) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
