"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process on ``local[N]`` (N = the CPUs this
process may use), with inputs generated from ``--seed`` under a
scratch directory of the checkout that is deleted on exit.  Prints a
``{"health": ...}`` line describing the host and the run, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
per-layer metrics (``--trace 1``, a separate traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _cpu_seconds() -> dict[str, float]:
    """Host-wide user and steal CPU seconds from ``/proc/stat``."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    return {"user_s": (int(cpu[1]) + int(cpu[2])) / hz,
            "steal_s": int(cpu[8]) / hz}


def _mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return -1


def _configure(work: str, cpus: int, trace: bool) -> None:
    """Point Spark, the JVM and Python temp files into ``work`` before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = ["--driver-java-options", java_opts,
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={pathlib.Path(log_dir).as_uri()}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "SPARK_LAUNCHER_OPTS": java_opts,   # spark-submit's own launcher JVM
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(map(shlex.quote, conf + ["pyspark-shell"])),
    })
    tempfile.tempdir = None


def _stop_jvm() -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it (its Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _versions(spark) -> dict[str, str]:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full",
                    help="input sizes: full (the benchmark) or toy (smoke test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the engine and the benchmark's spec must both be in this checkout
    from perfbench import tracing, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    cpu0, t_start = _cpu_seconds(), time.perf_counter()
    tracer = tracing.Tracer(enabled=bool(args.trace))
    try:
        _configure(work, cpus, bool(args.trace))
        workloads.install_probes(tracer)
        t0 = time.perf_counter()
        run = workloads.Run(tracer, work, args.seed, args.seconds,
                            workloads.SCALES[args.scale], cpus)
        jvm_start_s = time.perf_counter() - t0
        versions = _versions(run.spark)
        res = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.spark.stop()          # flushes the event log
            jobs = tracing.fold_event_log(os.path.join(work, "eventlog"),
                                          tracer, cpus)
            values = workloads.layer_metrics(run, jobs)
        else:
            values = {"setup_s": statistics.median(res["setup_s"]),
                      "build_postings_per_s": res["build_rate"],
                      "throughput": res["throughput"]}
    finally:
        tracer.unpatch()
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
                os.rmdir(WORK_ROOT)

    if set(values) != {m["name"] for m in wanted}:
        raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json")
    cpu1 = _cpu_seconds()
    print(json.dumps({"health": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "nproc": cpus, "master": f"local[{cpus}]",
        "mem_available_mb": _mem_available_mb(),
        "host_user_s": round(cpu1["user_s"] - cpu0["user_s"], 2),
        "host_steal_s": round(cpu1["steal_s"] - cpu0["steal_s"], 2),
        "jvm_start_s": round(jvm_start_s, 3),
        "setup_cycles_s": [round(x, 3) for x in res["setup_s"]],
        **{k: round(run.facts[k], 3) for k in ("gen_s", "ops_wall_s", "check_s")},
        "op_s": [round(x, 3) for x in run.facts["op_s"]],
        "run_wall_s": round(time.perf_counter() - t_start, 3),
        "oracle_checked": run.checked, "versions": versions}}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": res["attempted"],
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
