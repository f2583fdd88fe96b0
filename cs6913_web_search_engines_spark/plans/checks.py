"""Physical-plan assertions (SURVEY §4: verify, don't hand-schedule).

Helpers that inspect ``df._jdf...executedPlan`` / ``explain`` text so
tests can pin the plan shape we designed for:

* term-shard partition pruning reaches the parquet scan
  (``PartitionFilters`` non-empty on the index read);
* small dimension joins broadcast (``BroadcastHashJoin``);
* scans prune columns (``ReadSchema`` contains only what's selected);
* scoring stays inside WholeStageCodegen (no Python in the hot path);
* an action launches only the Spark jobs it needs (``spark_jobs``);
* a Python worker holds no cached ``zipimporter`` after an engine
  kernel ran in it (``worker_zip_importers``).
"""

from __future__ import annotations

import contextlib
import io
import uuid

from pyspark.sql import DataFrame, SparkSession


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_partition_filter(df: DataFrame, col: str) -> bool:
    txt = plan_text(df)
    for line in txt.splitlines():
        if "PartitionFilters" in line and col in line:
            return True
    return False


def has_pushed_filter(df: DataFrame, col: str) -> bool:
    txt = plan_text(df)
    for line in txt.splitlines():
        if "PushedFilters" in line and col in line:
            return True
    return False


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names appearing in the first ReadSchema of the plan."""
    txt = plan_text(df)
    for line in txt.splitlines():
        if "ReadSchema" in line:
            inside = line.split("struct<", 1)
            if len(inside) == 2:
                fields = inside[1].rsplit(">", 1)[0]
                return [f.split(":")[0] for f in fields.split(",") if ":" in f]
    return []


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")


def spark_jobs(spark: SparkSession, action) -> int:
    """Number of Spark jobs ``action()`` launches — run under a fresh
    job group, read back from the status tracker once the listener
    bus has caught up.  The caller's job group is restored."""
    sc = spark.sparkContext
    saved = {p: sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS}
    group = f"spark_jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def worker_zip_importers(spark: SparkSession, slots: int,
                         before=None) -> list[tuple[int, int, float]]:
    """Probe the Python workers with a ``slots``-task ``mapInPandas``
    job (the worker pool the engine's kernels run in).  Each task runs
    ``before()`` first when given (e.g. an engine kernel over a small
    batch: same task, so the same worker process), then reports
    ``(pid, n, ms)``: the pid, the number of ``zipimporter`` values in
    ``sys.path_importer_cache``, and the milliseconds one
    ``importlib.invalidate_caches()`` takes — the call PySpark makes at
    the start of every task (see ``session.trim_zip_importers``)."""

    def probe(batches):
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        if before is not None:
            before()
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        yield pd.DataFrame({"pid": [os.getpid()], "n": [n], "ms": [ms]})

    rows = (spark.range(0, slots, 1, slots)
            .mapInPandas(probe, "pid long, n long, ms double").collect())
    return [(r["pid"], r["n"], r["ms"]) for r in rows]
