"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` but every setting here is chosen for
the 1000-executor / 100 TB case: AQE on (runtime re-plan + skew-join
splitting), Arrow for all pandas-UDF traffic, partition sizes that
keep shuffle blocks in executor memory.

:func:`trim_zip_importers` is the worker-side half: every Python
function the engine hands to Spark calls it first, so a reused Python
worker stops paying a fixed ~0.2 s per task to re-read PySpark's zip
archives (see its docstring).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cs6913-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(int(cpus) * 1, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Large Arrow batches amortize per-batch JVM↔Python transfer
        # overhead in the tokenizer/codec kernels (measured: +40%
        # kernel throughput and +0.1 scaling efficiency vs 10k rows).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def trim_zip_importers() -> None:
    """Drop every cached ``zipimporter`` from ``sys.path_importer_cache``.

    Workaround for a fixed per-task cost of PySpark's Python workers on
    Python 3.11 (whether 3.12+ needs it is unchecked): at the start of
    every task the worker calls ``importlib.invalidate_caches()``
    (``pyspark/worker_util.py``), and each cached ``zipimporter`` then
    re-reads its archive's central directory.  A worker imports PySpark
    from ``pyspark.zip`` (1,328 entries, one cached importer per
    subpackage), plus the py4j zip and the spark-core jar: 16 directory
    reads, ~0.2-0.35 s per task whatever the task's data.

    Called first in every engine kernel, and again after a
    ``mapInPandas`` kernel's last batch: any import after the first call
    walks ``sys.path`` and re-creates the top-level importers (a fresh
    worker's first Arrow batch imports ``pyarrow.pandas_compat``).  The
    reused worker then starts its next task with no importer to
    invalidate.  Idempotent; it removes cache entries only.
    ``sys.modules`` and the loaders of imported modules are untouched,
    and a later import from a zip builds a fresh importer from
    zipimport's own directory cache without re-reading the archive.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
