"""SparkSession factory tuned for the extraction workload.

Arrow execution is mandatory (input_hint: vectorized pandas/Arrow UDFs, no
per-row Python). Arrow batch size trades Python-worker memory against
round-trip overhead: measured on the 262k-turn corpus at 32 pinned cores,
256-row batches gave 23.8k turns/s vs 29.4k at 1024 (4096 only +3% more).
1024 is the default (KB-scale payloads → ~1-2 MB batches); jobs with
MB-scale payloads should lower it.

Python workers come from ``engine.pydaemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. pyspark calls ``importlib.invalidate_caches()``
in every task, which on Python 3.11 re-reads the central directory of every
zip on the worker's ``sys.path``, once per importer: about 200-250 ms of CPU
per task before the UDF runs, the same for every Python operator, and paid
per task, so no Arrow batch size hides it. The daemon re-reads an archive
only when its stat changed since the worker last read it; 64 trivial
``mapPartitions`` tasks on 4 cores went from 2.3-3.0 s to 0.83-0.99 s.
The daemon starts before any task, so ``addPyFile`` paths cannot carry it:
the package's parent directory is appended to
``spark.executorEnv.PYTHONPATH`` (after any value the caller passes), or a
driver started outside the checkout fails every Python task with
``ModuleNotFoundError``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bella_domify_spark.engine import pydaemon

# the directory that holds the ``bella_domify_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _executor_pythonpath(caller: str | None) -> str:
    """The caller's ``spark.executorEnv.PYTHONPATH`` with the package's
    parent appended, unless it is already on it."""
    paths = [p for p in (caller or "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.append(_PACKAGE_PARENT)
    return os.pathsep.join(paths)


def build_session(app_name: str = "bella-domify-spark",
                  cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  arrow_batch_rows: int = 1024,
                  extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2 partitions per core: enough parallelism for AQE to coalesce,
        # bounded task-scheduling overhead in local mode
        shuffle_partitions = max(cores * 2, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # transcript rows are payload-heavy (KB-MB of text each): smaller
        # split size keeps scan/shuffle-write parallelism high even when the
        # source is a few large files
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.python.daemon.module", pydaemon.__name__)
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = _executor_pythonpath(
        conf.get("spark.executorEnv.PYTHONPATH"))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
