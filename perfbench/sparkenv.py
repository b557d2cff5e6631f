"""Spark session lifecycle for one benchmark run.

``local_session`` sizes the session to the host (cores from the CPU
affinity mask, driver memory from ``/proc/meminfo``), points every scratch
path of Spark, the JVM and the Python workers at the run's temp root, and
on exit stops the context AND the gateway JVM: ``spark.stop()`` alone
leaves the gateway process running until the Python process ends. The
driver heap is fixed in size so it does not resize during timed work.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of the host, between 1 and 2 GiB: the inputs are tens of
    MB, the heap is committed up front and the machine may be shared."""
    return max(1024, min(2048, host_mem_mb() // 8))


def prepare_env(repo_root: str, tmp_root: str) -> None:
    """Environment every process started after this call inherits: the
    gateway JVM reads it at launch and hands it to the Python workers."""
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")
    for var in ("TMPDIR", "TEMP", "TMP"):
        os.environ[var] = tmp_root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    # workers run the interpreter that runs the benchmark, whatever PATH
    # or PYSPARK_PYTHON would otherwise resolve to
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    os.environ.pop("PYSPARK_GATEWAY_SECRET", None)
    import tempfile

    tempfile.tempdir = tmp_root


def _stop_gateway() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


@contextlib.contextmanager
def local_session(tmp_root: str, cores: int, app_name: str):
    """Yield a local SparkSession built through the program's own
    ``engine.session.build_session``; always tear down context and JVM."""
    from bella_domify_spark.engine.session import build_session

    warehouse = os.path.join(tmp_root, "warehouse")
    heap_mb = driver_memory_mb()
    # a fixed heap (-Xms = -Xmx): heap resizing while the timed loop runs
    # made turns/s differ by ~10% between otherwise identical runs
    java_opts = (f"-Djava.io.tmpdir={tmp_root} -XX:-UsePerfData "
                 f"-Xms{heap_mb}m")
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": warehouse,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.executorEnv.TMPDIR": tmp_root,
        "spark.python.worker.reuse": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = None
    try:
        spark = build_session(app_name=app_name, cores=cores,
                              shuffle_partitions=cores * 2, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        yield spark
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _stop_gateway()
