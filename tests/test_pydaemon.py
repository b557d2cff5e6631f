"""The worker daemon (``engine.pydaemon``): workers re-read a zip archive
only when it changed, still see changed and newly added zips, and a session
built outside the checkout can start the daemon. No timing assertions: the
daemon's per-process ``rereads`` count is the observable."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types
import zipfile

from bella_domify_spark.engine import pydaemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe(_rows):
    import os
    import zipimport

    from bella_domify_spark.engine import pydaemon

    patched = zipimport.zipimporter.invalidate_caches is pydaemon._invalidate_if_changed
    yield os.getpid(), pydaemon.rereads, patched


def _import_fresh(zpath, name):
    """Per task: put ``zpath`` on the worker's ``sys.path``, drop any
    earlier import of ``name`` and import it again."""
    def run(_rows):
        import importlib
        import os
        import sys

        from bella_domify_spark.engine import pydaemon

        if zpath not in sys.path:
            sys.path.insert(0, zpath)
        sys.modules.pop(name, None)
        yield os.getpid(), pydaemon.rereads, importlib.import_module(name).VERSION
    return run


def _write_module_zip(path, name, version, pad=0):
    """A zip holding ``name.py``; ``pad`` bytes of comment stored ahead of
    it move the module's offset, so a stale directory reads no VERSION."""
    with zipfile.ZipFile(path, "w") as z:
        if pad:
            z.writestr("pad.txt", "#" * pad)
        z.writestr(f"{name}.py", f"VERSION = {version}\n")


def _last_count(rows):
    """pid -> the daemon count its last task saw."""
    return {pid: n for pid, n, *_ in sorted(rows, key=lambda r: r[1])}


def _job(spark, fn):
    return spark.sparkContext.parallelize(range(4), 4).mapPartitions(fn).collect()


def test_second_job_rereads_no_unchanged_archive(spark):
    first = _job(spark, _probe)
    second = _job(spark, _probe)
    assert all(patched for *_, patched in first + second)
    before = _last_count(first)
    common = [(pid, n) for pid, n, _ in second if pid in before]
    assert common, "no worker ran a task in both jobs"
    assert [(pid, n - before[pid]) for pid, n in common] == [(pid, 0) for pid, _ in common]


def test_zip_rewritten_in_place_is_reread(spark, tmp_path):
    zpath = str(tmp_path / "pdm_rewritten.zip")
    _write_module_zip(zpath, "pdm_rewritten", 1)
    run = _import_fresh(zpath, "pdm_rewritten")
    _job(spark, run)
    old = _job(spark, run)
    assert {v for *_, v in old} == {1}
    _write_module_zip(zpath, "pdm_rewritten", 2, pad=4096)  # same inode
    new = _job(spark, run)
    assert {v for *_, v in new} == {2}
    before = _last_count(old)
    common = [(pid, n) for pid, n, _ in new if pid in before]
    assert common, "no worker ran a task in both jobs"
    # exactly the rewritten archive, once, however many tasks ran
    assert [(pid, n - before[pid]) for pid, n in common] == [(pid, 1) for pid, _ in common]


def test_zip_added_after_first_task_is_importable(spark, tmp_path):
    _job(spark, _probe)
    zpath = str(tmp_path / "pdm_late.zip")
    _write_module_zip(zpath, "pdm_late", 7)
    spark.sparkContext.addPyFile(zpath)

    def late(_rows):
        import pdm_late

        yield pdm_late.VERSION

    assert _job(spark, late) == [7, 7, 7, 7]


def test_caller_executor_pythonpath_is_kept(monkeypatch):
    class Builder:
        def __init__(self):
            self.conf = {}

        def master(self, _m):
            return self

        def appName(self, _n):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return types.SimpleNamespace(
                sparkContext=types.SimpleNamespace(setLogLevel=lambda _level: None))

    builder = Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.build_session(cores=1, extra_conf={
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/srv/deps", "lib"])})
    assert builder.conf["spark.python.daemon.module"] == pydaemon.__name__
    assert builder.conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [
        "/srv/deps", "lib", REPO]
    session.build_session(cores=1, extra_conf={"spark.executorEnv.PYTHONPATH": REPO})
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == REPO
    session.build_session(cores=1)
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == REPO


def test_session_from_foreign_cwd_runs_python_tasks(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from bella_domify_spark.engine.session import build_session

        spark = build_session(cores=1)
        print(spark.sparkContext.parallelize([1, 2], 1).map(lambda x: x + 1).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[2, 3]"
