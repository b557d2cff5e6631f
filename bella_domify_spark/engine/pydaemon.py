"""Python worker daemon that re-reads a zip archive only when it changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On Python 3.11 that makes every ``zipimporter`` re-read its
archive's central directory, once per importer: 11 reads of ``pyspark.zip``
and 2 of the ``spark-core`` jar, about 200-250 ms of CPU per task before
any user code runs, on every Python operator alike.

Run as ``spark.python.daemon.module`` (``engine.session.build_session``
sets it), this module patches ``zipimporter.invalidate_caches`` so that an
archive whose ``(st_mtime_ns, st_size, st_ino)`` is the one this process
last read reuses ``zipimport._zip_directory_cache[archive]``, then runs
``pyspark.daemon.manager()``. Workers are forked from the daemon and
inherit the patch. A zip rewritten in place has a new stat and is read
fresh (once, however many importers point into it); a zip added later with
``addPyFile``/``--py-files`` is a new path with a new importer.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> stat key taken just before this process last read it
_read_at: dict[str, tuple[int, int, int]] = {}
# per-process count of archive directory reads done by invalidate_caches
rereads = 0

_reread = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self) -> None:
    global rereads
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    # the key is taken before the read: a write that races the read leaves
    # a newer stat behind, so the next call reads again; a failed read
    # drops the cache entry, so the next call reads again too
    _reread(self)
    rereads += 1
    if key is not None:
        _read_at[self.archive] = key


def install() -> None:
    """Patch this process, then read each loaded archive once so that the
    forked workers start from a known stat per archive."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    # patch through the module's import name, so a task that imports
    # ``bella_domify_spark.engine.pydaemon`` sees this process's count
    from bella_domify_spark.engine import pydaemon
    from pyspark import daemon

    pydaemon.install()
    daemon.manager()
