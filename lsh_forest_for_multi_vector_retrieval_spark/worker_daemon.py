"""Python worker daemon for the engine's Spark sessions.

Spark forks every Python worker from one daemon process per executor
(``pyspark.daemon``), and each worker calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark/worker_util.py``, after adding the
task's ``--py-files`` to ``sys.path``). On CPython 3.10-3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's central directory. ``pyspark.zip`` (about 1,300 entries) leaves
one importer per imported package prefix, so a task pays that parse about
16 times: roughly 150 ms of worker CPU per task, even for an identity UDF.

Run as ``python -m lsh_forest_for_multi_vector_retrieval_spark.worker_daemon``
(Spark does so when ``spark.python.daemon.module`` names this module; see
``session.get_spark``), this module installs a stat-checked
``zipimporter.invalidate_caches`` and then runs Spark's own daemon, so
every worker forked from it inherits the fix. The patch is installed only
here, never on import: UDF closures pickled by value never import the
engine, so an import-time patch would miss their workers.
"""

from __future__ import annotations

import functools
import os
import zipimport


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with a stat-checked version.

    The replacement reuses the archive's already-parsed directory while
    the archive's ``(st_mtime_ns, st_size)`` equals its value at the last
    parse, and calls the original method when it has changed (or cannot be
    read), so an archive rewritten in place is still re-read. Returns
    whether the stat-checked method is installed; on CPython 3.13+
    zipimport reads the directory lazily (``zipimporter._get_files``) and
    nothing is installed."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    original = cls.invalidate_caches
    # archive path -> (st_mtime_ns, st_size) when its directory was parsed
    parsed_at: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            parsed_at.pop(self.archive, None)
            original(self)
            return
        # stat BEFORE the parse: a rewrite racing the parse changes the
        # stat, so the next call re-reads rather than trusting a stale key
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and parsed_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        parsed_at[self.archive] = key

    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    if install():
        # parse each archive once here, so forked workers inherit the
        # stat record and their first task re-parses nothing either
        importlib.invalidate_caches()
    daemon.manager()
