"""The engine's Python worker daemon: the stat-checked
``zipimporter.invalidate_caches`` it installs, and ``get_spark``'s choice
of daemon module."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from lsh_forest_for_multi_vector_retrieval_spark import session, worker_daemon

LAZY_ZIPIMPORT = hasattr(zipimport.zipimporter, "_get_files")  # CPython 3.13+


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="zipimport already reads lazily")
def test_unchanged_archive_is_not_reparsed_and_rewrite_is_seen(
    tmp_path, monkeypatch
):
    archive = tmp_path / "wdprobe.zip"
    _write_zip(archive, {"wdprobe/__init__.py": "", "wdprobe/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wdprobe", "wdprobe.a", "wdprobe.b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import wdprobe.a  # noqa: F401  (a second zipimporter, for "wdprobe/")

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # restore the original method after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )

    importlib.invalidate_caches()
    stock = reads.count(str(archive))
    assert stock >= 2  # one parse per importer of the archive

    assert worker_daemon.install()
    importlib.invalidate_caches()  # first call records the archive's stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0

    _write_zip(
        archive,
        {"wdprobe/__init__.py": "", "wdprobe/a.py": "X = 1\n",
         "wdprobe/b.py": "Y = 2\n"},
    )
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1  # re-read once, shared by both
    from wdprobe import b

    assert b.Y == 2


def test_session_workers_run_the_stat_checked_method(spark):
    """Every Python worker, including those running closures that never
    import the engine, is forked from the engine's daemon."""
    from pyspark.sql.functions import pandas_udf

    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == session.WORKER_DAEMON_MODULE
    )

    @pandas_udf("string")
    def report(ids):
        import os
        import zipimport as zi

        installed = hasattr(zi.zipimporter.invalidate_caches, "__wrapped__")
        return ids.map(lambda _: f"{os.getpid()}:{installed}")

    got = {
        r.w
        for r in spark.range(0, 64, numPartitions=16)
        .select(report("id").alias("w"))
        .collect()
    }
    flags = {w.split(":")[1] for w in got}
    assert flags == ({"False"} if LAZY_ZIPIMPORT else {"True"}), got


def test_daemon_guard_requires_an_importable_package_root(monkeypatch, tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session.site, "getusersitepackages", lambda: "")
    monkeypatch.delenv("PYTHONPATH", raising=False)

    monkeypatch.chdir(root)
    assert session._workers_import_engine("local[2]")
    # remote workers do not share this process's working directory
    assert not session._workers_import_engine("spark://host:7077")

    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_engine("local[2]")
    monkeypatch.setenv("PYTHONPATH", f"{tmp_path}:{root}")
    assert session._workers_import_engine("local[2]")
