"""The per-task fixed costs of a Python worker: the zip-directory re-read in
PySpark's import-cache reset (flume_elasticsearch_2_spark/pyworker.py) and
the Unix-domain socket between the JVM and its workers (session.py)."""

from __future__ import annotations

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import pandas as pd
import pytest

from flume_elasticsearch_2_spark import pyworker

STOCK = "zipimport.zipimporter.invalidate_caches"
PATCHED = "flume_elasticsearch_2_spark.pyworker.invalidate_caches"
old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13's zipimport resets its cache lazily"
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@old_python
def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {"fts_zipmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.path_importer_cache, arc, raising=False)
    for mod in ("fts_zipmod_a", "fts_zipmod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("fts_zipmod_a").X == 1
    importer = sys.path_importer_cache[arc]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == arc:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    importlib.invalidate_caches()  # no earlier stat: the stock re-read
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged archive: no re-read

    _write_zip(arc, {"fts_zipmod_a.py": "X = 1\n", "fts_zipmod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("fts_zipmod_b").Y == 2

    os.remove(arc)
    importlib.invalidate_caches()  # stat fails: the stock path, which raises nothing
    assert len(reads) == 3 and importer._files == {}

    monkeypatch.undo()
    assert pyworker.active() == STOCK


@old_python
def test_workers_run_the_patched_cache_reset(spark):
    """Every repo kernel unpickles a package module in its worker, which
    installs the patch there; the driver keeps the stock method."""
    from flume_elasticsearch_2_spark.plans.query_index import _scatter

    tasks = list(range(spark.sparkContext.defaultParallelism))

    def kernel(task):
        return pd.DataFrame({"impl": [pyworker.active()]})

    for _ in range(2):
        got = [r["impl"] for r in _scatter(spark, tasks, kernel, "impl string").collect()]
    assert got == [PATCHED] * len(tasks)
    assert pyworker.active() == STOCK
    assert pyworker.install() is False


def test_socket_dir_is_short_under_a_long_tmpdir(spark, tmp_path, monkeypatch):
    """PySpark names each socket ``<dir>/.<uuid4>.sock`` and AF_UNIX caps
    the path at 107 bytes, so the socket directory must not follow a long
    TMPDIR (or java.io.tmpdir)."""
    from flume_elasticsearch_2_spark import session

    long_dir = tmp_path / ("d" * (150 - len(str(tmp_path)) - 1))
    long_dir.mkdir()
    assert len(str(long_dir)) == 150
    monkeypatch.setenv("TMPDIR", str(long_dir))
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.setattr(session, "_SOCKET_DIR", None)
    d = session._socket_dir()
    try:
        assert len(d) <= 64
        assert os.stat(d).st_mode & 0o777 == 0o700
    finally:
        os.rmdir(d)

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert len(conf.get("spark.python.unix.domain.socket.dir")) <= 64
