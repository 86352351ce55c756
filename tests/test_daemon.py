"""The engine's Python worker daemon (``tslearn_spark._daemon``): zip
importers re-read an archive only when its stamp changed, and sessions
from ``get_spark`` run their workers under that daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from tslearn_spark import _daemon


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{name}.py", (2020, 1, 1, 0, 0, 0)), body)
    os.replace(tmp, path)  # a fresh copy renamed into place: new inode


def test_archive_reread_only_when_its_stamp_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"daemon_mod_a": "X = 1\n"})
    reads = []
    stock = _daemon._stock_invalidate

    def spy(self):
        if self.archive == archive:
            reads.append(self.prefix)
        stock(self)

    monkeypatch.setattr(_daemon, "_read_at", {})
    monkeypatch.setattr(_daemon, "_stock_invalidate", spy)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    for name in ("daemon_mod_a", "daemon_mod_b", "daemon_mod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("daemon_mod_a").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    # rewritten with a new module: picked up, as stock CPython does
    _write_zip(archive, {"daemon_mod_a": "X = 1\n", "daemon_mod_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [""]
    assert importlib.import_module("daemon_mod_b").Y == 2

    # unchanged: one stat, no read
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # new inode, same size and mtime: read again
    st = os.stat(archive)
    _write_zip(archive, {"daemon_mod_a": "X = 1\n", "daemon_mod_c": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size == st.st_size
    importlib.invalidate_caches()
    assert reads == [""]
    assert importlib.import_module("daemon_mod_c").Y == 2

    # same inode and size, new mtime: read again
    reads.clear()
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    importlib.invalidate_caches()
    assert reads == [""]

    # gone: stock behaviour, the importer holds no files
    os.remove(archive)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[archive]._files == {}
    assert archive not in _daemon._read_at


def test_engine_sessions_run_the_engine_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    rows = spark.range(1, numPartitions=1).mapInPandas(report, "fn string").collect()
    assert [r.fn for r in rows] == ["tslearn_spark._daemon.invalidate_caches"]
