"""The daemon's zip re-read guard (``daemon_preload._install_zip_guard``)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pyramidscheme_jl_spark import daemon_preload


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(name, body)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test (restored after) and count directory
    reads per archive path."""
    reads = {}
    real_read = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(daemon_preload, "_zip_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon_preload._invalidate_if_changed)
    return reads


def test_unchanged_archive_is_not_reread_changed_one_is(tmp_path, monkeypatch, guarded):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"zg_a.py": "X = 1\n", "sub/zg_sub.py": "Y = 2\n"})
    # two importers over one archive, like pyspark.zip's many path entries
    monkeypatch.syspath_prepend(os.path.join(arc, "sub"))
    monkeypatch.syspath_prepend(arc)
    for m in ("zg_a", "zg_sub", "zg_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("zg_a").X == 1
    assert importlib.import_module("zg_sub").Y == 2
    n0 = guarded.get(arc, 0)

    importlib.invalidate_caches()  # first sight: one read for both importers
    assert guarded[arc] == n0 + 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert guarded[arc] == n0 + 1
    del sys.modules["zg_a"]
    assert importlib.import_module("zg_a").X == 1  # cached directory still valid

    # rewrite in place with a new module: new size and mtime -> re-read once
    _write_zip(arc, {"zg_a.py": "X = 1\n", "zg_b.py": "Z = 3\n", "sub/zg_sub.py": "Y = 2\n"})
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert guarded[arc] == n0 + 2
    assert importlib.import_module("zg_b").Z == 3

    # same size, only the mtime moves -> still re-read
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert guarded[arc] == n0 + 3


def test_new_archive_path_is_read(tmp_path, monkeypatch, guarded):
    importlib.invalidate_caches()
    arc = str(tmp_path / "added.zip")  # an addPyFile zip at a new path
    _write_zip(arc, {"zg_new.py": "W = 4\n"})
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.modules, "zg_new", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("zg_new").W == 4


def test_daemon_workers_inherit_guard(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"guard": [fn.__name__]})

    rows = spark.range(4).repartition(2).mapInPandas(probe, "guard string").collect()
    assert {r.guard for r in rows} == {"_invalidate_if_changed"}
