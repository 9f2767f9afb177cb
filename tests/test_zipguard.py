"""The zip-directory guard installed by ``import webr`` (webr/__init__.py).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before Python 3.13 that re-parses the central directory of
every zip and jar on the worker's ``sys.path``. The guard re-reads an
archive only when its ``(st_ino, st_mtime_ns, st_size)`` changed.
"""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

import webr

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)


def _write_zip(path: str, files: dict[str, str]) -> None:
    # write beside and rename: a new inode, as a re-shipped file gets
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture()
def read_counter(monkeypatch):
    """archive path -> number of ``zipimport._read_directory`` calls."""
    counts: dict[str, int] = {}
    orig = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "shipped.zip")
    _write_zip(path, {"zg_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for m in ("zg_mod_a", "zg_mod_b"):
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(path, None)


@pytest.mark.skipif(not GUARDED, reason="Python >= 3.13 keeps the stdlib")
def test_guard_skips_unchanged_archive_and_rereads_changed(zip_on_path,
                                                           read_counter):
    import zg_mod_a
    assert zg_mod_a.X == 1
    assert isinstance(sys.path_importer_cache[zip_on_path],
                      zipimport.zipimporter)
    importlib.invalidate_caches()      # first pass stamps the importer
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter.get(zip_on_path, 0) == 0

    _write_zip(zip_on_path, {"zg_mod_a.py": "X = 2  # rebuilt\n",
                             "zg_mod_b.py": "Y = 3\n"})
    importlib.invalidate_caches()
    assert read_counter.get(zip_on_path, 0) == 1
    del sys.modules["zg_mod_a"]
    import zg_mod_a
    import zg_mod_b
    assert (zg_mod_a.X, zg_mod_b.Y) == (2, 3)
    importlib.invalidate_caches()      # stamped with the new key
    assert read_counter.get(zip_on_path, 0) == 1


@pytest.mark.skipif(not GUARDED, reason="Python >= 3.13 keeps the stdlib")
def test_guard_rereads_same_size_rewrite(tmp_path, read_counter):
    """A rewrite that keeps the size (and is done in place, keeping the
    inode) still changes the mtime, so it is picked up."""
    path = str(tmp_path / "same.zip")
    _write_zip(path, {"m.py": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    before = os.stat(path)
    with zipfile.ZipFile(path, "w") as z:     # in place, same inode
        z.writestr("m.py", "X = 9\n")
    st = os.stat(path)
    assert (st.st_ino, st.st_size) == (before.st_ino, before.st_size)
    os.utime(path, ns=(st.st_atime_ns, before.st_mtime_ns + 1_000_000))
    read_counter.clear()
    imp.invalidate_caches()
    assert read_counter == {path: 1}
    assert "X = 9" in imp.get_source("m")


def test_guard_installed_only_below_313():
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__ == "webr") == GUARDED
    # a simulated 3.13 interpreter leaves the stdlib method untouched
    code = ("import sys, zipimport; sys.version_info = (3, 13, 0); "
            "orig = zipimport.zipimporter.invalidate_caches; import webr; "
            "assert zipimport.zipimporter.invalidate_caches is orig")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
    # and so does a real one, where the machine has it
    py313 = shutil.which("python3.13")
    if py313 and subprocess.run(
            [py313, "-c", "import sys; assert sys.version_info >= (3, 13)"],
            capture_output=True).returncode == 0:
        subprocess.run([py313, "-c", code.replace(
            "sys.version_info = (3, 13, 0); ", "")], cwd=REPO, check=True)
    # importing the package twice (a reload) does not stack guards
    importlib.reload(webr)
    again = zipimport.zipimporter.invalidate_caches
    if GUARDED:
        assert again.__wrapped__ is method.__wrapped__
        assert getattr(again.__wrapped__, "__module__", "") != "webr"


def test_guard_active_in_spark_python_worker(spark):
    """Inside a Python worker that has run webr code, the per-task
    ``importlib.invalidate_caches()`` goes through the guard, and once
    the worker's importers are stamped it re-reads none of the zips and
    jars on the worker's ``sys.path``."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import webr  # noqa: F401 — what unpickling any webr UDF does
        reads = []
        orig = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({
            "guard_module": [method.__module__],
            "zip_entries": [sum(p.endswith((".zip", ".jar"))
                                for p in sys.path)],
            "rereads": [len(reads)]})

    rows = (spark.range(0, 4, 1, 4)
            .mapInPandas(probe, "guard_module string, zip_entries long, "
                                "rereads long")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.guard_module == ("webr" if GUARDED else "zipimport")
        assert r.zip_entries > 0      # the worker really has zips to skip
        if GUARDED:
            assert r.rereads == 0
