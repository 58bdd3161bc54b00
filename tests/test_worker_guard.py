"""Worker-side zip re-read guard and the shipped package archive.

Every Python task runs ``importlib.invalidate_caches()``; importing
dlkp_spark inside a task makes the worker's zipimporters skip re-reading an
archive whose (mtime, size) is unchanged. These tests pin that the guard is
live in workers only, that zips added later still import, and that a
rewritten zip is re-read. The archive tests pin that ``ensure_shipped``
ships this process's own sources, never a file some other process left.
"""

import importlib
import os
import subprocess
import sys
import tempfile
import uuid
import zipfile
import zipimport

import pandas as pd

import dlkp_spark
from dlkp_spark import contract

PKG_DIR = os.path.dirname(os.path.abspath(dlkp_spark.__file__))
REPO = os.path.dirname(PKG_DIR)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guard_installed_in_workers_not_on_driver(spark):
    def probe(it):
        import importlib
        import os
        import zipimport

        import dlkp_spark  # noqa: F401

        importlib.invalidate_caches()  # every archive read once, stat recorded
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache.get(a) is files
                   for a, files in before.items())
        for _ in it:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "guard": [zipimport.zipimporter.invalidate_caches.__module__],
            "archives": [len(before)],
            "kept": [kept],
        })

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInPandas(
        probe, "pid long, guard string, archives long, kept boolean").collect()
    assert rows
    for r in rows:
        assert r["guard"] == "dlkp_spark"
        # pyspark.zip and the py4j zip are on every worker's sys.path
        assert r["archives"] >= 2
        assert r["kept"], "an unchanged archive was re-read"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_later_add_py_file_imports_in_used_worker(spark, tmp_path):
    def warm(it):
        import dlkp_spark  # noqa: F401

        for _ in it:
            pass
        yield pd.DataFrame({"x": [0]})

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(warm, "x long").collect()
    tag = uuid.uuid4().hex[:12]
    name = f"dlkp_late_{tag}"
    z = str(tmp_path / f"{name}.zip")
    _write_zip(z, {name: f"VALUE = {tag!r}\n"})
    spark.sparkContext.addPyFile(z)

    def probe(it):
        import importlib
        import zipimport

        # set before this task's setup_spark_files ran: a used worker
        guarded = zipimport.zipimporter.invalidate_caches.__module__
        mod = importlib.import_module(name)
        for _ in it:
            pass
        yield pd.DataFrame({"guard": [guarded], "value": [mod.VALUE]})

    rows = spark.range(0, n, 1, n).mapInPandas(
        probe, "guard string, value string").collect()
    assert {r["value"] for r in rows} == {tag}
    assert any(r["guard"] == "dlkp_spark" for r in rows), \
        "no task ran in a worker whose guard was already installed"


def test_guard_rereads_a_rewritten_zip(tmp_path):
    tag = uuid.uuid4().hex[:12]
    a, b = f"dlkp_guard_a_{tag}", f"dlkp_guard_b_{tag}"
    z = str(tmp_path / "guard.zip")
    _write_zip(z, {a: "X = 1\n"})
    stdlib = zipimport.zipimporter.invalidate_caches
    sys.path.insert(0, z)
    try:
        dlkp_spark._guard_zip_rereads()
        assert importlib.import_module(a).X == 1
        importlib.invalidate_caches()  # first read under the guard
        files = zipimport._zip_directory_cache[z]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[z] is files  # unchanged: kept

        size = os.path.getsize(z)
        _write_zip(z, {a: "X = 1\n", b: "Y = 2\n"})
        assert os.path.getsize(z) != size
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[z] is not files  # re-read
        assert importlib.import_module(b).Y == 2
    finally:
        zipimport.zipimporter.invalidate_caches = stdlib
        sys.path.remove(z)
        sys.path_importer_cache.pop(z, None)
        zipimport._zip_directory_cache.pop(z, None)
        for m in (a, b):
            sys.modules.pop(m, None)
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_package_zip_ignores_file_at_old_path():
    # the old builder reused $TMPDIR/dlkp_spark_pkg_<pid>.zip when present
    old = os.path.join(tempfile.gettempdir(), f"dlkp_spark_pkg_{os.getpid()}.zip")
    placed = not os.path.exists(old)
    if placed:
        with open(old, "wb") as f:
            f.write(b"junk")
    try:
        z = contract._package_zip()
        assert os.path.abspath(z) != os.path.abspath(old)
        with zipfile.ZipFile(z) as zf:
            shipped = {n: zf.read(n) for n in zf.namelist()}
    finally:
        if placed:
            os.remove(old)
    sources = {}
    for root, _dirs, files in os.walk(PKG_DIR):
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                rel = os.path.join("dlkp_spark", os.path.relpath(full, PKG_DIR))
                with open(full, "rb") as f:
                    sources[rel] = f.read()
    assert shipped == sources


def _python(code, cwd, **env):
    env = {**os.environ, **env}
    out = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout.split()


def test_package_zip_removed_at_exit(tmp_path):
    tmpdir = tmp_path / "t"
    tmpdir.mkdir()
    path, size = _python(
        "import os; from dlkp_spark.contract import _package_zip; "
        "z = _package_zip(); print(z, os.path.getsize(z))",
        cwd=str(tmp_path), PYTHONPATH=REPO, TMPDIR=str(tmpdir))
    assert path.startswith(str(tmpdir)) and int(size) > 1000
    assert not os.path.exists(path)
    assert os.listdir(tmpdir) == []


def test_package_from_archive_is_not_reshipped(tmp_path):
    tmpdir = tmp_path / "t"
    tmpdir.mkdir()
    src, zipped = _python(
        "import dlkp_spark.contract as c; print(c.__file__, c._package_zip())",
        cwd=str(tmp_path), PYTHONPATH=contract._package_zip(), TMPDIR=str(tmpdir))
    assert src.startswith(contract._package_zip())
    assert zipped == "None"
    assert os.listdir(tmpdir) == []
