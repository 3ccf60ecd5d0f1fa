"""The Python-worker daemon (gstools_core_spark.worker_daemon): a Python task
no longer re-reads unchanged zip archives on start, a changed or deleted
archive still behaves as with the stock zipimporter, and get_session makes
the package importable in workers from any driver cwd."""

import importlib
import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from gstools_core_spark import worker_daemon as WD

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def patched(monkeypatch):
    """Install the daemon's patch in this process; count directory reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", WD._invalidate_caches)
    monkeypatch.setattr(WD, "_reads", {})
    reads = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, patched):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["mod_a"])
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # first call reads and records the stamp
    sibling = zipimport.zipimporter(path)  # shares the recorded directory
    del patched[:]
    for _ in range(5):
        imp.invalidate_caches()
        sibling.invalidate_caches()
    assert patched == []
    assert imp.find_spec("mod_a") is not None


def test_rewritten_archive_is_reread(tmp_path, patched):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["mod_a"])
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    assert imp.find_spec("mod_b") is None
    _write_zip(path, ["mod_a", "mod_b"])  # new size, new mtime
    del patched[:]
    imp.invalidate_caches()
    assert patched == [path]
    spec = imp.find_spec("mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.NAME == "mod_b"


def test_deleted_archive_matches_stock(tmp_path, patched):
    def after_delete(name, method):
        path = str(tmp_path / name)
        _write_zip(path, ["mod_a"])
        imp = zipimport.zipimporter(path)
        method(imp)
        os.remove(path)
        method(imp)
        return imp._files, path in zipimport._zip_directory_cache, imp.find_spec("mod_a")

    stock = after_delete("stock.zip", WD._stock_invalidate_caches)
    assert after_delete("patched.zip", WD._invalidate_caches) == stock == ({}, False, None)


def test_task_start_reads_no_archive(spark):
    """Inside a Python task of a get_session session, pyspark's per-task
    importlib.invalidate_caches() re-reads no zip directory — while the
    worker does hold zipimporters (pyspark is imported from pyspark.zip)."""
    import pyarrow as pa

    def probe(batches):
        import zipimport as zi

        reads = []
        stock_read = zi._read_directory

        def counting(archive):
            reads.append(archive)
            return stock_read(archive)

        zi._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = stock_read
        importers = sum(isinstance(f, zi.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "importers": [importers]})

    rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "reads long, importers long").collect()
    assert len(rows) == 4
    assert all(r["importers"] > 0 for r in rows), rows
    assert all(r["reads"] == 0 for r in rows), rows


def test_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, still gets
    workers that launch the daemon and import the package: get_session
    exports the package's parent directory before the JVM starts."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from gstools_core_spark.session import get_session

        def where(batches):
            import pyarrow as pa
            import gstools_core_spark

            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict({{"file": [gstools_core_spark.__file__]}})

        spark = get_session("cwd-probe", cores=1, shuffle_partitions=1, memory_gb=1)
        print("FILE", spark.range(1).mapInArrow(where, "file string").first()["file"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("FILE ")]
    assert line == [f"FILE {os.path.join(REPO, 'gstools_core_spark', '__init__.py')}"], proc.stdout
