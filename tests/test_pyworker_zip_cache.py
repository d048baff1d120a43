"""Python workers do not re-read unchanged zip archives on every task.

Each Python task's set-up calls ``importlib.invalidate_caches()``, which
before Python 3.13 makes every cached ``zipimporter`` re-parse its
archive (``pyspark.zip``, the spark-core jar).  ``_pyworker.install()``
guards that re-read with the archive's (mtime, size); the package
installs it only inside PySpark workers, and ``get_session`` puts the
package on the workers' path so they can import it from any launch
directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from golang_mapreduce_spark import _pyworker

pytestmark = pytest.mark.python_udf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="from Python 3.13 invalidate_caches no longer re-reads archives",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def _rewrite_with_zc_two(archive) -> None:
    """Add module ``zc_two``; the mtime moves even on a coarse clock."""
    _write_zip(archive, {"zc_one": "VALUE = 1\n", "zc_two": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test and count archive reads; the stock
    method is restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    _pyworker.install()
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zc_one`` on ``sys.path``, imported through
    a cached zipimporter."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_one": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_one", "zc_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zc_one")
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    yield archive, importer
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@needs_zip_reread
def test_unchanged_zip_is_not_reread(zip_on_path, guarded):
    archive, _ = zip_on_path
    # stamped at install: its first invalidation reads nothing either
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in guarded


@needs_zip_reread
def test_importer_created_after_install_is_read_once(guarded, zip_on_path):
    archive, _ = zip_on_path
    built = guarded.count(archive)  # the importer's own first read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert guarded.count(archive) == built + 1


@needs_zip_reread
def test_rewritten_zip_is_reread_and_new_module_imports(zip_on_path, guarded):
    archive, _ = zip_on_path
    _rewrite_with_zc_two(archive)
    importlib.invalidate_caches()
    assert guarded.count(archive) == 1
    assert importlib.import_module("zc_two").VALUE == 2
    importlib.invalidate_caches()
    assert guarded.count(archive) == 1


@needs_zip_reread
def test_deleted_zip_behaves_as_stock(zip_on_path, guarded):
    archive, importer = zip_on_path
    with open(archive, "rb") as f:
        data = f.read()
    st = os.stat(archive)
    os.remove(archive)
    importlib.invalidate_caches()
    # stock behaviour: a read is tried, fails, and the importer is emptied
    assert guarded.count(archive) == 1
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    # the same archive put back, same mtime and size, is read again
    with open(archive, "wb") as f:
        f.write(data)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert guarded.count(archive) == 2
    assert importer.find_spec("zc_one") is not None


def test_install_is_a_no_op_from_python_3_13(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@needs_zip_reread
def test_install_twice_is_a_no_op(zip_on_path, guarded):
    archive, _ = zip_on_path
    method = zipimport.zipimporter.invalidate_caches
    _rewrite_with_zc_two(archive)
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is method
    # the second install stamped nothing: the change is still seen
    importlib.invalidate_caches()
    assert guarded.count(archive) == 1
    assert importlib.import_module("zc_two").VALUE == 2


@needs_zip_reread
def test_worker_task_rereads_no_archive_after_engine_udf(spark, sf_dir):
    import __spark_entry__ as entry

    entry.queries()["mr_wc"](spark, sf_dir).collect()

    def _worker_zip_reads(batches):
        """mapInPandas body: how many archive reads one invalidate_caches()
        costs in this worker, next to how many zip importers it holds."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import golang_mapreduce_spark  # noqa: F401  (installs the guard here)

        for _ in batches:
            pass
        reads = []
        stock_read = zipimport._read_directory

        def counting_read(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        importers = sum(
            isinstance(i, zipimport.zipimporter)
            for i in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "importers": [importers]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(_worker_zip_reads, "reads long, importers long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows


def test_driver_zipimport_is_stock(spark, sf_dir):
    import __spark_entry__ as entry

    entry.queries()["mr_wc"](spark, sf_dir).collect()
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport"
    assert method.__qualname__ == "zipimporter.invalidate_caches"


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from golang_mapreduce_spark.session import get_session
import __spark_entry__ as entry
from tests.oracle import compare, duck_connection

spark = get_session(master="local[2]", shuffle_partitions=2,
                    extra_conf={{"spark.ui.enabled": "false"}})
spark.sparkContext.setLogLevel("ERROR")
compare(entry.queries()["mr_wc"](spark, {sf!r}), duck_connection({sf!r}),
        entry.oracle_sql()["mr_wc"], "mr_wc")
spark.stop()
print("MR_WC_OK")
"""


def test_workers_import_package_from_foreign_cwd(tmp_path, sf_dir):
    """Launched from a directory that is not the repository, with no
    PYTHONPATH, the workers of a get_session() session still import the
    package, and mr_wc equals its oracle."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = textwrap.dedent(_FOREIGN_CWD_SCRIPT).format(repo=REPO, sf=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "MR_WC_OK" in out.stdout, out.stderr[-3000:]
