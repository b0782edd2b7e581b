"""A Spark Python worker re-reads a zip archive's directory only when the
archive has changed (``docling_spark.zipcache``).

``importlib.invalidate_caches()`` runs at the start of every Spark task; on
Python < 3.12 each zip importer re-parses its archive's whole directory
there. The checks count calls to ``zipimport._read_directory``, so no
timing is involved."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from docling_spark import zipcache

REPO = Path(__file__).resolve().parents[1]

# run in a fresh interpreter, so the patch never reaches the test process
UNIT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from docling_spark import zipcache

    archive = os.path.join(sys.argv[1], "pkg.zip")

    def write(*modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            for m in modules:
                z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    write("a")
    sys.path.insert(0, archive)
    import zpkg.a

    if sys.argv[2] == "3.12":
        sys.version_info = (3, 12, 0, "final", 0)
        zipcache.install()
        assert zipimport.zipimporter.invalidate_caches is zipcache._unstamped
        print("untouched")
        sys.exit()

    zipcache.install()
    zipcache.install()
    zipimport._read_directory = counting
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads

    write("a", "b")
    importlib.invalidate_caches()
    import zpkg.b
    assert zpkg.b.NAME == "b"
    # the archive's two importers (root and zpkg/) share one re-read
    assert reads == [archive], reads

    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    print("ok")
    """
)


def _unit(tmp_path, version: str) -> str:
    done = subprocess.run(
        [sys.executable, "-c", UNIT, str(tmp_path), version],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert done.returncode == 0, done.stderr
    return done.stdout.strip()


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="fixed in CPython 3.12")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    assert _unit(tmp_path, "running") == "ok"


def test_install_does_nothing_from_python_3_12(tmp_path):
    assert _unit(tmp_path, "3.12") == "untouched"


@pytest.fixture(scope="module")
def spark():
    yield (
        SparkSession.builder.master("local[2]")
        .appName("zipcache-test")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="fixed in CPython 3.12")
def test_worker_rereads_no_zip_directory_per_task(spark):
    def probe(batches):
        import importlib
        import importlib.util
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pandas as pd

        import docling_spark  # noqa: F401  (installs the patch in this worker)

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        archive = os.path.join(tempfile.mkdtemp(), "wpkg.zip")
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            unchanged = len(reads)
            # a rewritten archive is still re-read
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("wpkg/__init__.py", "")
            sys.path.insert(0, archive)
            importlib.import_module("wpkg")
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("wpkg/__init__.py", "")
                z.writestr("wpkg/b.py", "")
            importlib.invalidate_caches()
            rewritten = importlib.util.find_spec("wpkg.b") is not None
        finally:
            zipimport._read_directory = read_directory
            if archive in sys.path:
                sys.path.remove(archive)
            sys.modules.pop("wpkg.b", None)
            sys.modules.pop("wpkg", None)
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"unchanged": [unchanged], "importers": [importers], "rewritten": [rewritten]}
        )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(probe, "unchanged long, importers long, rewritten boolean")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.importers > 0 and r.unchanged == 0 and r.rewritten, r
    # the driver keeps CPython's method
    assert zipimport.zipimporter.invalidate_caches is zipcache._unstamped
