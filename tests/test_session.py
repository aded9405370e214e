"""Python-worker behaviour of a built session: the stat-guarded
``zipimporter.invalidate_caches`` the package installs, and late
``addPyFile`` archives still importing under it."""

import sys
import uuid
import zipfile
import zipimport

import pytest

from conftest import pages_df
from parser_rdf_spark import zipguard
from parser_rdf_spark.parse import parse_pages

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; no guard is installed")


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def _run_package_udf(spark) -> None:
    docs = {f"https://w{i}.example.org/": f"<http://e/{i}> <http://e/p> <http://e/o> ."
            for i in range(8)}
    assert parse_pages(pages_df(spark, docs).repartition(8)).count() == 8


@needs_guard
def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    zipguard.install()
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"guard_a.py": "A = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # first call in this process stamps the archive
    n = len(reads)
    for _ in range(3):
        imp.invalidate_caches()
    zipimport.zipimporter(path).invalidate_caches()  # shares the directory cache
    assert len(reads) == n
    assert imp.find_spec("guard_b") is None

    _write_zip(path, {"guard_a.py": "A = 1\n", "guard_b.py": "B = 2\n"})
    imp.invalidate_caches()
    assert len(reads) == n + 1
    assert imp.find_spec("guard_b") is not None


@needs_guard
def test_workers_run_the_guard_after_a_package_udf(spark):
    _run_package_udf(spark)

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        method = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()] * b.num_rows,
                "pkg": ["parser_rdf_spark" in sys.modules] * b.num_rows,
                "guard": [method.__module__] * b.num_rows,
            })

    rows = (spark.range(16, numPartitions=16)
            .mapInArrow(probe, "pid long, pkg boolean, guard string").collect())
    # a worker that never loaded a package UDF is not patched; every
    # worker that did must run the guard
    patched = {(r.pid, r.guard) for r in rows if r.pkg}
    assert patched
    assert {g for _, g in patched} == {"parser_rdf_spark.zipguard"}


def test_pyfile_added_after_workers_are_patched_is_importable(spark, tmp_path):
    _run_package_udf(spark)
    name = f"late_mod_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(path))

    def use(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    rows = spark.range(8, numPartitions=4).mapInArrow(use, "v long").collect()
    assert [r.v for r in rows] == [42] * 8
