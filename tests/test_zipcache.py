"""The stat-guarded zip-directory re-read (``gleaner_spark._worker``).

PySpark workers call ``importlib.invalidate_caches()`` once per task; on
CPython 3.11 that re-read every zip on ``sys.path`` (pyspark.zip, py4j, the
Spark core jar, the shipped package zip). The guard must skip unchanged
archives and still re-read a changed one.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import gleaner_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info[:2] != (3, 11), reason="guard installed on CPython 3.11 only"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path):
    """A one-module zip on sys.path, imported once; removed afterwards."""
    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_mod_a").VALUE == 1
        importlib.invalidate_caches()  # stamps every archive once
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    before = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 2\n"})
    # a rewrite within the clock's resolution must still be seen
    os.utime(zip_on_path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000))
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert importlib.import_module("zc_mod_b").VALUE == 2


def test_deleted_archive_takes_the_stdlib_path(zip_on_path):
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert zip_on_path not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[zip_on_path]._files == {}


def _worker_rereads(spark) -> dict[int, tuple[int, bool, bool]]:
    """Per worker pid: (guard's re-read count, guard installed, shipped
    package zip has an importer), from a 16-partition mapInPandas."""

    def probe(batches):
        import importlib.util

        import pandas as pd

        from gleaner_spark import _worker

        for _ in batches:
            pass
        # a miss walks every sys.path entry, so each zip gets an importer
        importlib.util.find_spec("zc_no_such_module")
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "rereads": [_worker.rereads],
            "guarded": [getattr(zipimport.zipimporter.invalidate_caches,
                                "_stat_guarded", False)],
            "shipped": [any(p.endswith("gleaner_spark.zip")
                            for p in zipimport._zip_directory_cache)],
        })

    rows = (
        spark.range(0, 16, numPartitions=16)
        .mapInPandas(probe, "pid long, rereads long, guarded boolean, shipped boolean")
        .collect()
    )
    out: dict[int, tuple[int, bool, bool]] = {}
    for r in rows:
        n, g, s = out.get(r.pid, (0, True, False))
        out[r.pid] = (max(n, r.rereads), g and r.guarded, s or r.shipped)
    return out


def _assert_workers_steady(spark) -> dict[int, tuple[int, bool, bool]]:
    _worker_rereads(spark)  # warm-up: every worker imports the package
    first = _worker_rereads(spark)
    second = _worker_rereads(spark)
    assert all(g for _, g, _ in first.values())
    # a worker whose first package import was in `first` still reads
    # every archive once on its next task; only warmed workers must hold
    warm = {p for p, (n, _, _) in first.items() if n > 0}
    both = warm & second.keys()
    assert both, (first, second)
    assert {p: second[p][0] for p in both} == {p: first[p][0] for p in both}
    return second


def test_workers_do_not_reread_unchanged_archives(spark):
    from gleaner_spark.__main__ import _ship_package

    _assert_workers_steady(spark)
    _ship_package(spark)
    after = _assert_workers_steady(spark)
    assert any(s for _, _, s in after.values())
