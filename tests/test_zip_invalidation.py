"""The stat-gated ``zipimporter.invalidate_caches`` installed by importing
``mycelium_spark`` (CPython < 3.13): an unchanged archive is not re-read, a
changed or deleted one behaves as in the stdlib."""

import importlib
import itertools
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import mycelium_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 made zipimporter invalidation lazy"
)

_names = (f"zipgate_mod_{i}" for i in itertools.count())


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with two fresh modules, first on ``sys.path``; yields its path,
    the two module names and the list of archives ``_read_directory`` read."""
    path = str(tmp_path / "mods.zip")
    first, second = next(_names), next(_names)
    _write_zip(path, {first: "X = 1\n", second: "X = 2\n"})
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    monkeypatch.setattr(sys, "path", [path] + sys.path)
    yield path, first, second, reads
    sys.path_importer_cache.pop(path, None)
    for name in list(sys.modules):
        if name.startswith("zipgate_mod_"):
            del sys.modules[name]


def test_unchanged_archive_is_not_reread(archive):
    path, first, _, reads = archive
    assert importlib.import_module(first).X == 1
    assert reads == [path]  # the importer's own first read
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0
    # the counter sees what the stdlib method would do
    zipimport.zipimporter.invalidate_caches.stock(sys.path_importer_cache[path])
    assert reads.count(path) == 1


def test_rewritten_archive_reloads(archive):
    path, first, _, reads = archive
    importlib.import_module(first)
    added = next(_names)
    _write_zip(path, {first: "X = 1\n", added: "X = 3\n"})
    with pytest.raises(ImportError):
        importlib.import_module(added)  # not visible before invalidation
    importlib.invalidate_caches()
    assert importlib.import_module(added).X == 3


def test_deleted_archive_behaves_as_stdlib(archive):
    path, first, second, _ = archive
    importlib.import_module(first)
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()  # raises nothing
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module(second)  # no stale import from the old directory


def test_installing_twice_keeps_one_wrapper():
    gated, read = zipimport.zipimporter.invalidate_caches, zipimport._read_directory
    mycelium_spark._install_stat_gated_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated
    assert zipimport._read_directory is read
    assert not hasattr(gated.stock, "stock")


def test_spark_worker_runs_the_replacement(spark):
    """A worker that unpickles an engine UDF imports the package, so the
    probe beside it in the same task sees the replacement."""
    from pyspark.sql import functions as F

    from mycelium_spark.functions.udfs import canon_path_series

    def probe(ids: pd.Series) -> pd.Series:
        gated = hasattr(zipimport.zipimporter.invalidate_caches, "stock")
        return pd.Series([gated] * len(ids))

    row = (
        spark.range(1)
        .select(
            F.pandas_udf(canon_path_series, "string")(F.lit("http://a.example/y")).alias("p"),
            F.pandas_udf(probe, "boolean")("id").alias("gated"),
        )
        .collect()[0]
    )
    assert row["p"] == "/y"
    assert row["gated"] is True
