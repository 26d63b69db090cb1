"""Catalog maintenance: MERGE-style compaction + snapshot expiry +
partitioned commits (the Iceberg analogs the round-1 verdict flagged as
the catalog's missing pieces — no Iceberg jar ships in this container,
so the parquet+manifest stand-in grows the same operations).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mycelium_spark.sources.catalog import Catalog


def _mk(spark, tmp_path, rows, name="docs"):
    cat = Catalog(spark, str(tmp_path))
    for rnd, batch in enumerate(rows):
        df = spark.createDataFrame(batch, ["url", "round", "payload"])
        cat.commit(name, df, mode="append", meta={"round": rnd})
    return cat


def test_compact_applies_last_write_wins(spark, tmp_path):
    cat = _mk(
        spark, tmp_path,
        [
            [("u1", 0, "a"), ("u2", 0, "b")],
            [("u1", 1, "a2"), ("u3", 1, "c")],
            [("u2", 2, "b3")],
        ],
    )
    assert cat.read("docs").count() == 5  # append-only history
    snap = cat.compact("docs", dedup_key="url", order_col="round")
    assert snap == 3
    rows = {r["url"]: (r["round"], r["payload"]) for r in cat.read("docs").collect()}
    assert rows == {"u1": (1, "a2"), "u2": (2, "b3"), "u3": (1, "c")}
    assert cat.meta("docs")["compacted_from"] == 2
    assert cat.meta("docs")["round"] == 2  # prior meta carried forward


def test_expire_snapshots_removes_unreferenced_dirs(spark, tmp_path):
    import os

    cat = _mk(
        spark, tmp_path,
        [[("u%d" % i, 0, "x")] for i in range(4)],
    )
    cat.compact("docs")
    tdir = os.path.join(str(tmp_path), "docs")
    n_dirs_before = len([d for d in os.listdir(tdir) if d.startswith("s")])
    removed = cat.expire_snapshots("docs", keep=1)
    assert removed == 4  # the four pre-compaction append dirs
    assert cat.read("docs").count() == 4  # latest snapshot still intact
    n_dirs_after = len([d for d in os.listdir(tdir) if d.startswith("s")])
    assert n_dirs_after == n_dirs_before - removed


def test_partitioned_commit_prunes(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 8).alias("bucket"),
    )
    cat.commit("frontier", df, mode="overwrite", partition_by=["bucket"])
    out = cat.read("frontier").filter(F.col("bucket") == 3)
    assert out.count() == 13  # ids 3, 11, ..., 99
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert "bucket" in pf  # pruned at the partition level, not post-scan


def test_compacted_docs_equal_window_on_read(spark, tmp_path):
    """CrawlEngine.docs_latest (window-on-read) == compacted table."""
    cat = _mk(
        spark, tmp_path,
        [
            [("u1", 0, "a"), ("u2", 0, "b")],
            [("u1", 1, "a2")],
        ],
    )
    from pyspark.sql import Window

    docs = cat.read("docs")
    w = Window.partitionBy("url").orderBy(F.desc("round"))
    on_read = sorted(
        tuple(r) for r in docs.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1").drop("_rn").collect()
    )
    cat.compact("docs", dedup_key="url", order_col="round")
    materialized = sorted(tuple(r) for r in cat.read("docs").collect())
    assert on_read == materialized


def test_partitioned_append_same_spec_reads_whole_history(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "pa"))
    df1 = spark.createDataFrame([("u1", 0, "a"), ("u2", 1, "b")], ["url", "bucket", "v"])
    df2 = spark.createDataFrame([("u3", 0, "c"), ("u4", 2, "d")], ["url", "bucket", "v"])
    cat.commit("t", df1, mode="append", partition_by=["bucket"])
    cat.commit("t", df2, mode="append", partition_by=["bucket"])
    out = cat.read("t")
    assert out.count() == 4
    # partition-column values survive the multi-snapshot read
    got = {r.url: r.bucket for r in out.collect()}
    assert got == {"u1": 0, "u2": 1, "u3": 0, "u4": 2}


def test_partitioned_append_spec_mismatch_rejected(spark, tmp_path):
    import pytest

    cat = Catalog(spark, str(tmp_path / "pm"))
    df = spark.createDataFrame([("u1", 0, "a")], ["url", "bucket", "v"])
    cat.commit("t", df, mode="append", partition_by=["bucket"])
    with pytest.raises(ValueError, match="partition_by"):
        cat.commit("t", df, mode="append")  # flat append onto partitioned
    with pytest.raises(ValueError, match="partition_by"):
        cat.commit("t", df, mode="append", partition_by=["v"])
    # overwrite with a new spec is allowed (layout replaced, not mixed)
    cat.commit("t", df, mode="overwrite")
    assert cat.read("t").count() == 1


def test_callable_meta_runs_after_the_write(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cm"))
    cat.commit("t", spark.range(3), mode="append", meta={"n": 3})
    seen_at_call = {}

    def meta():
        seen_at_call["data"] = os.path.isdir(str(tmp_path / "cm" / "t" / "s1"))
        seen_at_call["latest"] = cat.latest_snapshot("t")
        return {"n": 5}

    assert cat.commit("t", spark.range(2), mode="append", meta=meta) == 1
    # the data was written and the manifest not yet published
    assert seen_at_call == {"data": True, "latest": 0}
    assert cat.meta("t") == {"n": 5}
    assert cat.read("t").count() == 5


def test_callable_meta_skipped_when_the_write_raises(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cf"))
    cat.commit("t", spark.range(3), mode="append", meta={"n": 3})
    boom = F.udf(lambda x: 1 // 0, "long")
    calls = []
    with pytest.raises(Exception):
        cat.commit(
            "t", spark.range(2).select(boom("id").alias("id")), mode="append",
            meta=lambda: calls.append(1) or {"n": 5},
        )
    assert calls == []
    assert cat.latest_snapshot("t") == 0
    assert not os.path.exists(str(tmp_path / "cf" / "t" / "manifest-1.json"))
    assert cat.meta("t") == {"n": 3}
    assert cat.read("t").count() == 3


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def test_read_schema_equals_inferred_for_partitioned_multi_dir(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "ps"))
    for rnd in range(2):
        df = spark.range(10).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            F.concat(F.lit("b"), F.col("id") % 3).alias("bucket"),
            F.lit(rnd).alias("round"),
        )
        cat.commit("t", df, mode="append", partition_by=["bucket"])
    dirs = cat._manifest("t", cat.latest_snapshot("t"))["dirs"]
    assert len(dirs) == 2
    inferred = spark.read.parquet(dirs[0]).schema
    assert _fields(cat.read("t").schema) == _fields(inferred)
    assert cat.read("t").count() == 20


def test_manifest_without_schema_still_reads(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "ns"))
    df = spark.createDataFrame([("u1", 0, "a"), ("u2", 1, "b")], ["url", "round", "v"])
    cat.commit("t", df, mode="overwrite")
    path = os.path.join(str(tmp_path / "ns"), "t", "manifest-0.json")
    with open(path) as f:
        manifest = json.load(f)
    assert manifest.pop("schema") == df.schema.jsonValue()
    with open(path, "w") as f:
        json.dump(manifest, f)
    out = cat.read("t")
    assert _fields(out.schema) == _fields(spark.read.parquet(*manifest["dirs"]).schema)
    assert sorted(tuple(r) for r in out.collect()) == [("u1", 0, "a"), ("u2", 1, "b")]
