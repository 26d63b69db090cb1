"""Sharded Bloom seen-filter (the 10^10 design point, BASELINE north star).

Pins: (a) no false negatives — every added URL tests maybe_seen; (b) the
full new_urls path (prefilter + exact confirm) is SET-equal to the plain
anti-join and to the single-shard broadcast path; (c) incremental add_df
carries untouched shards across versions; (d) the membership plan
repartitions by shard (each task loads only its shard bitmap).
"""

import pytest
from pyspark.sql import functions as F

from mycelium_spark.operators.seen import BloomSeen, new_urls


def _urls(spark, lo, hi, tag="u"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"http://h{tag}"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/"), F.col("id").cast("string")).alias("url")
    )


@pytest.fixture(scope="module")
def arrow(spark):
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def test_sharded_no_false_negatives(arrow, tmp_path):
    spark = arrow
    bloom = BloomSeen(num_bits=1 << 14, num_hashes=5, n_shards=8,
                      shard_dir=str(tmp_path / "b1"))
    seen = _urls(spark, 0, 2000)
    bloom.add_df(seen, "url")
    pref = bloom.prefilter(seen, "url")
    assert pref.filter(~F.col("maybe_seen")).count() == 0


def test_sharded_new_urls_equals_exact_and_broadcast(arrow, tmp_path):
    spark = arrow
    seen = _urls(spark, 0, 1500)
    cand = _urls(spark, 1000, 2500)  # 500 overlap, 1000 new
    exact = sorted(r["url"] for r in new_urls(cand, seen, None, "url").collect())
    b1 = BloomSeen(num_bits=1 << 16, num_hashes=5)
    b1.add_df(seen, "url")
    single = sorted(r["url"] for r in new_urls(cand, seen, b1, "url").collect())
    bk = BloomSeen(num_bits=1 << 13, num_hashes=5, n_shards=8,
                   shard_dir=str(tmp_path / "b2"))
    bk.add_df(seen, "url")
    sharded = sorted(r["url"] for r in new_urls(cand, seen, bk, "url").collect())
    assert len(exact) == 1000
    assert single == exact
    assert sharded == exact


def test_incremental_add_carries_untouched_shards(arrow, tmp_path):
    spark = arrow
    bloom = BloomSeen(num_bits=1 << 13, num_hashes=5, n_shards=16,
                      shard_dir=str(tmp_path / "b3"))
    first = _urls(spark, 0, 500)
    bloom.add_df(first, "url")
    # second add touches a disjoint url set (different tag → different shards mix)
    bloom.add_df(_urls(spark, 0, 50, tag="z"), "url")
    assert bloom.version == 2
    pref = bloom.prefilter(first, "url")
    assert pref.filter(~F.col("maybe_seen")).count() == 0  # first batch not lost


def test_membership_plan_partitions_by_shard(arrow, tmp_path):
    spark = arrow
    bloom = BloomSeen(num_bits=1 << 13, num_hashes=3, n_shards=4,
                      shard_dir=str(tmp_path / "b4"))
    bloom.add_df(_urls(spark, 0, 100), "url")
    pref = bloom.prefilter(_urls(spark, 0, 200), "url")
    plan = pref._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_shard" in plan


def test_versions_survive_until_expire_and_failed_build_keeps_version(arrow, tmp_path):
    import os

    spark = arrow
    d = tmp_path / "b5"
    bloom = BloomSeen(num_bits=1 << 13, num_hashes=3, n_shards=4, shard_dir=str(d))
    old_plan_input = _urls(spark, 0, 100)
    bloom.add_df(old_plan_input, "url")               # v1
    stale_plan = bloom.prefilter(old_plan_input, "url")  # lazy, bound to v1 paths
    bloom.add_df(_urls(spark, 100, 200), "url")       # v2
    bloom.add_df(_urls(spark, 200, 300), "url")       # v3
    # no GC inside add_df: the v1 files a 2-adds-old lazy plan needs still exist
    assert any(".v1." in f for f in os.listdir(d))
    assert stale_plan.filter(~F.col("maybe_seen")).count() == 0
    # explicit expire keeps the newest 2 versions only
    bloom.expire(keep=2)
    names = os.listdir(d)
    assert not any(".v1." in f for f in names)
    assert any(".v2." in f for f in names) and any(".v3." in f for f in names)

    # a FAILED distributed build must not advance the version
    class Boom(Exception):
        pass

    bad = spark.createDataFrame([("x",)], ["url"]).select(
        F.udf(lambda u: (_ for _ in ()).throw(ValueError("boom")), "string")("url").alias("url")
    )
    v_before = bloom.version
    try:
        bloom.add_df(bad, "url")
    except Exception:
        pass
    assert bloom.version == v_before
    # and membership against the last good version still works
    assert bloom.prefilter(old_plan_input, "url").filter(~F.col("maybe_seen")).count() == 0


def _plan_nodes(node):
    """Every node of a (logical) plan tree, root first."""
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        out.append(n)
        ch = n.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _udf_names(node) -> list[str]:
    if _kind(node) != "ArrowEvalPython":
        return []
    udfs = node.udfs()
    return [udfs.apply(i).name() for i in range(udfs.size())]


def _scans(node, table_dir: str) -> bool:
    return any(
        _kind(n) == "LogicalRelation"
        and table_dir in n.relation().location().rootPaths().head().toString()
        for n in _plan_nodes(node)
    )


@pytest.mark.parametrize("shards", [1, 4])
def test_round_dedup_runs_each_python_udf_once(arrow, tmp_path, shards):
    """The round's dedup frame is an exact anti-join with no Bloom in it:
    its one Python node is the host UDF (`url_parts_frame`), with no
    `member` UDF and no shard-local MapInPandas. The Bloom-prefiltered
    `new_urls` (the `bench.py` confirm leg) over the same candidate urls,
    read as a materialized frame like `bench.py` reads them, evaluates the
    membership once (one ArrowEvalPython `member`, or one shard-local
    MapInPandas). In neither plan does Python run on the seen side of any
    join, and both are the exact set difference."""
    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth

    spark = arrow
    eng = CrawlEngine(spark, str(tmp_path / "w"), synth.pages_df(spark, 40, 4))
    seen = _urls(spark, 0, 300)
    eng.cat.commit("seen", seen, mode="append", meta={"round": 0})
    links = _urls(spark, 200, 500).select(
        F.lit("http://src.example/").alias("src"), F.lit(0).alias("src_seq"),
        F.col("url").substr(-3, 3).cast("int").alias("pos"), "url",
    )
    targets = _urls(spark, 450, 520)
    frontier = _urls(spark, 480, 490)
    link_urls = {r["url"] for r in links.collect()}
    target_urls = {r["url"] for r in targets.collect()}
    seen_urls = {r["url"] for r in seen.collect()}
    python = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")
    seen_dir = eng.cat.root

    def python_off_seen_side(nodes):
        seen_sides = [
            c
            for n in nodes if _kind(n) == "Join"
            for c in (n.left(), n.right()) if _scans(c, f"{seen_dir}/seen")
        ]
        assert seen_sides
        assert not [n for c in seen_sides for n in _plan_nodes(c) if _kind(n) in python]

    dedup = eng.dedup_candidates(links, targets, frontier)
    nodes = _plan_nodes(dedup._jdf.queryExecution().optimizedPlan())
    assert [_kind(n) for n in nodes if _kind(n) in python] == ["ArrowEvalPython"]
    assert [name for n in nodes for name in _udf_names(n)] == ["url_parts_frame"]
    python_off_seen_side(nodes)

    if shards == 1:
        bloom = eng.bloom  # built over the committed seen set
    else:
        bloom = BloomSeen(num_bits=1 << 13, n_shards=shards,
                          shard_dir=str(tmp_path / "b6"))
        bloom.add_df(eng.cat.read("seen"), "url")
    cand = spark.createDataFrame([(u,) for u in sorted(link_urls | target_urls)], "url string")
    via_bloom = new_urls(cand, eng.cat.read("seen"), bloom, "url")
    nodes = _plan_nodes(via_bloom._jdf.queryExecution().optimizedPlan())
    udfs = [name for n in nodes for name in _udf_names(n)]
    n_map = sum(_kind(n) == "MapInPandas" for n in nodes)
    if shards == 1:
        assert udfs == ["member"] and n_map == 0
    else:
        assert udfs == [] and n_map == 1
    python_off_seen_side(nodes)

    # and both frames are the exact set difference, the round's tagged by origin
    rows = {(r["url"], r["tgt"]) for r in dedup.collect()}
    known = seen_urls | {r["url"] for r in frontier.collect()}
    assert rows == {
        (u, u in target_urls) for u in (link_urls | target_urls) - known
    }
    assert {r["url"] for r in via_bloom.collect()} == (link_urls | target_urls) - seen_urls
