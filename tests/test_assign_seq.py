"""assign_seq: dense deterministic sequence, JVM-only plan.

The crawl round's new-frontier stage calls this every round; round 1 flagged
the old rdd.zipWithIndex implementation as the hot-path scale-killer (every
row serialized driver-format -> Python -> JVM). These tests pin (a) dense
0..n-1 correctness in sort order across skewed partition layouts, (b) base
offsets, and (c) the plan staying JVM-side (no Python eval nodes).
"""

from pyspark.sql import functions as F

from mycelium_spark.operators.frontier import assign_seq


def test_dense_sequence_matches_sort_order(spark):
    rows = [(i * 7919 % 1000, f"u{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "url"]).repartition(7)
    out = assign_seq(df, ["k", "url"], base=0).collect()
    assert sorted(r["seq"] for r in out) == list(range(1000))
    by_seq = sorted(out, key=lambda r: r["seq"])
    assert by_seq == sorted(out, key=lambda r: (r["k"], r["url"]))


def test_base_offset_and_duplicate_keys(spark):
    # duplicate order keys: sequence still dense, one seq per row
    rows = [(i % 5, i) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "i"])
    out = assign_seq(df, ["k", "i"], base=1000).collect()
    assert sorted(r["seq"] for r in out) == list(range(1000, 1200))


def test_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], ["k", "v"])
    out = {r["v"]: r["seq"] for r in assign_seq(df, ["k"], base=0, n_parts=16).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_plan_is_jvm_only(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("u"), F.col("id")).alias("url")
    )
    plan = assign_seq(df, ["k"], base=0)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Scan ExistingRDD"):
        assert marker not in plan, f"Python/RDD node in assign_seq plan: {marker}"


def test_seed_seqs_are_dense_in_input_order(spark, tmp_path):
    """A mature crawl's seed step: 5k messy seed lines over a 20k-page
    corpus, on top of a ~32k-url seen set. Every accepted seed gets one seq,
    0..n-1, in input order (per-host FIFO depends on it). Counts and ranks
    taken from two executions of the range exchange gave duplicate and
    missing seqs at this size."""
    import random

    import pandas as pd

    from mycelium_spark.functions.udfs import normalize_url_series
    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth

    n_pages, n_seeds, n_gone = 20000, 5000, 16000
    rng = random.Random(1)
    ids = list(range(n_pages))
    rng.shuffle(ids)
    seeds = []
    for seq, pid in enumerate(ids[:n_seeds]):
        host, d = synth.host_of(pid), f"/d{pid % 7}"
        raw = [
            f"http://{host}{d}/p{pid}.html",
            f"HTTP://{host.upper()}{d}/p{pid}.html",
            f"http://{host}{d}/..{d}/p{pid}.html",
            f"http://{host}{d}/p{pid}.html#frag{seq}",
            f"http://{host}{d}/%70{pid}.html",
        ][rng.randrange(5)]
        seeds.append((seq, raw))
    expected = list(normalize_url_series(pd.Series([raw for _, raw in seeds])))
    seeds.append((n_seeds, "ftp://files.example/skip"))
    seen = [synth.url_of(i) for i in ids[n_seeds:]]
    seen += [synth.url_of(n_pages + j) for j in range(n_gone)]

    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    eng = CrawlEngine(spark, str(tmp_path), pages, use_bloom=False)
    eng.cat.commit(
        "seen", spark.createDataFrame([(u,) for u in seen], "url string"), mode="append"
    )
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert eng.seed(seeds) == n_seeds
    # seed() releases the ranked partitioning it materialized
    assert {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()} <= before
    rows = eng.cat.read("frontier").select("url", "seq").collect()
    by_seq = sorted(rows, key=lambda r: r["seq"])
    assert [r["seq"] for r in by_seq] == list(range(n_seeds))
    assert [r["url"] for r in by_seq] == expected
