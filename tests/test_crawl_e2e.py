"""End-to-end crawl over the synthetic corpus (SURVEY.md §7 minimum slice).

Asserts the north-rule invariants at small scale:
* byte-identical extracted text per url vs the pages table's text column;
* robots gating (disallowed paths never fetched);
* URL-seen set semantics (no URL scheduled twice);
* checkpoint/resume: killing between rounds and resuming from the catalog
  produces the identical final state.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from mycelium_spark.plans.crawl import CrawlEngine
from mycelium_spark.sources import synth

N_PAGES = 150
ROUND_JOBS = 28  # jobs of one round of this fixture (test_round_job_count)


@pytest.fixture(scope="module")
def corpus(spark):
    pages = spark.createDataFrame(synth.pages_pdf(range(N_PAGES), N_PAGES)).cache()
    robots = spark.createDataFrame(
        synth.robots_fixtures(N_PAGES), "host string, status int, robots_txt string"
    ).cache()
    return pages, robots


def make_engine(spark, tmpdir, pages, robots, **kw):
    return CrawlEngine(
        spark, str(tmpdir), pages, robots, per_host_budget=4, n_buckets=8,
        bloom_bits=1 << 16, **kw,
    )


@pytest.fixture(scope="module")
def crawled(spark, corpus, tmp_path_factory):
    pages, robots = corpus
    eng = make_engine(spark, tmp_path_factory.mktemp("w1"), pages, robots)
    n = eng.seed(synth.seeds(N_PAGES))
    stats = eng.run(max_rounds=6)
    return eng, n, stats


def test_crawl_rounds(spark, corpus, crawled):
    pages, robots = corpus
    eng, n, stats = crawled
    assert n > 0
    assert stats[0]["scheduled"] > 0
    assert stats[0]["docs"] > 0
    assert stats[0]["links"] > 0

    docs = eng.cat.read("docs")
    # 1. byte-identical text invariant for every successfully fetched doc
    joined = (
        docs.filter(F.col("http_code") == 200)
        .filter(F.col("curl_code") == 0)
        .join(pages.select("url", F.col("text").alias("expected")), "url")
    )
    n_fetched = joined.count()
    assert n_fetched > 20
    mismatches = joined.filter(F.col("text") != F.col("expected")).count()
    assert mismatches == 0

    # 2. no URL scheduled twice (seen-set discipline)
    seen = eng.cat.read("seen")
    assert seen.count() == seen.select("url").distinct().count()

    # 3. robots discipline: /d3/ paths of Disallow-/d3/ hosts never fetched
    # (exact-match mode: rule '/d3/' only blocks exactly '/d3/', so in
    # reference-exact mode nothing extra is blocked — verify in prefix mode below)
    # 4. metrics have partition lineage
    metrics = eng.cat.read("metrics")
    assert metrics.filter(F.col("stage") == "extract").count() > 0
    assert "partition_id" in metrics.columns


def test_robots_prefix_mode_blocks(spark, corpus, tmp_path):
    pages, robots = corpus
    eng = make_engine(spark, tmp_path / "w2", pages, robots, exact_robots=False)
    eng.seed(synth.seeds(N_PAGES))
    eng.run(max_rounds=4)
    docs = eng.cat.read("docs")
    blocked_hosts = [
        h
        for (h, s, t) in synth.robots_fixtures(N_PAGES)
        if t is not None and "Disallow: /d3/" in t
    ]
    if blocked_hosts:
        fetched_blocked = (
            docs.filter(F.col("http_code") == 200)
            .filter(F.col("url").rlike("^http://(" + "|".join(blocked_hosts) + ")/d3/"))
            .count()
        )
        assert fetched_blocked == 0


def test_resume_from_checkpoint(spark, corpus, tmp_path):
    pages, robots = corpus
    w = tmp_path / "w3"
    eng1 = make_engine(spark, w, pages, robots)
    eng1.seed(synth.seeds(N_PAGES))
    eng1.run_round()
    eng1.run_round()
    mid_round = eng1.round
    del eng1  # "crash" between rounds

    eng2 = make_engine(spark, w, pages, robots)  # resumes from catalog
    assert eng2.round == mid_round
    eng2.run(max_rounds=4)
    docs2 = eng2.cat.read("docs").select("url").distinct()

    # reference run without interruption
    eng3 = make_engine(spark, tmp_path / "w4", pages, robots)
    eng3.seed(synth.seeds(N_PAGES))
    eng3.run(max_rounds=6)
    docs3 = eng3.cat.read("docs").select("url").distinct()

    assert docs2.exceptAll(docs3).count() == 0
    assert docs3.exceptAll(docs2).count() == 0


def test_dangling_links_get_fetch_failure_stubs(crawled):
    eng, _, _ = crawled
    docs = eng.cat.read("docs")
    # offsite dangling iframes → scheduled → not in pages → stub with curl_code 6
    stubs = docs.filter(F.col("curl_code") == 6)
    assert stubs.count() > 0
    assert stubs.filter(F.col("text").isNotNull()).count() == 0


def _persisted_rdds(spark) -> set[int]:
    """Ids of the RDDs holding blocks (caches and checkpoints)."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def stepped(spark, corpus, tmp_path_factory):
    """A second engine over the `crawled` inputs, driven one round at a
    time: per-round stats, the ids of persisted RDDs before and after each
    round, and the job count of round 0 under its own job group."""
    pages, robots = corpus
    eng = make_engine(spark, tmp_path_factory.mktemp("w5"), pages, robots)
    eng.seed(synth.seeds(N_PAGES))
    sc = spark.sparkContext
    stats, blocks, jobs = [], [], None
    for r in range(6):
        before = _persisted_rdds(spark)
        if r == 0:
            sc.setJobGroup("round0", "one crawl round")
        try:
            s = eng.run_round()
        finally:
            if r == 0:
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = _jobs_in_group(spark, "round0")
        blocks.append((before, _persisted_rdds(spark)))
        stats.append(s)
        if s.get("done"):
            break
    return eng, stats, blocks, jobs


def _table(eng, name):
    return Counter(tuple(r) for r in eng.cat.read(name).collect())


def test_rounds_are_deterministic(crawled, stepped):
    """Identical inputs → identical per-round stats and identical
    frontier (url, seq), seen and docs tables."""
    eng1, _, stats1 = crawled
    eng2, stats2, _, _ = stepped
    assert len(stats1) >= 3
    assert stats2 == stats1
    for table in ("frontier", "seen", "docs"):
        assert _table(eng2, table) == _table(eng1, table), table


def test_round_releases_its_blocks(stepped):
    """Everything a round materializes is released when it ends."""
    _, _, blocks, _ = stepped
    assert len(blocks) >= 3
    for before, after in blocks:
        assert after <= before


def test_round_job_count(stepped):
    """Re-execution guard: each shared intermediate of a round runs once,
    so one round of this fixture issues a fixed number of Spark jobs.
    A change here means the round's plan changed; re-pin it only after
    checking that no intermediate is executed twice."""
    _, _, _, jobs = stepped
    assert jobs == ROUND_JOBS
