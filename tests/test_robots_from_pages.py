"""Fixture-free robots path: rules derived from the pages table itself.

The reference fetches http://<host>/robots.txt through the same fetch
path as content URLs (crawler.cc:1068-1101). With
``robots_from_pages=True`` the engine does the batch analog — robots
rows ARE pages rows keyed by that URL — and must produce exactly the
same crawl as an explicit fixtures table carrying the same bytes.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mycelium_spark.plans.crawl import CrawlEngine
from mycelium_spark.sources import synth

N_PAGES = 120


@pytest.fixture(scope="module")
def corpus(spark):
    pages = spark.createDataFrame(synth.pages_pdf(range(N_PAGES), N_PAGES)).cache()
    fixtures = synth.robots_fixtures(N_PAGES)
    robots = spark.createDataFrame(
        fixtures, "host string, status int, robots_txt string"
    ).cache()
    # robots as pages rows: only hosts that would answer 200 get a row —
    # absent rows are the 404/500 (NOT_AVAILABLE → allowed) cases
    extra = pd.DataFrame(
        [
            {
                "url": f"http://{h}/robots.txt",
                "warc_ts": synth._EPOCH,
                "html": txt.encode(),
                "text": "",
                "lang": "en",
            }
            for (h, status, txt) in fixtures
            if status == 200 and txt is not None
        ]
    )
    pages_with_robots = pages.unionByName(
        spark.createDataFrame(extra, pages.schema)
    ).cache()
    return pages, robots, pages_with_robots


def _run(spark, wd, pages, **kw):
    eng = CrawlEngine(
        spark, str(wd), pages, per_host_budget=4, exact_robots=False, **kw,
    )
    eng.seed(synth.seeds(N_PAGES))
    eng.run(max_rounds=4)
    return eng


def test_pages_derived_robots_matches_fixtures_run(spark, corpus, tmp_path):
    pages, robots, pages_with_robots = corpus
    eng_fix = _run(spark, tmp_path / "fix", pages, robots_fixtures=robots)
    eng_pg = _run(spark, tmp_path / "pg", pages_with_robots, robots_from_pages=True)

    docs_fix = eng_fix.cat.read("docs").select("url", "http_code", "curl_code", "text")
    docs_pg = eng_pg.cat.read("docs").select("url", "http_code", "curl_code", "text")
    assert docs_fix.exceptAll(docs_pg).count() == 0
    assert docs_pg.exceptAll(docs_fix).count() == 0

    links_fix = eng_fix.cat.read("links").select("src", "url")
    links_pg = eng_pg.cat.read("links").select("src", "url")
    assert links_fix.exceptAll(links_pg).count() == 0
    assert links_pg.exceptAll(links_fix).count() == 0


def test_pages_derived_rules_actually_gate(spark, corpus, tmp_path):
    _, _, pages_with_robots = corpus
    eng = _run(spark, tmp_path / "gate", pages_with_robots, robots_from_pages=True)
    blocked_hosts = [
        h
        for (h, s, t) in synth.robots_fixtures(N_PAGES)
        if t is not None and "Disallow: /d3/" in t
    ]
    assert blocked_hosts, "fixture set lost its Disallow hosts"
    docs = eng.cat.read("docs")
    fetched_blocked = (
        docs.filter(F.col("http_code") == 200)
        .filter(F.col("url").rlike("^http://(" + "|".join(blocked_hosts) + ")/d3/"))
        .count()
    )
    assert fetched_blocked == 0
