"""Sitemap discovery wired into the crawl engine: robots directives
from the pages table, locs through the S1 ingest gate, idempotent
re-seeding, and a fetch round over the discovered frontier."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mycelium_spark.plans.crawl import CrawlEngine
from mycelium_spark.sources import synth

N_PAGES = 60
HOST = "hot.example"


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = synth.pages_pdf(range(N_PAGES), N_PAGES)
    content_urls = [u for u in pdf["url"] if u.startswith(f"http://{HOST}/")][:3]
    assert len(content_urls) == 3
    locs = "".join(f"<url><loc>{u}</loc></url>" for u in content_urls)
    extra = pd.DataFrame(
        {
            "url": [
                f"http://{HOST}/robots.txt",
                f"http://{HOST}/sitemap_index.xml",
                f"http://{HOST}/sitemap_a.xml",
            ],
            "warc_ts": [pdf["warc_ts"].iloc[0]] * 3,
            "html": [
                (
                    "User-agent: *\nDisallow: /private\n"
                    f"Sitemap: http://{HOST}/sitemap_index.xml\n"
                ).encode(),
                (
                    "<sitemapindex><sitemap>"
                    f"<loc>http://{HOST}/sitemap_a.xml</loc>"
                    "</sitemap></sitemapindex>"
                ).encode(),
                (
                    "<urlset>" + locs
                    + f"<url><loc>http://{HOST}/Missing%2FPage.html</loc></url>"
                    + "<url><loc>https://secure.example/x</loc></url>"
                    + "</urlset>"
                ).encode(),
            ],
            "text": [""] * 3,
            "lang": ["en"] * 3,
        }
    )
    return spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True)).cache(), content_urls


def test_sitemap_seeding_e2e(spark, corpus, tmp_path):
    pages, content_urls = corpus
    eng = CrawlEngine(
        spark, str(tmp_path), pages, robots_from_pages=True,
        per_host_budget=8,
    )
    n = eng.seed_from_sitemaps()
    # 3 content urls + the missing one; the https loc dies at the gate
    assert n == 4
    frontier = {r["url"] for r in eng.cat.read("frontier").collect()}
    assert set(content_urls) <= frontier
    assert all(u.startswith("http://") for u in frontier)
    # normalization ran: the escaped loc is percent-normalized form
    assert f"http://{HOST}/Missing%2FPage.html" in frontier

    # re-discovery is idempotent: everything is already queued
    assert eng.seed_from_sitemaps() == 0

    stats = eng.run_round()
    assert stats["docs"] > 0
    docs = eng.cat.read("docs")
    ok = (
        docs.filter("http_code = 200 AND curl_code = 0")
        .join(pages.select("url", F.col("text").alias("expected")), "url")
    )
    rows = ok.collect()
    assert rows and all(r["text"] == r["expected"] for r in rows)

    # after the round, the discovered urls are in seen: re-seed still 0
    assert eng.seed_from_sitemaps() == 0
