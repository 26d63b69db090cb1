"""Redirect/eff_url semantics (crawler.cc:52,862-868,1094-1096).

* chain A→B→C: one doc with url=A, eff_url=C, text byte-identical to C's
  content; B never produces its own doc unless independently scheduled;
* a chain of exactly MAXREDIRS redirects succeeds; one more → curl_code 47
  failure stub (CURLE_TOO_MANY_REDIRECTS), self-loops included;
* redirect to a non-http(s) scheme → curl_code 1 (REDIR_PROTOCOLS);
* relative Location values resolve against the current URL (merge_ref);
* BOTH chain ends enter the seen set: a later link to the redirect target
  is not refetched; seen stays duplicate-free;
* the synthetic corpus with with_redirects=True keeps the byte-identity
  invariant through chains;
* resolution stops hopping once no chain is in flight.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from mycelium_spark.operators.materialize import release
from mycelium_spark.operators.redirects import (
    CURLE_TOO_MANY_REDIRECTS,
    CURLE_UNSUPPORTED_PROTOCOL,
    prepare_redirect_edges,
    resolve_redirect_chains,
)
from mycelium_spark.plans.crawl import CrawlEngine
from mycelium_spark.sources import synth

TS = datetime.datetime(2012, 4, 7, 21, 28, 26)
PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string,"
    " redirect_to string"
)


def _content(url: str, body: str, links: list[str] = ()) -> tuple:
    anchors = "".join(f'<a href="{l}">x</a> ' for l in links)
    html = (
        f"<html><head><title>T {body}</title></head>"
        f"<body><p>{body}</p>{anchors}</body></html>"
    ).encode()
    from mycelium_spark.functions.lexer import html_lex

    text = html_lex(html, url).text.decode("utf-8")
    return (url, TS, html, text, "en", None)


def _redir(url: str, to: str) -> tuple:
    return (url, TS, None, None, None, to)


@pytest.fixture(scope="module")
def chain_pages(spark):
    rows = [
        # 2-hop chain with content at the end
        _redir("http://a.example/start", "http://b.example/mid"),
        _redir("http://b.example/mid", "http://c.example/end"),
        _content("http://c.example/end", "the final content c", []),
        # exactly MAXREDIRS(5) redirects → still succeeds
        *[
            _redir(f"http://h{i}.example/r", f"http://h{i + 1}.example/r")
            for i in range(5)
        ],
        _content("http://h5.example/r", "five hops deep", []),
        # 6 redirects → 47
        *[
            _redir(f"http://g{i}.example/r", f"http://g{i + 1}.example/r")
            for i in range(6)
        ],
        _content("http://g6.example/r", "never reached", []),
        # self-loop → 47
        _redir("http://loop.example/x", "http://loop.example/x"),
        # redirect to an unsupported protocol → 1
        _redir("http://badproto.example/x", "ftp://files.example/x"),
        # RELATIVE Location value (resolves against the current URL)
        _redir("http://rel.example/a/old.html", "../new/spot.html"),
        _content("http://rel.example/new/spot.html", "relative landing", []),
        # linker page pointing at the a-chain's target
        _content(
            "http://linker.example/p", "links to c", ["http://c.example/end"]
        ),
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA).cache()


def _run(spark, tmp_path, pages, seed_urls, rounds=3):
    eng = CrawlEngine(
        spark, str(tmp_path), pages, per_host_budget=4, n_buckets=4,
        bloom_bits=1 << 14,
    )
    eng.seed(list(enumerate(seed_urls)))
    eng.run(max_rounds=rounds)
    return eng


@pytest.fixture(scope="module")
def crawled(spark, chain_pages, tmp_path_factory):
    """One crawl over every scenario at once (engine runs are the slow
    part — all assertions share this state)."""
    eng = _run(
        spark, tmp_path_factory.mktemp("redir"), chain_pages,
        [
            "http://a.example/start", "http://h0.example/r",
            "http://g0.example/r", "http://loop.example/x",
            "http://badproto.example/x", "http://rel.example/a/old.html",
            "http://linker.example/p",
        ],
        rounds=4,
    )
    docs = {r["url"]: r for r in eng.cat.read("docs").collect()}
    seen = [r["url"] for r in eng.cat.read("seen").collect()]
    return eng, docs, seen


def test_chain_resolution_and_eff_url(spark, chain_pages, crawled):
    eng, docs, seen = crawled
    a = docs["http://a.example/start"]
    assert a["eff_url"] == "http://c.example/end"
    assert a["http_code"] == 200 and a["curl_code"] == 0
    expected = dict(
        (r[0], r[3]) for r in chain_pages.select("url", "warc_ts", "html", "text").collect()
    )
    assert a["text"] == expected["http://c.example/end"]  # byte-identity through the chain
    # exactly-MAXREDIRS chain succeeds
    h = docs["http://h0.example/r"]
    assert h["eff_url"] == "http://h5.example/r"
    assert h["text"] == expected["http://h5.example/r"]
    # intermediate hops produce no docs of their own
    assert "http://b.example/mid" not in docs
    # seen holds BOTH ends, once each
    assert len(seen) == len(set(seen))
    assert {"http://a.example/start", "http://c.example/end"} <= set(seen)


def test_too_many_redirects_stub(spark, chain_pages, crawled):
    eng, docs, seen = crawled
    g = docs["http://g0.example/r"]
    assert g["curl_code"] == CURLE_TOO_MANY_REDIRECTS
    assert g["http_code"] == 0 and g["text"] is None
    assert g["eff_url"] == "http://g5.example/r"  # last URL reached, 5 follows
    lp = docs["http://loop.example/x"]
    assert lp["curl_code"] == CURLE_TOO_MANY_REDIRECTS
    assert lp["eff_url"] is None  # loop never leaves the requested URL


def test_unsupported_protocol_and_relative_location(spark, chain_pages, crawled):
    eng, docs, seen = crawled
    bad = docs["http://badproto.example/x"]
    assert bad["curl_code"] == CURLE_UNSUPPORTED_PROTOCOL
    rel = docs["http://rel.example/a/old.html"]
    assert rel["curl_code"] == 0
    assert rel["eff_url"] == "http://rel.example/new/spot.html"
    assert "relative landing" in rel["text"]


def test_redirect_target_not_refetched(spark, chain_pages, crawled):
    """linker.example links to c.example/end, the a-chain's target crawled
    in round 0 — the link must not re-enter the frontier."""
    eng, docs, seen = crawled
    assert "http://c.example/end" not in docs  # never fetched as itself
    assert len(seen) == len(set(seen))
    assert "http://c.example/end" in seen


def _persisted_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_resolver_unit(spark):
    """resolve_redirect_chains standalone: hop counts and codes. Raw
    edges are prepared for the call and released by it."""
    before = _persisted_rdds(spark)
    urls = spark.createDataFrame(
        [("http://x.example/0",), ("http://plain.example/p",)], "url string"
    )
    edges = spark.createDataFrame(
        [
            ("http://x.example/0", "http://x.example/1"),
            ("http://x.example/1", "/2"),  # relative
        ],
        "r_src string, r_dst string",
    )
    resolved = resolve_redirect_chains(urls, edges)
    out = {r["url"]: r for r in resolved.collect()}
    release(resolved)
    assert _persisted_rdds(spark) <= before
    assert out["http://x.example/0"]["eff_url"] == "http://x.example/2"
    assert out["http://x.example/0"]["hops"] == 2
    assert out["http://x.example/0"]["redirect_code"] == 0
    assert out["http://plain.example/p"]["hops"] == 0
    assert out["http://plain.example/p"]["eff_url"] == "http://plain.example/p"


def _resolve_jobs(spark, urls, edges, group):
    """Resolve under a job group; returns ({url: row}, jobs issued)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = resolve_redirect_chains(urls, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    rows = {r["url"]: r for r in out.collect()}
    release(out)
    return rows, jobs


def test_short_chains_stop_hopping_early(spark):
    """The hop loop ends once no row is in flight: a batch whose longest
    chain is one redirect runs fewer hops (so fewer jobs) than a batch
    holding an over-cap chain, and the results are unchanged. Releasing
    the results and the prepared edges frees every block they held."""
    before = _persisted_rdds(spark)
    edges = prepare_redirect_edges(
        spark.createDataFrame(
            [("http://s.example/0", "http://s.example/1")]
            + [(f"http://l.example/{i}", f"http://l.example/{i + 1}") for i in range(6)],
            "r_src string, r_dst string",
        )
    )
    short = spark.createDataFrame(
        [("http://s.example/0",), ("http://plain.example/p",)], "url string"
    )
    rows, short_jobs = _resolve_jobs(spark, short, edges, "short-chains")
    assert rows["http://s.example/0"]["eff_url"] == "http://s.example/1"
    assert rows["http://s.example/0"]["hops"] == 1
    assert rows["http://s.example/0"]["redirect_code"] == 0
    assert rows["http://plain.example/p"]["hops"] == 0
    long = short.union(spark.createDataFrame([("http://l.example/0",)], "url string"))
    rows, long_jobs = _resolve_jobs(spark, long, edges, "over-cap-chain")
    assert rows["http://s.example/0"]["hops"] == 1
    assert rows["http://l.example/0"]["redirect_code"] == CURLE_TOO_MANY_REDIRECTS
    assert rows["http://l.example/0"]["eff_url"] == "http://l.example/5"
    assert rows["http://l.example/0"]["hops"] == 5
    assert short_jobs < long_jobs
    release(edges)
    assert _persisted_rdds(spark) <= before


def test_synth_corpus_with_redirects(spark, tmp_path):
    n = 120
    pages = spark.createDataFrame(
        synth.pages_pdf(range(n), n, with_redirects=True), PAGES_SCHEMA
    ).cache()
    eng = CrawlEngine(
        spark, str(tmp_path), pages, per_host_budget=4, n_buckets=8,
        bloom_bits=1 << 16,
    )
    eng.seed(synth.seeds(n))
    for _ in range(5):
        before = _persisted_rdds(spark)
        s = eng.run_round()
        # the round released every hop and intermediate it materialized
        assert _persisted_rdds(spark) <= before
        if s.get("done"):
            break
    docs = eng.cat.read("docs")
    # byte-identity through chains: text matches the EFFECTIVE URL's page
    ok = docs.filter((F.col("curl_code") == 0) & (F.col("http_code") == 200))
    joined = ok.join(
        pages.select(
            F.col("url").alias("page_url"), F.col("text").alias("expected")
        ),
        F.coalesce(F.col("eff_url"), F.col("url")) == F.col("page_url"),
    )
    assert joined.count() > 10
    assert joined.filter(F.col("text") != F.col("expected")).count() == 0
    # some docs actually followed a chain
    assert ok.filter(F.col("eff_url").isNotNull()).count() > 0
    # seen stays a set
    seen = eng.cat.read("seen")
    assert seen.count() == seen.select("url").distinct().count()


def test_refresh_candidates_redirect_aware(spark, chain_pages, crawled):
    """S5 refresh with chains: freshness keys on the EFFECTIVE page, and
    chain targets are not proposed as never-crawled."""
    eng, docs, seen = crawled
    cands = {r.url for r in eng.refresh_candidates().collect()}
    assert "http://c.example/end" not in cands    # covered as A's target
    assert "http://h5.example/r" not in cands     # covered as h0's target
    assert "http://g6.example/r" in cands         # never reached (over-cap chain)
    assert "http://a.example/start" not in cands  # effective page unchanged
