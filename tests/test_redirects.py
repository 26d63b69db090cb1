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
  invariant through chains, and one of its rounds issues a fixed number
  of Spark jobs;
* the chain closure equals a per-hop walker over the followed edges on
  seeded edge sets (cycles, self-loops, bad edges at hops 5 and 6,
  relative Locations, chains of 0-8 hops), in a number of jobs that does
  not depend on the chain lengths;
* the engine's closure lookup gives the walker's result;
* the round's one dedup pass: a url that is both a link and a crawled
  chain target enters seen once and never the frontier; the target of a
  failed chain stays unseen; a target still queued enters seen once.
"""

import datetime
import random

import pytest
from pyspark.sql import functions as F

from mycelium_spark.operators.materialize import release
from mycelium_spark.operators.redirects import (
    CURLE_TOO_MANY_REDIRECTS,
    CURLE_UNSUPPORTED_PROTOCOL,
    MAXREDIRS,
    _follow_edges,
    chain_closure,
    redirect_edges,
    resolve_redirect_chains,
)
from mycelium_spark.plans.crawl import CrawlEngine
from mycelium_spark.sources import synth

TS = datetime.datetime(2012, 4, 7, 21, 28, 26)
REDIRECT_ROUND_JOBS = 19  # jobs of round 0 of the synth redirect corpus
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
    eng = CrawlEngine(spark, str(tmp_path), pages, per_host_budget=4)
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


def _walk(follow: dict, url: str) -> tuple:
    """(eff_url, hops, redirect_code) of ``url`` by the per-hop loop over
    the followed edges ``{r_src: r_next}`` (r_next None at a bad edge)."""
    eff, hops = url, 0
    while eff in follow:
        if hops == MAXREDIRS:
            return eff, hops, CURLE_TOO_MANY_REDIRECTS
        if follow[eff] is None:
            return eff, hops, CURLE_UNSUPPORTED_PROTOCOL
        eff, hops = follow[eff], hops + 1
    return eff, hops, 0


def _followed(edges) -> dict:
    return {r["r_src"]: r["r_next"] for r in _follow_edges(edges).collect()}


def test_resolver_unit(spark):
    """chain_closure + resolve_redirect_chains standalone: hop counts and
    codes. The closure releases its followed edges, and releasing the
    lookup frees the closure."""
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
    resolved = resolve_redirect_chains(urls, chain_closure(edges))
    out = {r["url"]: r for r in resolved.collect()}
    release(resolved)
    assert _persisted_rdds(spark) <= before
    assert out["http://x.example/0"]["eff_url"] == "http://x.example/2"
    assert out["http://x.example/0"]["hops"] == 2
    assert out["http://x.example/0"]["redirect_code"] == 0
    assert out["http://plain.example/p"]["hops"] == 0
    assert out["http://plain.example/p"]["eff_url"] == "http://plain.example/p"


def _chain(name: str, n: int, last: str | None = None) -> list[tuple[str, str]]:
    """n edges http://<name>.example/0 → /1 → ... → /n, odd hops given as
    relative Locations; ``last`` replaces the Location of the n-th edge."""
    edges = [
        (f"http://{name}.example/{i}",
         f"{i + 1}" if i % 2 else f"http://{name}.example/{i + 1}")
        for i in range(n)
    ]
    if last is not None:
        edges[-1] = (edges[-1][0], last)
    return edges


@pytest.mark.parametrize("seed", [1, 2])
def test_chain_closure_matches_walker(spark, seed):
    """Differential: chain_closure equals the per-hop walker for every url
    of a seeded random edge set plus fixed chains of 0-8 hops, a bad edge
    at hop 5 (code 1) and at hop 6 (over the cap: 47, not 1), a 3-cycle
    and a self-loop."""
    rng = random.Random(seed)
    pool = [f"http://r{i % 7}.example/p{i}" for i in range(80)]
    edges = []
    for u in pool:
        if rng.random() < 0.75:
            x = rng.random()
            dst = (
                "ftp://files.example/f" if x < 0.08
                else u if x < 0.14
                else f"p{rng.randrange(len(pool))}" if x < 0.3  # relative
                else rng.choice(pool)
            )
            edges.append((u, dst))
    for n in range(1, 9):
        edges += _chain(f"len{n}", n)
    edges += _chain("bad5", 5, "ftp://files.example/5")
    edges += _chain("bad6", 6, "ftp://files.example/6")
    edges += [
        ("http://cyc.example/a", "http://cyc.example/b"),
        ("http://cyc.example/b", "http://cyc.example/c"),
        ("http://cyc.example/c", "http://cyc.example/a"),
        ("http://self.example/x", "http://self.example/x"),
    ]
    edf = spark.createDataFrame(edges, "r_src string, r_dst string")
    starts = sorted({u for u, _ in edges} | set(pool) | {"http://len0.example/0"})
    urls = spark.createDataFrame([(u,) for u in starts], "url string")
    resolved = resolve_redirect_chains(urls, chain_closure(edf))
    try:
        got = {
            r["url"]: (r["eff_url"], r["hops"], r["redirect_code"])
            for r in resolved.collect()
        }
    finally:
        release(resolved)
    follow = _followed(edf)
    want = {u: _walk(follow, u) for u in starts}
    assert got == want
    assert {h for _, h, _ in want.values()} == set(range(MAXREDIRS + 1))
    assert {c for _, _, c in want.values()} == {
        0, CURLE_UNSUPPORTED_PROTOCOL, CURLE_TOO_MANY_REDIRECTS
    }
    assert want["http://len0.example/0"] == ("http://len0.example/0", 0, 0)
    assert want["http://len5.example/0"] == ("http://len5.example/5", 5, 0)
    assert want["http://len6.example/0"] == (
        "http://len6.example/5", 5, CURLE_TOO_MANY_REDIRECTS
    )
    assert want["http://bad5.example/0"] == (
        "http://bad5.example/4", 4, CURLE_UNSUPPORTED_PROTOCOL
    )
    assert want["http://bad6.example/0"] == (
        "http://bad6.example/5", 5, CURLE_TOO_MANY_REDIRECTS
    )
    assert want["http://cyc.example/a"] == (
        "http://cyc.example/c", 5, CURLE_TOO_MANY_REDIRECTS
    )


def _closure_jobs(spark, edges, group: str) -> int:
    """Spark jobs chain_closure runs on ``edges``; the closure is freed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        chains = chain_closure(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    release(chains)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_closure_jobs_do_not_follow_chain_length(spark):
    """Pointer jumping runs a fixed plan: an edge set of 1-hop chains and
    one holding an over-cap chain take the same number of jobs, at most 7,
    and leave no persisted RDD once released."""
    before = _persisted_rdds(spark)
    schema = "r_src string, r_dst string"
    short = spark.createDataFrame(
        [(f"http://s.example/{i}", f"http://t.example/{i}") for i in range(4)], schema
    )
    long = spark.createDataFrame(_chain("l", 8) + _chain("m", 1), schema)
    short_jobs = _closure_jobs(spark, short, "closure-short")
    long_jobs = _closure_jobs(spark, long, "closure-over-cap")
    assert short_jobs == long_jobs <= 7
    assert _persisted_rdds(spark) <= before


def test_synth_corpus_with_redirects(spark, tmp_path):
    n = 120
    pages = spark.createDataFrame(
        synth.pages_pdf(range(n), n, with_redirects=True), PAGES_SCHEMA
    ).cache()
    eng = CrawlEngine(spark, str(tmp_path), pages, per_host_budget=4)
    eng.seed(synth.seeds(n))
    sc = spark.sparkContext
    for r in range(5):
        before = _persisted_rdds(spark)
        if r == 0:
            sc.setJobGroup("redirect-round0", "one crawl round")
        try:
            s = eng.run_round()
        finally:
            if r == 0:
                sc.setLocalProperty("spark.jobGroup.id", None)
        # the round released every intermediate it materialized
        assert _persisted_rdds(spark) <= before
        if r == 0:
            # re-execution guard for the redirect path, as ROUND_JOBS in
            # test_crawl_e2e.py: re-pin only after checking that no
            # intermediate of the round is executed twice
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup("redirect-round0")) == (
                REDIRECT_ROUND_JOBS
            )
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


def test_chain_closure_matches_resolver(spark, chain_pages, crawled):
    """The engine resolves each chain once, in its closure; a lookup in it
    equals the per-hop walker for every url, redirecting or not."""
    eng, _, _ = crawled
    urls = chain_pages.select("url").union(
        spark.createDataFrame([("http://plain.example/p",)], "url string")
    )
    fields = ("eff_url", "hops", "redirect_code")
    closure = {
        r["url"]: tuple(r[f] for f in fields)
        for r in resolve_redirect_chains(urls, eng.chains).collect()
    }
    follow = _followed(redirect_edges(chain_pages))
    assert closure == {u: _walk(follow, u) for u in closure}
    assert len(closure) == chain_pages.count() + 1
    assert closure["http://a.example/start"] == ("http://c.example/end", 2, 0)
    assert closure["http://h0.example/r"] == ("http://h5.example/r", 5, 0)
    assert closure["http://g0.example/r"] == (
        "http://g5.example/r", 5, CURLE_TOO_MANY_REDIRECTS
    )
    assert closure["http://loop.example/x"][2] == CURLE_TOO_MANY_REDIRECTS
    assert closure["http://badproto.example/x"] == (
        "http://badproto.example/x", 0, CURLE_UNSUPPORTED_PROTOCOL
    )
    assert closure["http://rel.example/a/old.html"] == (
        "http://rel.example/new/spot.html", 1, 0
    )
    assert closure["http://plain.example/p"] == ("http://plain.example/p", 0, 0)
    assert closure["http://c.example/end"] == ("http://c.example/end", 0, 0)


@pytest.fixture(scope="module")
def dedup_rounds(spark, tmp_path_factory):
    """Rounds stepped one at a time at budget 1 per host, recording the
    frontier and seen urls after each round."""
    big = b"<html><body>" + b"x" * (1 << 20) + b"</body></html>"
    rows = [
        # c.example/end is a link of linker AND the target of a's chain,
        # both in round 0
        _redir("http://a.example/start", "http://c.example/end"),
        _content("http://c.example/end", "chain target", []),
        _content(
            "http://linker.example/p", "links",
            ["http://c.example/end", "http://gone.example/y"],
        ),
        # failed chains: no pages row at the target (6), target over the
        # 1 MiB cap (42)
        _redir("http://dead.example/x", "http://gone.example/y"),
        _redir("http://tobig.example/x", "http://big.example/huge"),
        ("http://big.example/huge", TS, big, None, "en", None),
        # r's chain target is queued behind q/first at budget 1
        _content("http://q.example/first", "q first", []),
        _content("http://q.example/target", "q target", []),
        _redir("http://r.example/start", "http://q.example/target"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).cache()
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("dedup")), pages, per_host_budget=1,
    )
    eng.seed(list(enumerate([
        "http://a.example/start", "http://linker.example/p",
        "http://dead.example/x", "http://tobig.example/x",
        "http://q.example/first", "http://q.example/target",
        "http://r.example/start",
    ])))
    after = []
    for _ in range(4):
        s = eng.run_round()
        after.append((
            {r["url"] for r in eng.cat.read("frontier").collect()},
            [r["url"] for r in eng.cat.read("seen").collect()],
        ))
        if s.get("done"):
            break
    docs = eng.cat.read("docs").collect()
    pages.unpersist()
    return after, docs


def test_link_and_chain_target_enters_seen_once(dedup_rounds):
    after, docs = dedup_rounds
    target = "http://c.example/end"
    assert all(target not in frontier for frontier, _ in after)
    _, seen0 = after[0]
    assert seen0.count(target) == 1
    _, seen = after[-1]
    assert seen.count(target) == 1 and len(seen) == len(set(seen))
    assert target not in {d["url"] for d in docs}


def test_failed_chain_target_stays_unseen(dedup_rounds):
    after, docs = dedup_rounds
    by_url = {d["url"]: d for d in docs}
    assert by_url["http://dead.example/x"]["curl_code"] == 6
    assert by_url["http://tobig.example/x"]["curl_code"] == 42
    _, seen0 = after[0]
    assert "http://gone.example/y" not in seen0
    assert "http://big.example/huge" not in seen0
    # the direct link to the failed target is queued and fetched as itself
    assert "http://gone.example/y" in after[0][0]
    assert by_url["http://gone.example/y"]["curl_code"] == 6
    _, seen = after[-1]
    assert seen.count("http://gone.example/y") == 1


def test_queued_chain_target_enters_seen_once(dedup_rounds):
    after, docs = dedup_rounds
    target = "http://q.example/target"
    frontier0, seen0 = after[0]
    assert target in frontier0 and target not in seen0
    _, seen = after[-1]
    assert seen.count(target) == 1
    assert [d["round"] for d in docs if d["url"] == target] == [1]
