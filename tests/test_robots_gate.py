"""The crawl's robots gate (``CrawlEngine._robots_gate``) against the parser
(``Robots.path_allowed``), url for url, in both match modes; and the gate's
plan: one Python node, the canon-path UDF, per gated frame."""

import pytest

from mycelium_spark.functions.robots import robots_state_for
from mycelium_spark.functions.url import Url
from mycelium_spark.plans.crawl import DEFAULT_UA, CrawlEngine

# (host, status, robots_txt) rows, then the urls asked of each host
ROBOTS = [
    # a group naming our UA before the '*' group: only the first decides
    ("ua.example", 200,
     f"User-agent: {DEFAULT_UA}\nDisallow: /mine\nAllow: /star\n"
     "User-agent: *\nDisallow: /star\nDisallow: /mine2\n"),
    # stacked UA lines share one group; a later '*' group never decides
    ("stack.example", 200,
     "User-agent: alpha\nUser-agent: *\nDisallow: /s\nUser-agent: *\nDisallow: /t\n"),
    # rules before any UA form a group no UA matches
    ("pre.example", 200, "Disallow: /x\nUser-agent: *\nDisallow: /y\n"),
    # a Crawl-delay value acts as a disallow rule equal to it
    ("delay.example", 200, "User-agent: *\nCrawl-delay: /slow\nDisallow: /d\n"),
    # an empty Disallow matches nothing in prefix mode
    ("empty.example", 200, "User-agent: *\nDisallow:\nDisallow: /p\n"),
    # rule and path canonicalization (%2F decodes, %7e decodes to '~')
    ("pct.example", 200,
     "User-agent: *\nDisallow: /a%2Fb\nDisallow: /%7ejoe\nAllow: /c%2fd\nDisallow: /c\n"),
    # only other UAs named: no group decides
    ("other.example", 200, "User-agent: alpha\nDisallow: /x\n"),
    ("eparse.example", 200, "<html><body>not robots</body></html>\n"),
    ("gone.example", 404, None),
]
PATHS = {
    "ua.example": ["/mine", "/mine?q=1", "/star", "/mine2", "/other"],
    "stack.example": ["/s", "/s/x", "/t", "/u"],
    "pre.example": ["/x", "/y", "/y/z"],
    "delay.example": ["/slow", "/slow/x", "/d", "/d2", "/e"],
    "empty.example": ["/", "/p", "/q"],
    "pct.example": [
        "/a%2Fb", "/a/b", "/a%2fb", "/~joe", "/%7ejoe", "/%7Ejoe/x", "/c%2Fd", "/c/d", "/c/e",
    ],
    "other.example": ["/x"],
    "eparse.example": ["/x"],
    "gone.example": ["/x"],
    "norow.example": ["/x"],
}


def _engine(spark, tmp_path, exact):
    pages = spark.createDataFrame(
        [("http://ua.example/", bytearray(b"<html></html>"), "2024-01-01T00:00:00Z", "en")],
        "url string, html binary, warc_ts string, lang string",
    )
    robots = spark.createDataFrame(ROBOTS, "host string, status int, robots_txt string")
    return CrawlEngine(
        spark, str(tmp_path / "w"), pages, robots, exact_robots=exact,
        enforce_crawl_delay=True,
    )


def _scheduled(spark):
    rows = [
        (f"http://{host}{p}", host, i)
        for i, (host, p) in enumerate((h, p) for h, ps in PATHS.items() for p in ps)
    ]
    return spark.createDataFrame(rows, "url string, host string, seq long")


@pytest.mark.parametrize("exact", [True, False])
def test_gate_matches_path_allowed(spark, tmp_path, exact):
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    eng = _engine(spark, tmp_path, exact)
    got = {r["url"]: r["allowed"] for r in eng._robots_gate(_scheduled(spark)).collect()}
    parsed = {
        host: robots_state_for(status, txt.encode() if txt else None, exact)[1]
        for host, status, txt in ROBOTS
    }
    want = {}
    for host, paths in PATHS.items():
        robots = parsed.get(host)
        for p in paths:
            url = f"http://{host}{p}"
            want[url] = robots is None or robots.path_allowed(DEFAULT_UA, Url(url).path())
    assert got == want
    # the first matching group decides; the '*' groups after it never do
    assert got["http://ua.example/star"] and got["http://stack.example/t"]
    # the cases decide both ways
    assert 0 < sum(want.values()) < len(want)


def _plan_nodes(node):
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        out.append(n)
        ch = n.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _python_udfs(df):
    """(node kind, udf names) of every Python node of ``df``'s optimized plan."""
    out = []
    for n in _plan_nodes(df._jdf.queryExecution().optimizedPlan()):
        kind = n.getClass().getSimpleName()
        if kind == "ArrowEvalPython":
            udfs = n.udfs()
            out.append((kind, [udfs.apply(i).name() for i in range(udfs.size())]))
        elif kind in ("MapInPandas", "BatchEvalPython"):
            out.append((kind, []))
    return out


def test_gate_plan_has_one_python_node(spark, tmp_path):
    """The gate runs one Python UDF, the canon path of each url; the rule
    match and the Crawl-delay budgets are native expressions over the
    rules parsed at engine init."""
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    eng = _engine(spark, tmp_path, exact=False)
    gated = eng._robots_gate(_scheduled(spark))
    assert _python_udfs(gated) == [("ArrowEvalPython", ["canon_path_series"])]
    budgets = eng._host_budgets(3)
    assert _python_udfs(budgets) == []
    assert budgets.collect() == []  # no host here declares a numeric delay


def test_budgets_follow_crawl_delay(spark, tmp_path):
    """delay <= period: floor(period/delay) fetches per round, between 1 and
    the budget; delay > period: one fetch every ceil(delay/period) rounds;
    no positive finite delay: no budget row (the host keeps the full
    budget)."""
    delays = ["0.5", "2.5", "5", "7.5", "60", "0", "-1", "x", "nan", "inf"]
    robots = spark.createDataFrame(
        [(f"h{i}.example", 200, f"User-agent: *\nCrawl-delay: {d}\n") for i, d in enumerate(delays)],
        "host string, status int, robots_txt string",
    )
    pages = spark.createDataFrame([], "url string, html binary, warc_ts string, lang string")
    eng = CrawlEngine(
        spark, str(tmp_path / "w"), pages, robots, per_host_budget=4,
        enforce_crawl_delay=True, round_period_sec=5.0,
    )
    for rnd in (0, 1, 2, 12, 13, 24):
        got = {r["host"]: r["_budget"] for r in eng._host_budgets(rnd).collect()}
        assert got == {
            "h0.example": 4, "h1.example": 2, "h2.example": 1,
            "h3.example": int(rnd % 2 == 0), "h4.example": int(rnd % 12 == 0),
        }, rnd
