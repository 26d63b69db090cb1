"""Driver-contract query registry: every SURVEY.md §2 operator family as a
(spark_query, oracle_sql) pair over the driver's parquet tables.

Determinism rules used throughout so the driver's order-insensitive
value-hash comparison is exact:
* money/double sums go through DECIMAL(18,2) (exact, order-independent)
  before converting back to DOUBLE;
* ratios/cosines are rounded to 6 dp; both engines fold arrays in the
  same order;
* content hashing is md5-derived (identical in Spark and DuckDB);
* no raw timestamps in outputs (epoch seconds instead).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import EXTRACT_TYPE, extract_frame, normalize_url_series
from ..operators import (
    anchors,
    boilerplate,
    budget,
    canonical,
    classifier,
    clusters,
    cooccur,
    decontam,
    dedup,
    delta,
    domains,
    dsir,
    hll,
    hostreport,
    index,
    linededup,
    linkgraph,
    linkspam,
    lm,
    packing,
    pii,
    quality,
    quantiles,
    recrawl,
    redirects,
    retrieval,
    sampling,
    similarity,
    soft404,
    traps,
    urlfilter,
    urlpatterns,
)
from ..functions.robots import parse_robots
from ..sources import sitemap, warc


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Constructing a fresh parquet relation costs ~80 ms of driver work
    # (file listing + footer/schema read + analysis) and the 87-query
    # suite calls _read 100+ times, so memoize the analyzed DataFrame on
    # the session object itself (lifetime-correct: a stopped session
    # takes its cache with it). Plans are immutable — reuse is free; the
    # DATA is still scanned from parquet on every action, nothing is
    # persisted (no .cache()).
    cache = getattr(spark, "_mycelium_read_cache", None)
    if cache is None:
        cache = {}
        try:
            spark._mycelium_read_cache = cache
        except Exception:
            pass
    key = (sf_dir, name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # The fixture tables are single-row-group parquet files, so the scan
    # is ONE task no matter the core count and every per-row stage above
    # it (shingling, hashing, lexing) runs serially. Fan small inputs out
    # to the session's parallelism — the exchange moves at most one scan
    # split's worth of bytes. Size-gated: a corpus big enough to split
    # naturally (≥ maxPartitionBytes) is left untouched, so no shuffle is
    # ever added at real scale (guide §2.5, input parallelism).
    import os as _os

    try:
        small = _os.path.getsize(path) < (64 << 20)  # half a default split
    except OSError:
        small = False  # non-local path (object store): keep the scan split
    if small:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    cache[key] = df
    return df


def _dsum(col):
    """Order-independent double sum via exact decimal accumulation."""
    return F.round(F.sum(F.col(col).cast("decimal(18,2)")).cast("double"), 2)


QUERIES = {}
ORACLES = {}


def register(name: str, oracle):
    """oracle: SQL string, or a zero-arg callable returning one (resolved
    lazily in resolved_oracles() — used for oracles that precompute an
    expected VALUES table), or None (rows-only check)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolved_oracles() -> dict[str, str]:
    """Resolve lazy (callable) oracles; a VALUES oracle whose input parquet
    is missing degrades that ONE entry to a rows-only check (omit it)
    instead of failing resolution for every query — but LOUDLY: the
    degraded names go to stderr and to SKIPPED_ORACLES, so a typo'd
    SPARK_GRAFT_ORACLE_SF_DIR can't silently drop oracle coverage
    (round-3 ADVICE #5)."""
    import sys

    out: dict[str, str] = {}
    SKIPPED_ORACLES.clear()
    for k, v in ORACLES.items():
        if callable(v):
            try:
                out[k] = v()
            except (FileNotFoundError, OSError) as e:
                SKIPPED_ORACLES[k] = repr(e)
                print(
                    f"WARNING: oracle for {k!r} degraded to rows-only "
                    f"({e!r}; check SPARK_GRAFT_ORACLE_SF_DIR)",
                    file=sys.stderr,
                )
                continue
        else:
            out[k] = v
    return out


# entry name → error repr for every oracle resolved_oracles() had to skip
SKIPPED_ORACLES: dict[str, str] = {}


# ====================================================================
# Frontier / crawl-engine operators mapped onto the driver tables
# (events.user_id plays the 'host' role)
# ====================================================================

@register(
    "politeness_budget",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS host_pos
    FROM events
    QUALIFY host_pos <= 5
    """,
)
def politeness_budget(spark, sf_dir):
    """Q1-Q5: per-host FIFO + per-round budget window (SURVEY §2.4)."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("host_pos", F.row_number().over(w).cast("long"))
        .filter(F.col("host_pos") <= 5)
        .select("event_id", "user_id", "host_pos")
    )


@register(
    "host_grouping",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def host_grouping(spark, sf_dir):
    """A2: group-by-host queue-length metrics."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"), _dsum("value").alias("total_value")
    )


@register(
    "seen_anti_join",
    """
    SELECT e.event_id, e.user_id FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = e.user_id AND c.c_custkey % 2 = 0)
    """,
)
def seen_anti_join(spark, sf_dir):
    """A1: URL-seen dedup as a left_anti join (exact confirm path).

    The seen side keeps only even custkeys so the anti-join result is
    substantive — with the full customer table every events.user_id was
    covered and the round-2 check green-lit on 0 = 0 rows, which proves
    nothing about the join itself (round-2 verdict, What's wrong #2)."""
    events = _read(spark, sf_dir, "events")
    customer = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    return events.join(
        customer.select(F.col("c_custkey").alias("user_id")), "user_id", "left_anti"
    ).select("event_id", "user_id")


@register(
    "overflow_order_topk",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    ORDER BY event_type DESC LIMIT 3
    """,
)
def overflow_order_topk(spark, sf_dir):
    """Q4/A6: overflow drain order — greatest key first, top-k."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("event_type"))
        .limit(3)
    )


@register(
    "round_metrics_agg",
    """
    SELECT CAST(date_part('hour', ts) AS INT) AS hour, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS bytes
    FROM events GROUP BY 1, 2
    """,
)
def round_metrics_agg(spark, sf_dir):
    """A3/P12: per-tick stats aggregation (5 s scheduler printout analog)."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy(
        F.hour("ts").cast("int").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"), _dsum("value").alias("bytes"))


# ====================================================================
# Parity kernels exercised end-to-end on constructed columns
# ====================================================================

@register(
    "url_normalize",
    """
    SELECT doc_id,
           'http://src' || CAST(doc_id % 10 AS VARCHAR) || '.example/d' ||
           CAST(doc_id % 7 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR) || '.html'
           AS url_norm
    FROM documents
    """,
)
def url_normalize(spark, sf_dir):
    """F1-F8: the normalizer UDF on messy constructed URLs; the oracle is
    the closed-form expected string (inputs are controlled)."""
    docs = _read(spark, sf_dir, "documents")
    norm_udf = F.pandas_udf(normalize_url_series, "string")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://SRC"), (F.col("doc_id") % 10).cast("string"),
            F.lit(".Example/d"), (F.col("doc_id") % 7).cast("string"),
            F.lit("/../d"), (F.col("doc_id") % 7).cast("string"),
            F.lit("/%70"), (F.col("doc_id")).cast("string"), F.lit(".html"),
        ).alias("url_raw"),
    )
    return messy.select("doc_id", norm_udf("url_raw").alias("url_norm"))


@register(
    "html_extract_text",
    """
    SELECT doc_id,
           chr(10) || 'T' || CAST(doc_id AS VARCHAR) || chr(10) || text AS text,
           'T' || CAST(doc_id AS VARCHAR) AS title
    FROM documents
    """,
)
def html_extract_text(spark, sf_dir):
    """H1-H7: the extraction kernel over constructed HTML; expected text is
    closed-form ('\\n' + title break + body)."""
    docs = _read(spark, sf_dir, "documents")
    extract_udf = F.pandas_udf(extract_frame, EXTRACT_TYPE)
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>T"), F.col("doc_id").cast("string"),
            F.lit("</title></head><body>"), F.col("text"), F.lit("</body></html>"),
        ).cast("binary").alias("html"),
        F.concat(F.lit("http://h"), (F.col("doc_id") % 10).cast("string"), F.lit(".example/")).alias("url"),
    )
    ex = html.withColumn("ex", extract_udf("html", "url"))
    return ex.select("doc_id", F.col("ex.text").alias("text"), F.col("ex.title").alias("title"))


@register(
    "robots_gate_prefix",
    """
    SELECT doc_id, '/d' || CAST(doc_id % 7 AS VARCHAR) || '/x.html' AS path,
           (doc_id % 7) NOT IN (3, 5) AS allowed
    FROM documents
    """,
)
def robots_gate_prefix(spark, sf_dir):
    """R1-R2 (documented prefix mode): gate constructed paths through a
    parsed robots.txt; the oracle knows the closed-form answer."""
    docs = _read(spark, sf_dir, "documents")
    robots_txt = b"User-agent: *\nDisallow: /d3/\nDisallow: /d5/ # comment\n"

    from pyspark.sql.types import BooleanType

    def gate(paths: pd.Series) -> pd.Series:
        r = parse_robots(robots_txt, exact_match=False)
        return pd.Series([r.path_allowed(b"*-bot", p) for p in paths])

    gate_udf = F.pandas_udf(gate, BooleanType())
    return docs.select(
        "doc_id",
        F.concat(F.lit("/d"), (F.col("doc_id") % 7).cast("string"), F.lit("/x.html")).alias("path"),
    ).withColumn("allowed", gate_udf("path"))


@register(
    "headers_parse",
    """
    SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/plain'
             WHEN 2 THEN 'application/xhtml+xml'   -- pdf classifies XHTML: utils.cc:699 quirk
             WHEN 3 THEN 'UNRECOGNIZED'            -- true xhtml prefix falls through
             WHEN 4 THEN 'UNSET'                   -- no Content-Type header
             ELSE 'text/html' END AS content_type,
           CASE doc_id % 6 WHEN 0 THEN 'utf-8' WHEN 5 THEN 'ISO-8859-1' ELSE '' END AS charset
    FROM documents
    """,
)
def headers_parse(spark, sf_dir):
    """F12/F13: the header-parse kernel over constructed HTTP responses;
    the oracle knows the closed-form classification, including the
    XHTML-fallthrough quirk (utils.cc:699) and the leading-space
    sensitivity of the prefix check (value group captures ': <v>')."""
    docs = _read(spark, sf_dir, "documents")
    from pyspark.sql.types import StringType, StructField, StructType

    from ..functions.headers import parse_http_headers

    variants = [
        "Content-Type: text/html; charset=utf-8\r\n",
        "Content-Type: text/plain\r\n",
        "Content-Type: application/pdf\r\n",
        "Content-Type:application/xhtml+xml\r\n",  # no space: find()==0 path
        "",  # no Content-Type header at all
        "Content-Type: text/html; charset=ISO-8859-1\r\n",
    ]
    ct_line = F.element_at(
        F.array(*[F.lit(v) for v in variants]), (F.col("doc_id") % 6 + 1).cast("int")
    )
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP/1.1 200 OK\r\n"),
            ct_line,
            F.lit("X-Id: "), F.col("doc_id").cast("string"),
            F.lit("\r\n\r\nX-Tail: nope"),  # unterminated final line: never parsed
        ).alias("headers"),
    )
    out_t = StructType(
        [StructField("content_type", StringType()), StructField("charset", StringType())]
    )

    def parse(hs: pd.Series) -> pd.DataFrame:
        cts, css = [], []
        for h in hs:
            ct, cs, _ = parse_http_headers(h)
            cts.append(ct)
            css.append(cs)
        return pd.DataFrame({"content_type": cts, "charset": css})

    parse_udf = F.pandas_udf(parse, out_t)
    return raw.select("doc_id", parse_udf("headers").alias("p")).select(
        "doc_id", F.col("p.content_type").alias("content_type"),
        F.col("p.charset").alias("charset"),
    )


@register(
    "merge_ref",
    """
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/b/d.html'
             WHEN 1 THEN 'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/up.html'
             WHEN 2 THEN 'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/b/c?x=1'
             ELSE 'http://other.example/z?q=' || CAST(doc_id % 3 AS VARCHAR)
           END AS merged
    FROM documents
    """,
)
def merge_ref_q(spark, sf_dir):
    """F9: RFC-3986-style reference resolution with the reference's quirks
    (ref path -> base query CLEARED, Url.cc:221-228; authority ref with no
    query -> base query RETAINED). Oracle is the closed-form merged URL."""
    docs = _read(spark, sf_dir, "documents")
    from ..functions.url import Url

    def merge(bases: pd.Series, refs: pd.Series) -> pd.Series:
        return pd.Series(
            [str(Url(b).merge_ref(Url(r))) for b, r in zip(bases, refs)]
        )

    merge_udf = F.pandas_udf(merge, "string")
    refs = F.element_at(
        F.array(
            F.lit("d.html"), F.lit("../up.html"), F.lit("?x=1"), F.lit("//other.example/z")
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    pairs = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example/a/b/c?q="), (F.col("doc_id") % 3).cast("string"),
        ).alias("base"),
        refs.alias("ref"),
    )
    return pairs.select("doc_id", merge_udf("base", "ref").alias("merged"))


# Redirect-chain resolution (crawler.cc:52,862-868): the PRODUCTION
# resolver (bounded iterative join, operators/redirects.py — the same
# function CrawlEngine.run_round calls) over deterministic edges derived
# from doc_ids: every doc_id ≡ 0 (mod 101) is a self-loop (over-cap → 47),
# every other doc_id with doc_id % 13 < 5 redirects to doc_id + 1 (chains
# of 1..5 hops, including exactly-at-cap chains; a chain landing on a
# looping node exceeds the cap). Oracle = DuckDB recursive CTE — an
# independent closure computation, not an iterative join.
_R_URL = (
    "'http://h' || CAST(doc_id % 10 AS VARCHAR) || '.example/p' || "
    "CAST(doc_id AS VARCHAR)"
)
_R_DST_ID = "CASE WHEN doc_id % 101 = 0 THEN doc_id ELSE doc_id + 1 END"
_R_DST_URL = (
    f"'http://h' || CAST(({_R_DST_ID}) % 10 AS VARCHAR) || '.example/p' || "
    f"CAST({_R_DST_ID} AS VARCHAR)"
)


@register(
    "redirect_resolve",
    redirects.resolve_redirects_sql(
        f"SELECT doc_id, {_R_URL} AS url FROM documents",
        f"SELECT {_R_URL} AS r_src, {_R_DST_URL} AS r_dst FROM documents "
        "WHERE doc_id % 101 = 0 OR doc_id % 13 < 5",
    ),
)
def redirect_resolve_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def _url(idc):
        return F.concat(
            F.lit("http://h"), (idc % 10).cast("string"),
            F.lit(".example/p"), idc.cast("string"),
        )

    urls = docs.select("doc_id", _url(F.col("doc_id")).alias("url"))
    dst_id = F.when(F.col("doc_id") % 101 == 0, F.col("doc_id")).otherwise(
        F.col("doc_id") + 1
    )
    edges = docs.filter(
        (F.col("doc_id") % 101 == 0) | (F.col("doc_id") % 13 < 5)
    ).select(_url(F.col("doc_id")).alias("r_src"), _url(dst_id).alias("r_dst"))
    out = redirects.resolve_redirect_chains(
        urls, redirects.prepare_redirect_edges(edges)
    )
    return out.select(
        "doc_id", "eff_url",
        F.col("hops").cast("int").alias("hops"),
        F.col("redirect_code").cast("int").alias("redirect_code"),
    )


# ====================================================================
# Relational coverage (Catalyst does the work; plans stay broadcast/pruned)
# ====================================================================

@register(
    "q1_lineitem_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_lineitem_agg(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 20
    """,
)
def q3_shipping_priority(spark, sf_dir):
    c = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "revenue", "o_orderpriority")
    )


@register(
    "broadcast_dim_join",
    """
    SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def broadcast_dim_join(spark, sf_dir):
    """S7 analog: point-lookup join becomes a broadcast dim join."""
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            _dsum("l_quantity").alias("total_qty"),
        )
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) AS DOUBLE), 2) AS revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """Multi-way join chain with two broadcast dims (TPC-H Q5 shape)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(dim, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
                ).cast("double"),
                2,
            ).alias("revenue")
        )
    )


@register(
    "running_host_share",
    """
    SELECT user_id, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS pos,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_bytes
    FROM events
    QUALIFY pos <= 10
    """,
)
def running_host_share(spark, sf_dir):
    """Running per-host aggregates (windowed frame; A3 rate analog)."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumn(
            "running_bytes",
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)"))
                .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                .cast("double"),
                2,
            ),
        )
        .filter(F.col("pos") <= 10)
        .select("user_id", "event_id", "pos", "running_bytes")
    )


@register(
    "sessionize_events",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (stateful-streaming analog as a batch window)."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )


# ====================================================================
# Training-data operators (dedup / similarity / text / index)
# ====================================================================

register("exact_dedup", dedup.exact_dedup_sql())(
    lambda spark, sf_dir: dedup.exact_dedup(_read(spark, sf_dir, "documents"))
)
register("minhash_dedup", dedup.minhash_dedup_sql(16, 8, 3, 0.5))(
    lambda spark, sf_dir: dedup.minhash_dedup_pairs(
        _read(spark, sf_dir, "documents"), 16, 8, 3, 0.5
    )
)
register("simhash_neardup", dedup.simhash_sql(3))(
    lambda spark, sf_dir: dedup.simhash_pairs(_read(spark, sf_dir, "documents"), 3)
)
register("ngram_jaccard_dedup", dedup.ngram_jaccard_sql(5, 0.4, max_df=50))(
    lambda spark, sf_dir: dedup.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), 5, 0.4, max_df=50
    )
)
# Asymmetric containment (the quote/aggregator case): every 13th doc
# gains a synthetic "roundup" twin (id+1000000) = its text plus an
# editorial tail, so the original is fully contained (containment 1.0)
# while Jaccard between the two stays well under the dedup thresholds;
# the corpus's planted near-dup pairs exercise the both-directions path.
_CONTAIN_TAIL = "' with extra editorial commentary appended for context here'"
_CONTAIN_SRC = (
    "SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT doc_id + 1000000, text || {_CONTAIN_TAIL} "
    "FROM documents WHERE doc_id % 13 = 0"
)


@register(
    "containment_dedup",
    dedup.containment_sql(5, 0.9, source=f"( {_CONTAIN_SRC} )", max_df=50),
)
def containment_dedup_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    agg = docs.filter("doc_id % 13 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", f"text || {_CONTAIN_TAIL} AS text"
    )
    corpus = docs.select("doc_id", "text").unionByName(agg)
    return dedup.containment_pairs(corpus, 5, 0.9, max_df=50)


register("embedding_neardup", dedup.embedding_neardup_sql(0.3))(
    lambda spark, sf_dir: dedup.embedding_neardup_pairs(
        _read(spark, sf_dir, "embeddings"), 0.3
    )
)

register("repeated_spans", dedup.repeated_spans_sql(5, 2))(
    lambda spark, sf_dir: dedup.repeated_spans(_read(spark, sf_dir, "documents"), 5, 2)
)

# ...and the APPLY step: the corpus with those spans spliced out (the
# oracle recomputes the cleaned text independently via explode + NOT
# EXISTS + ordered string_agg — a different algorithm than the engine's
# per-row array splice)
register("span_removal", dedup.remove_repeated_spans_sql(5, 2))(
    lambda spark, sf_dir: dedup.remove_repeated_spans(
        _read(spark, sf_dir, "documents"), 5, 2
    )
)

# pair→cluster→survivor resolution over the verified MinHash pairs: the
# step that turns duplicate DETECTION into an actual deduped corpus.
# Oracle = DuckDB recursive-CTE reachability over the same pairs (an
# independent closure computation, not label propagation).
register(
    "dup_clusters",
    clusters.connected_components_sql(dedup.minhash_dedup_sql(16, 8, 3, 0.5)),
)(
    lambda spark, sf_dir: clusters.connected_components(
        dedup.minhash_dedup_pairs(_read(spark, sf_dir, "documents"), 16, 8, 3, 0.5)
    )
)


# ...and the applied form: the corpus that remains after dropping every
# non-survivor (singletons pass through untouched).
@register(
    "dedup_corpus",
    f"""
    WITH cl AS ( {clusters.connected_components_sql(dedup.minhash_dedup_sql(16, 8, 3, 0.5))} )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE NOT keep)
    """,
)
def dedup_corpus_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    cl = clusters.connected_components(
        dedup.minhash_dedup_pairs(docs, 16, 8, 3, 0.5)
    )
    return clusters.dedup_corpus(docs, cl).select("doc_id")

# Benchmark-decontamination fixture split (also used standalone below):
# eval set = every 17th doc, train = the rest.
_DECONTAM_EVAL = "doc_id % 17 = 0"

# The full training-data pipeline COMPOSED end-to-end in one verified
# query — quality gate (Gopher rules) ∧ repetition gate ∧ benchmark
# decontamination (13-gram overlap vs the held-out eval split; eval docs
# themselves drop by 100% self-overlap) → exact-substring span removal
# over the surviving corpus (df counted among survivors) → exact dedup on
# the CLEANED text (min-id survivor per identical result). The oracle
# nests the same five SQL builders; the driver's value-hash compare
# therefore verifies the stage COMPOSITION, not just each stage. The
# Spark side runs the scan-shared staged plan (quality.clean_gate): all
# 13 per-row rules in one projection over one scan, n-gram stages off a
# localCheckpoint of the survivors — same keep set, ~11 fewer source
# scans.
@register(
    "clean_corpus",
    f"""
WITH keptids AS (
  SELECT g.doc_id FROM ({quality.gopher_rules_sql()}) g
  JOIN ({quality.repetition_filter_sql('documents')}) r ON g.doc_id = r.doc_id
  JOIN ({decontam.decontaminate_sql(13, 0.05,
         source='documents',
         eval_source=f'(SELECT * FROM documents WHERE {_DECONTAM_EVAL})')}) dc
    ON g.doc_id = dc.doc_id
  WHERE g.keep AND r.keep AND dc.keep
), keptdocs AS (
  SELECT d.doc_id, d.text FROM documents d JOIN keptids k ON d.doc_id = k.doc_id
), cleaned AS ({dedup.remove_repeated_spans_sql(5, 2, 'keptdocs')})
SELECT min(doc_id) AS doc_id, clean_md5
FROM (SELECT doc_id, md5(clean_text) AS clean_md5 FROM cleaned)
GROUP BY clean_md5
""",
)
def clean_corpus_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    base = quality.clean_gate(docs)  # (doc_id, text), quality ∧ repetition
    # decontamination verdict is a pure per-doc predicate vs the eval set,
    # so gating it on the (smaller) survivor set gives the same keep set
    # as the oracle's AND over the full corpus
    dk = (
        decontam.decontaminate(base, docs.filter(_DECONTAM_EVAL), 13, 0.05)
        .filter("keep")
        .select("doc_id")
    )
    # span removal references its input several times (shingle df pass +
    # rebuild join); without truncation the whole gate tower is replicated
    # per reference (~1900-operator plan, 312 scans — seconds of driver
    # planning alone). The survivor set is tiny, so checkpoint it (guide
    # §3.3/§7.3: materialise intermediates to cut planning cost).
    kept = base.join(dk, "doc_id").localCheckpoint(eager=False)
    cleaned = dedup.remove_repeated_spans(kept, 5, 2)
    hashed = cleaned.select(
        "doc_id", F.md5(F.col("clean_text").cast("binary")).alias("clean_md5")
    )
    return (
        hashed.groupBy("clean_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "clean_md5")
    )


# threshold 0.3 so the result is non-trivial on the near-uniform synthetic
# vectors (0.8 yields zero pairs at sf<=0.01; a 0-row pass proves little)
register("embedding_neardup_lsh", dedup.embedding_neardup_lsh_sql(0.3, 6, 64))(
    lambda spark, sf_dir: dedup.embedding_neardup_lsh_pairs(
        _read(spark, sf_dir, "embeddings"), 0.3, 6, 64
    )
)

_Q64 = similarity.deterministic_query(64)
register("cosine_topk", similarity.cosine_topk_sql(_Q64, 25))(
    lambda spark, sf_dir: similarity.cosine_topk(_read(spark, sf_dir, "embeddings"), _Q64, 25)
)
register("ann_topk_lsh", similarity.ann_topk_sql(_Q64, 10, 4, 1))(
    lambda spark, sf_dir: similarity.ann_topk(
        _read(spark, sf_dir, "embeddings"), _Q64, 10, 4, 1
    )
)


# Index builds are cached per (kind, sf_dir) under ONE managed temp root
# (removed atexit): an ANN index is built once and probed many times —
# timing a fresh build inside every probe call hid the serving-shaped
# latency and leaked temp dirs (round-3 verdict, wrong #2). bench.py
# times the build via build_ann_indexes() and the probe via the query.
_ANN_ROOT: str | None = None
_ANN_BUILT: dict[tuple[str, str], tuple[str, float]] = {}


def _ann_root() -> str:
    global _ANN_ROOT
    if _ANN_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _ANN_ROOT = tempfile.mkdtemp(prefix="mycelium_ann_")
        atexit.register(shutil.rmtree, _ANN_ROOT, ignore_errors=True)
    return _ANN_ROOT


def _index_path(spark: SparkSession, sf_dir: str, kind: str) -> str:
    import time

    key = (kind, sf_dir)
    if key not in _ANN_BUILT:
        path = f"{_ann_root()}/{kind}_{len(_ANN_BUILT)}/index"
        t0 = time.time()
        if kind == "lsh":
            similarity.build_ann_index(
                _read(spark, sf_dir, "embeddings"), path, n_planes=6
            )
        else:
            from ..operators import ivf

            ivf.build_ivf_index(
                _read(spark, sf_dir, "embeddings").orderBy("vec_id"), path,
                n_centroids=8, sample_rows=20_000,
            )
        _ANN_BUILT[key] = (path, round(time.time() - t0, 3))
    return _ANN_BUILT[key][0]


def ann_build_secs() -> dict[str, float]:
    """kind → build wall-sec for every index built this session."""
    return {k[0]: v[1] for k, v in _ANN_BUILT.items()}


# BM25 term-table lifecycle (round-5 verdict, wrong #2): ONE cached
# index per (sf_dir, corpus tag), built on first probe and reused —
# the _ANN_BUILT precedent — instead of the former per-call .cache()
# whose relations accumulated unbounded in a long session. Bounded by
# construction: a rebuilt key unpersists the replaced index first.
_BM25_BUILT: dict[tuple[str, str], tuple["object", float]] = {}


def _bm25_index(spark, sf_dir: str, tag: str, docs, text_col: str):
    import time

    key = (sf_dir, tag)
    if key not in _BM25_BUILT:
        t0 = time.time()
        idx = retrieval.bm25_build(docs, text_col=text_col)
        _BM25_BUILT[key] = (idx, round(time.time() - t0, 3))
    return _BM25_BUILT[key][0]


def bm25_build_secs() -> dict[str, float]:
    """corpus tag → build wall-sec for every BM25 index built this
    session (the ann_build_secs analog for the retrieval path)."""
    return {k[1]: v[1] for k, v in _BM25_BUILT.items()}


@register("ann_topk_indexed", similarity.ann_topk_sql(_Q64, 10, 6, 1))
def ann_topk_indexed_q(spark, sf_dir):
    """The at-scale ANN path: bucket-partitioned index (built once per
    session) + partition-pruned probe. Identical output to the in-plan
    LSH filter with the same hyperplanes, so the in-plan oracle SQL is
    exact for it too."""
    path = _index_path(spark, sf_dir, "lsh")
    return similarity.ann_topk_indexed(spark, path, _Q64, 10, n_planes=6, multiprobe=1)

def _ivf_topk_oracle(sf_dir: str | None = None) -> str:
    """Independent single-process recompute of the full IVF path (train →
    assign → probe → cosine top-k) in numpy over the same parquet; cosine
    folds SEQUENTIALLY (Python float = IEEE double = the JVM aggregate
    fold) and rounds HALF_UP like Spark's round()."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow.parquet as pq

    from ..operators.ivf import _det_rng

    n_centroids, sample_rows, n_iters, nprobe, k = 8, 20_000, 10, 2, 10
    tbl = pq.read_table(
        f"{sf_dir or _ORACLE_SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.asarray(tbl["vec_id"].to_pylist())
    vecs = [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    X_all = np.stack([vecs[i] for i in order])
    # train: identical numpy ops/seed as operators.ivf.train_centroids
    X = X_all[:sample_rows]
    rng = _det_rng("ivf-init")
    C = X[rng.choice(len(X), n_centroids, replace=False)].copy()
    for _ in range(n_iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for kk in range(n_centroids):
            members = X[assign == kk]
            if len(members):
                C[kk] = members.mean(axis=0)
            else:
                C[kk] = X[d2.min(axis=1).argmax()]
    # assign all rows; probe the query's nprobe nearest lists
    cn = (C * C).sum(axis=1)
    lists = (cn[None, :] - 2.0 * (X_all @ C.T)).argmin(axis=1)
    q = np.asarray(_Q64, dtype=np.float64)
    probe = set(((C - q[None, :]) ** 2).sum(axis=1).argsort()[:nprobe].tolist())
    qn = sum(x * x for x in _Q64) ** 0.5
    rows = []
    for i in range(len(ids)):
        if int(lists[i]) not in probe:
            continue
        dot = 0.0
        nrm = 0.0
        for x, y in zip(X_all[i], q):
            dot += float(x) * float(y)
        for x in X_all[i]:
            nrm += float(x) * float(x)
        cos = dot / ((nrm ** 0.5) * qn)
        cos = float(Decimal(cos).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))
        rows.append((int(ids[i]), cos))
    rows.sort(key=lambda r: (-r[1], r[0]))
    vals = ", ".join(f"({i}, CAST({c!r} AS DOUBLE))" for i, c in rows[:k])
    return (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, cosine "
        f"FROM (VALUES {vals}) AS t(vec_id, cosine)"
    )


@register("ivf_topk", _ivf_topk_oracle)
def ivf_topk_q(spark, sf_dir):
    """IVF ANN: deterministic k-means train + list-partitioned index
    (built once per session), partition-pruned nprobe probe
    (operators/ivf.py). The train sample is the vec_id-sorted prefix so
    the oracle's recompute sees the identical sample."""
    from ..operators import ivf

    path = _index_path(spark, sf_dir, "ivf")
    return ivf.ivf_topk(spark, path, _Q64, k=10, nprobe=2)


register("lang_id", quality.lang_id_sql())(
    lambda spark, sf_dir: quality.lang_id(_read(spark, sf_dir, "documents"))
)
# Gopher-rules keep/drop (Rae et al. 2021 Table A1 adaptation): min_words
# 50 splits the synthetic corpus roughly in half, so both branches of the
# filter are substantively checked (no all-keep/all-drop green)
register("quality_filter", quality.gopher_rules_sql())(
    lambda spark, sf_dir: quality.gopher_rules(_read(spark, sf_dir, "documents"))
)
# Gopher repetition half (Rae et al. Table A1): the driver's documents
# have no line structure, so line/para/n-gram repetition is synthesized
# from text slices by an engine-identical SQL fragment — dup-line docs,
# dup-para docs whose lines stay mostly distinct, hot-n-gram docs, and
# clean docs, so every rule branch is substantively exercised.
_REP_CONSTRUCT = """CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN substr(text, 1, 30) || chr(10) || substr(text, 31, 30) || chr(10) || substr(text, 61, 30)
    WHEN 1 THEN substr(text, 1, 30) || chr(10) || substr(text, 31, 30) || chr(10) || substr(text, 1, 30) || chr(10) || substr(text, 1, 30)
    WHEN 2 THEN substr(text, 1, 10) || chr(10) || chr(10) || substr(text, 11, 25) || chr(10) || substr(text, 36, 25) || chr(10) || substr(text, 61, 25) || chr(10) || substr(text, 86, 25) || chr(10) || substr(text, 111, 25) || chr(10) || substr(text, 136, 25) || chr(10) || chr(10) || substr(text, 1, 10)
    WHEN 3 THEN substr(text, 1, 30) || repeat(' foo bar', 12)
    WHEN 4 THEN 'u0 v1 w2 x3 y4 z5 u6 v7 w8 x9 yA zB ' || substr(text, 1, 180) || ' u0 v1 w2 x3 y4 z5 u6 v7 w8 x9 yA zB'
    ELSE text
  END"""


@register(
    "repetition_filter",
    quality.repetition_filter_sql(
        f"(SELECT doc_id, {_REP_CONSTRUCT} AS text FROM documents)"
    ),
)
def repetition_filter_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_REP_CONSTRUCT} AS text"
    )
    return quality.repetition_filter(docs)


# Benchmark decontamination (Brown et al. 2020 App. C; Rae et al. 2021
# §A.2): eval set = every 17th fixture doc, train = the rest; at n=13 the
# planted dup pairs straddling the split are the contaminated docs, so
# both keep branches populate (sf0.01: 454 keep / 2 drop / 14 short-doc
# zero-gram keeps).
@register(
    "decontaminate",
    decontam.decontaminate_sql(
        13,
        0.05,
        source=f"(SELECT * FROM documents WHERE NOT ({_DECONTAM_EVAL}))",
        eval_source=f"(SELECT * FROM documents WHERE {_DECONTAM_EVAL})",
    ),
)
def decontaminate_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return decontam.decontaminate(
        docs.filter(f"NOT ({_DECONTAM_EVAL})"),
        docs.filter(_DECONTAM_EVAL),
        13,
        0.05,
    )


# C4 line/document filters (Raffel et al. 2020 §2.2): the driver docs
# have no line structure or punctuation, so line shapes are synthesized
# by an engine-identical SQL fragment exercising every branch — clean
# multi-sentence docs, curly-brace docs, lorem-ipsum docs, punctuation-
# less docs, and mixed docs where short/javascript lines drop but the doc
# survives on its remaining 3 sentences.
_C4_CONSTRUCT = """CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN substr(text, 1, 40) || '.' || chr(10) || substr(text, 41, 40) || '.' || chr(10) || substr(text, 81, 40) || '.' || chr(10) || substr(text, 121, 40) || '.'
    WHEN 1 THEN substr(text, 1, 40) || ' {' || chr(10) || substr(text, 41, 40) || '.'
    WHEN 2 THEN 'Lorem Ipsum dolor sit amet consectetur. ' || substr(text, 1, 60) || '.'
    WHEN 3 THEN substr(text, 1, 40) || chr(10) || substr(text, 41, 40)
    ELSE substr(text, 1, 40) || '.' || chr(10) || 'uses JavaScript here today.' || chr(10) || substr(text, 41, 40) || '!' || chr(10) || 'a b c d?' || chr(10) || substr(text, 81, 40) || '?'
  END"""


@register(
    "c4_clean",
    quality.c4_filters_sql(f"(SELECT doc_id, {_C4_CONSTRUCT} AS text FROM documents)"),
)
def c4_clean_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_C4_CONSTRUCT} AS text"
    )
    return quality.c4_filters(docs)


# PII redaction (ROOTS-style regex scrub): fixture docs carry no PII, so
# emails / IPv4s / phone runs are planted by an engine-identical SQL
# fragment; branch 0 pins the no-op path (clean docs pass through
# byte-identical with zero counts).
_PII_CONSTRUCT = """CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN text
    WHEN 1 THEN substr(text, 1, 50) || ' contact alice.smith+x@mail-example.co.uk soon ' || substr(text, 51, 50)
    WHEN 2 THEN 'server at 10.0.255.7 and 192.168.1.254. ' || substr(text, 1, 60)
    ELSE substr(text, 1, 40) || ' call +1(555)123-4567 or 555-867-5309 now'
  END"""


@register(
    "pii_scrub",
    pii.pii_scrub_sql(f"(SELECT doc_id, {_PII_CONSTRUCT} AS text FROM documents)"),
)
def pii_scrub_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_PII_CONSTRUCT} AS text"
    )
    return pii.pii_scrub(docs)


# Token-budget sampling (data-mixing stage): 13k of sf0.01's 27.2k total
# tokens → roughly half the corpus survives, so the boundary and both
# keep/drop branches are substantive. The Spark side runs the two-phase
# distributed prefix sum (no single-reducer window); the oracle is the
# equivalent global window.
register("token_budget_sample", sampling.sample_to_token_budget_sql(13_000))(
    lambda spark, sf_dir: sampling.sample_to_token_budget(
        _read(spark, sf_dir, "documents"), 13_000
    )
)

# WARC/WET ingestion (the Common Crawl input path): docs are framed
# into uncompressed WET files (10 records each, CRLF framing,
# Content-Length = octet_length) ON THE SPARK SIDE with Python-built
# literals (SQL '\r\n' escape semantics differ between engines), then
# parsed back by the REAL mapInPandas parser; the oracle is the closed
# form of what a correct parser must recover — URI, type, byte length,
# byte-exact payload, in-file record order.
_WARC_FILES = 50


@register(
    "warc_roundtrip",
    f"""
    SELECT CAST(strlen(text) AS BIGINT) AS content_length,
           'mem://w' || CAST(doc_id % {_WARC_FILES} AS VARCHAR) AS path,
           text AS payload_text,
           CAST(row_number() OVER (PARTITION BY doc_id % {_WARC_FILES}
                                   ORDER BY doc_id) - 1 AS BIGINT) AS rec_index,
           'http://w.example/d' || CAST(doc_id AS VARCHAR) AS target_uri,
           false AS truncated,
           'conversion' AS warc_type
    FROM documents
    """,
)
def warc_roundtrip_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    rec = warc.wet_frame_expr(
        F.concat(F.lit("http://w.example/d"), F.col("doc_id").cast("string")),
        F.col("text"),
    )
    files = (
        docs.select((F.col("doc_id") % _WARC_FILES).alias("_g"), "doc_id", rec.alias("_rec"))
        .groupBy("_g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "_rec"))),
                    lambda x: x["_rec"],
                ),
                "",
            ).alias("_content")
        )
        .select(
            F.concat(F.lit("mem://w"), F.col("_g").cast("string")).alias("path"),
            F.col("_content").cast("binary").alias("content"),
        )
    )
    out = warc.records_from_files(files)
    return out.select(
        "content_length",
        "path",
        F.col("payload").cast("string").alias("payload_text"),
        "rec_index",
        "target_uri",
        "truncated",
        "warc_type",
    )


# Pipeline removal-rate funnel: the accounting table every published
# corpus paper ships (RefinedWeb Fig. 2, Gopher A1, C4 §2.2 counts) —
# five gates evaluated per-doc on the full corpus, counted
# SEQUENTIALLY (stage i's docs_in = survivors of stages 1..i-1), so
# each row reads "what stage i removed after everything before it".
# One pass: five (doc_id, keep) joins → a single map-side-combined
# global agg → a constant 5-row stack; the oracle nests the same five
# SQL builders, so the composition is what the value-hash verifies.
@register(
    "pipeline_funnel",
    f"""
WITH g AS ({{}}), rp AS ({{}}), p AS ({{}}), cf AS ({{}}), dc AS ({{}}),
v AS (
  SELECT d.doc_id, g.keep AS k1, rp.keep AS k2, p.keep AS k3,
         cf.keep AS k4, dc.keep AS k5
  FROM documents d
  JOIN g ON d.doc_id = g.doc_id
  JOIN rp ON d.doc_id = rp.doc_id
  JOIN p ON d.doc_id = p.doc_id
  JOIN cf ON d.doc_id = cf.doc_id
  JOIN dc ON d.doc_id = dc.doc_id
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS c0,
         CAST(count(*) FILTER (WHERE k1) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE k1 AND k2) AS BIGINT) AS c2,
         CAST(count(*) FILTER (WHERE k1 AND k2 AND k3) AS BIGINT) AS c3,
         CAST(count(*) FILTER (WHERE k1 AND k2 AND k3 AND k4) AS BIGINT) AS c4,
         CAST(count(*) FILTER (WHERE k1 AND k2 AND k3 AND k4 AND k5) AS BIGINT) AS c5
  FROM v
)
SELECT CAST(1 AS BIGINT) AS stage_idx, 'gopher_quality' AS stage,
       c0 AS docs_in, c1 AS docs_out, c0 - c1 AS removed FROM a
UNION ALL SELECT 2, 'repetition', c1, c2, c1 - c2 FROM a
UNION ALL SELECT 3, 'perplexity', c2, c3, c2 - c3 FROM a
UNION ALL SELECT 4, 'classifier', c3, c4, c3 - c4 FROM a
UNION ALL SELECT 5, 'decontaminate', c4, c5, c4 - c5 FROM a
""".format(
        quality.gopher_rules_sql(),
        quality.repetition_filter_sql("documents"),
        lm.unigram_nll_sql(),
        classifier.classifier_score_sql(),
        decontam.decontaminate_sql(
            13, 0.05, source="documents",
            eval_source="(SELECT * FROM documents WHERE doc_id % 17 = 0)",
        ),
    ),
)
def pipeline_funnel_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    ks = [
        quality.gopher_rules(docs),
        quality.repetition_filter(docs),
        lm.unigram_nll(docs),
        classifier.classifier_score(docs),
        decontam.decontaminate(docs, docs.filter("doc_id % 17 = 0"), 13, 0.05),
    ]
    v = docs.select("doc_id")
    for i, k in enumerate(ks, 1):
        v = v.join(k.select("doc_id", F.col("keep").alias(f"k{i}")), "doc_id")
    conds = []
    acc = None
    for i in range(1, 6):
        acc = F.col(f"k{i}") if acc is None else (acc & F.col(f"k{i}"))
        conds.append(acc)
    agg = v.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        *[
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"c{i}")
            for i, c in enumerate(conds, 1)
        ],
    )
    return agg.selectExpr(
        "stack(5, "
        "CAST(1 AS BIGINT), 'gopher_quality', c0, c1, "
        "CAST(2 AS BIGINT), 'repetition',     c1, c2, "
        "CAST(3 AS BIGINT), 'perplexity',     c2, c3, "
        "CAST(4 AS BIGINT), 'classifier',     c3, c4, "
        "CAST(5 AS BIGINT), 'decontaminate',  c4, c5"
        ") AS (stage_idx, stage, docs_in, docs_out)"
    ).selectExpr(
        "stage_idx", "stage", "docs_in", "docs_out",
        "CAST(docs_in - docs_out AS BIGINT) AS removed",
    )


# Anchor-text aggregation (Brin & Page 1998 §2.2; the BM25F anchor
# field): a link stream is synthesized by an engine-identical fragment
# — ~13 docs point at each of 37 targets with a planted hot phrase
# ("click here", exercising count ranking) plus per-doc unique slices
# (exercising the term tie-break); %13 docs self-link and %11 docs
# carry blank anchors, both dropped at the scan.
_ANCHOR_LINKS = """(
  SELECT CASE WHEN doc_id % 13 = 0
              THEN 'http://t' || CAST(doc_id % 37 AS STRING) || '.example/'
              ELSE 'http://s' || CAST(doc_id AS STRING) END AS src,
         'http://t' || CAST(doc_id % 37 AS STRING) || '.example/' AS dst,
         CASE WHEN doc_id % 11 = 0 THEN ' '
              ELSE 'Click HERE ' || substr(text, 1, 25) END AS txt
  FROM documents)"""


@register("anchor_terms", anchors.anchor_terms_sql(_ANCHOR_LINKS))
def anchor_terms_q(spark, sf_dir):
    links = _read(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN doc_id % 13 = 0 "
        "THEN 'http://t' || CAST(doc_id % 37 AS STRING) || '.example/' "
        "ELSE 'http://s' || CAST(doc_id AS STRING) END AS src",
        "'http://t' || CAST(doc_id % 37 AS STRING) || '.example/' AS dst",
        "CASE WHEN doc_id % 11 = 0 THEN ' ' "
        "ELSE 'Click HERE ' || substr(text, 1, 25) END AS txt",
    )
    return anchors.anchor_terms(links)


# Crawl-snapshot delta: two snapshots are carved from documents by
# engine-identical predicates — %10==0 docs exist only in the new
# snapshot (added), %10==9 only in the old (gone), %7==0 get their text
# rewritten between snapshots (changed), the rest are unchanged — so
# all four status branches populate at every fixture SF.
_DELTA_URL = "'http://h' || CAST(doc_id % 97 AS STRING) || '.example/p' || CAST(doc_id AS STRING)"
_DELTA_OLD = f"(SELECT {_DELTA_URL} AS url, text FROM documents WHERE doc_id % 10 <> 0)"
_DELTA_NEW = (
    f"(SELECT {_DELTA_URL} AS url, "
    "CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text "
    "FROM documents WHERE doc_id % 10 <> 9)"
)


# Incremental index maintenance over the same two snapshots: the
# entry output is the stats view of the INCREMENTALLY maintained
# (doc_id, term, tf) table, and the oracle is a FULL REBUILD over the
# new snapshot — equality IS the maintenance-correctness claim.
_IDX_OLD = "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)"
_IDX_NEW = (
    "(SELECT doc_id, "
    "CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text "
    "FROM documents WHERE doc_id % 10 <> 9)"
)


@register("incremental_index", index.postings_stats_sql(_IDX_NEW))
def incremental_index_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 10 != 0").select("doc_id", "text")
    new = docs.filter("doc_id % 10 != 9").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text",
    )
    old_terms = index.doc_terms(old)
    maintained = index.incremental_doc_terms(old_terms, old, new)
    return index.stats_from_terms(maintained)


@register("crawl_delta", delta.snapshot_delta_sql(_DELTA_OLD, _DELTA_NEW))
def crawl_delta_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 10 != 0").selectExpr(f"{_DELTA_URL} AS url", "text")
    new = docs.filter("doc_id % 10 != 9").selectExpr(
        f"{_DELTA_URL} AS url",
        "CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text",
    )
    return delta.snapshot_delta(old, new)


# CCNet line-level dedup (Wenzek et al. 2020 §3.1): fixture docs carry
# no shared lines, so boilerplate is synthesized by an engine-identical
# fragment — a global cookie-banner line (one corpus-wide survivor), a
# group-shared newsletter line (one survivor per 4-doc stride), a blank
# structural line (bypasses dedup), case/indent variants of the banner
# (normalization collides them), and the doc's own unique slices. The
# fixture's planted dup pairs additionally lose every NON-BLANK line in
# the second doc (it survives on the structural blank alone, clean_text
# collapsing to the empty paragraph — the doc-drops-out branch itself
# is pinned in test_linededup, where no blank line shields the doc).
_LINE_CONSTRUCT = """'Accept cookies to continue'
 || chr(10) || substr(text, 1, 40)
 || chr(10) || CASE WHEN doc_id % 4 = 0 THEN 'Subscribe to our newsletter'
               ELSE substr(text, 41, 40) END
 || chr(10) || chr(10)
 || CASE WHEN doc_id % 3 = 0 THEN '  ACCEPT COOKIES TO CONTINUE '
         ELSE substr(text, 81, 40) END
 || chr(10) || substr(text, 121, 40)"""


@register(
    "line_dedup",
    linededup.dedup_lines_sql(
        f"(SELECT doc_id, {_LINE_CONSTRUCT} AS text FROM documents)"
    ),
)
def line_dedup_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_LINE_CONSTRUCT} AS text"
    )
    return linededup.dedup_lines(docs)


# DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
# buckets, target slice vs raw corpus Laplace distributions, per-doc
# decimal log-ratio sums, deterministic hash-Gumbel top-k selection.
register("dsir_sample", dsir.dsir_sample_sql())(
    lambda spark, sf_dir: dsir.dsir_sample(_read(spark, sf_dir, "documents"))
)


# HTTP envelope split (WARC `response` records): payloads are built
# with a real HTTP/1.1 envelope (status varying by doc, one in 13 with
# no envelope at all — the WET passthrough branch), split by the pure
# JVM byte-position expr (latin-1 decode → instr → binary substring);
# the oracle states the closed form, CRLFs via chr() (string-escape
# semantics differ between engines).
@register(
    "http_envelope_split",
    """
    SELECT CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE 'HTTP/1.1 ' || CAST(200 + (doc_id % 3) * 100 AS VARCHAR)
                     || ' S' || chr(13) || chr(10) || 'Content-Type: text/html'
                     || chr(13) || chr(10) || 'X-Doc: ' || CAST(doc_id AS VARCHAR)
           END AS http_headers,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE CAST(200 + (doc_id % 3) * 100 AS INTEGER)
           END AS http_status,
           doc_id,
           text AS body_text
    FROM documents
    """,
)
def http_envelope_split_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    st = (F.lit(200) + (F.col("doc_id") % 3) * 100).cast("string")
    env = F.concat(
        F.lit("HTTP/1.1 "), st,
        F.lit(" S\r\nContent-Type: text/html\r\nX-Doc: "),
        F.col("doc_id").cast("string"),
        F.lit("\r\n\r\n"),
    )
    payload = F.when(F.col("doc_id") % 13 == 0, F.col("text")).otherwise(
        F.concat(env, F.col("text"))
    ).cast("binary")
    r = warc.http_response_expr(payload)
    return docs.select(
        r["http_headers"].alias("http_headers"),
        r["http_status"].alias("http_status"),
        "doc_id",
        r["body"].cast("string").alias("body_text"),
    )


# CDX index selection (the Common Crawl pre-fetch path): CDXJ lines are
# BUILT on the Spark side from documents — urlkey via the REAL
# surt_key_expr over adversarial URL spellings (www. prefix, :80 port,
# unsorted query), metadata as a concat'd JSON block — then parsed back
# by the real from_json framing and run through select_members (status/
# mime gate + earliest-capture-per-digest dedup; the fixture's planted
# dup pairs share text → same md5 digest → the dedup branch is live).
# The oracle is the closed form: SURT of these URLs is statically known,
# and the dedup is a window the SQL twin states directly.
@register(
    "cdx_select",
    """
    WITH caps AS (
      SELECT doc_id,
             'org,example,h' || CAST(doc_id % 97 AS VARCHAR) || ')/p'
               || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS urlkey,
             CAST(20260101000000 + doc_id % 3 AS VARCHAR) AS ts,
             'http://www.h' || CAST(doc_id % 97 AS VARCHAR)
               || '.example.org:80/p' || CAST(doc_id AS VARCHAR)
               || '?b=2&a=1' AS url,
             md5(text) AS digest,
             'seg-' || CAST(doc_id % 5 AS VARCHAR) || '.warc.gz' AS filename,
             CAST(doc_id * 1000 AS BIGINT) AS byte_offset,
             CAST(strlen(text) AS BIGINT) AS byte_length
      FROM documents
      WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY digest
                                   ORDER BY ts, urlkey) AS rn
      FROM caps
    )
    SELECT urlkey, url, filename, byte_offset, byte_length, digest
    FROM ranked WHERE rn = 1
    """,
)
def cdx_select_q(spark, sf_dir):
    from ..sources import cdx

    docs = _read(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    hn = F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
    url = F.concat(
        F.lit("http://www."), hn, F.lit(".example.org:80/p"), i, F.lit("?b=2&a=1")
    )
    status = F.when(F.col("doc_id") % 7 == 0, F.lit("404")).otherwise(F.lit("200"))
    mime = F.when(F.col("doc_id") % 11 == 0, F.lit("image/png")).otherwise(
        F.lit("text/html")
    )
    line = F.concat(
        cdx.surt_key_expr(url),
        F.lit(" "),
        (F.lit(20260101000000).cast("long") + F.col("doc_id") % 3).cast("string"),
        F.lit(' {"url": "'), url,
        F.lit('", "mime": "'), mime,
        F.lit('", "status": "'), status,
        F.lit('", "digest": "'), F.md5(F.col("text").cast("binary")),
        F.lit('", "length": "'), F.octet_length("text").cast("string"),
        F.lit('", "offset": "'), (F.col("doc_id") * 1000).cast("string"),
        F.lit('", "filename": "seg-'), (F.col("doc_id") % 5).cast("string"),
        F.lit('.warc.gz"}'),
    )
    lines = docs.select(line.alias("value"))
    return cdx.select_members(cdx.parse_cdxj(lines)).select(
        "urlkey",
        "url",
        "filename",
        F.col("offset").alias("byte_offset"),
        F.col("length").alias("byte_length"),
        "digest",
    )


# PageRank host scoring (crawl prioritization off the S10 link stream):
# the fixture tables carry no link graph, so a deterministic 97-host one
# is synthesized by an engine-identical edge fragment — every host gets
# out-edges (no danglings; the leak path is pinned in test_linkgraph),
# ~3 distinct targets per host, a few self-loops.
_PR_EDGES = (
    "SELECT DISTINCT doc_id % 97 AS src, "
    "((doc_id % 97) * 31 + (doc_id % 3) * 7 + 1) % 97 AS dst FROM documents"
)


@register("pagerank_hosts", linkgraph.pagerank_sql(_PR_EDGES))
def pagerank_hosts_q(spark, sf_dir):
    edges = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id % 97 AS src",
        "((doc_id % 97) * 31 + (doc_id % 3) * 7 + 1) % 97 AS dst",
    )
    return linkgraph.pagerank(edges)


# TrustRank over the same synthetic host graph: seeds are the
# quadratic residues mod 97 that are < 20 (a curated-looking sparse
# set); trust concentrates around seed out-neighborhoods and the
# teleport-starved tail decays toward zero.
_TR_SEEDS = "SELECT DISTINCT ((doc_id % 97) * (doc_id % 97)) % 97 AS node FROM documents WHERE ((doc_id % 97) * (doc_id % 97)) % 97 < 20"


# Registered-domain (eTLD+1) extraction: constructed hosts exercise
# every PSL rule kind — plain TLD, multi-label suffix (co.uk), private
# suffixes (github.io/blogspot.com), the *.ck wildcard, the !www.ck
# exception, the unlisted-TLD default, hosts that ARE a public suffix
# (NULL registered domain), and case folding.
def _rd_host(str_t: str) -> str:
    return f"""CASE CAST(doc_id % 9 AS INT)
  WHEN 0 THEN 'www.site' || CAST(doc_id AS {str_t}) || '.com'
  WHEN 1 THEN 'a.b.site' || CAST(doc_id AS {str_t}) || '.co.uk'
  WHEN 2 THEN 'u' || CAST(doc_id AS {str_t}) || '.github.io'
  WHEN 3 THEN 'www.ck'
  WHEN 4 THEN 'pages.t' || CAST(doc_id AS {str_t}) || '.ck'
  WHEN 5 THEN 'site' || CAST(doc_id AS {str_t}) || '.nosuchtld'
  WHEN 6 THEN 'co.uk'
  WHEN 7 THEN 'blog' || CAST(doc_id AS {str_t}) || '.BlogSpot.COM'
  ELSE 'S3.amazonaws.com'
END"""


@register(
    "registered_domains",
    domains.registered_domain_sql(
        f"SELECT {_rd_host('VARCHAR')} AS host FROM documents"
    ),
)
def registered_domains_q(spark, sf_dir):
    hosts = _read(spark, sf_dir, "documents").selectExpr(
        _rd_host("STRING") + " AS host"
    )
    return domains.registered_domain(hosts)


# Composed search pipeline: constructed pages → lexer block extraction
# → jusText classification → main-content reassembly → BM25 over the
# CLEANED text (the boilerplate-aware index build). Block classes are
# engineered: title short→bad (bad nav neighbor), nav bad (links),
# stopword-rich intro neargood→good (good body neighbor), body good
# (12× stopword-dense sentence + the doc's own text keeps density
# ≥0.32 at every fixture length), footer short→good — so main_text has
# the closed form intro\nbody\nfooter and the oracle feeds it to the
# BM25 twin directly.
_SP_INTRO = "the pipeline of spark is scalable and it runs with grace on the web today"
_SP_SENT = "the data of spark is fast and it scales to the web "


@register(
    "search_pipeline",
    f"""
WITH main_docs AS MATERIALIZED (
  SELECT doc_id,
         '{_SP_INTRO}' || chr(10) ||
         rtrim(repeat('{_SP_SENT}', 12)) || ' ' || text || chr(10) ||
         'copyright 2026 example corp' AS text
  FROM documents
)
SELECT * FROM ( {{bm25}} )
""".format(bm25=retrieval.bm25_topk_sql("VALUES (1, 'hash'), (1, 'join'), (2, 'window'), (2, 'sort'), (2, 'fast'), (3, 'spark'), (3, 'stream')", k=10, source="main_docs")),
)
def search_pipeline_q(spark, sf_dir):
    pages = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>T"), F.col("doc_id").cast("string"),
            F.lit("</title></head><body>"),
            F.lit('<div><a href="/a">home</a> <a href="/b">about</a></div>'),
            F.lit(f"<p>{_SP_INTRO}</p>"),
            F.lit("<p>" + _SP_SENT * 12), F.col("text"), F.lit("</p>"),
            F.lit("<p>copyright 2026 example corp</p></body></html>"),
        ).cast("binary").alias("html"),
    )
    # the BM25 side references the corpus three times (term table, N,
    # Σdl) and without truncation each reference re-runs the boilerplate
    # mapInPandas pass; checkpointing the extracted main text runs that
    # Python stage ONCE (round-5 verdict item #3 — the discovery-pipeline
    # lesson applied to the search pipeline; adopted on a measured win)
    main = boilerplate.main_content(boilerplate.extract_blocks(pages)).localCheckpoint(
        eager=False
    )
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, term string"
    )
    return retrieval.bm25_topk(
        main, queries, k=10, text_col="main_text",
        index=_bm25_index(spark, sf_dir, "search", main, "main_text"),
    )


# Tracking-param stripping → URL dedup keys: constructed URLs exercise
# utm/click-id removal, param-order collapsing (b=2&a=1 and a=1&b=2 meet
# on one key), fragment drop, empty-param drop, and untouched clean
# URLs. Oracle = the same expression in the DuckDB dialect.
def _ddk_url(str_t: str) -> str:
    return (
        f"'http://h' || CAST(doc_id % 50 AS {str_t}) || '.example/p' || "
        f"CAST(doc_id % 100 AS {str_t}) || "
        "CASE CAST(doc_id % 6 AS INT) "
        f"WHEN 0 THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id AS {str_t}) || '&x=1' "
        "WHEN 1 THEN '?x=1' "
        "WHEN 2 THEN '?b=2&a=1#sec' "
        "WHEN 3 THEN '?a=1&b=2' "
        f"WHEN 4 THEN '?fbclid=f' || CAST(doc_id AS {str_t}) || '&' "
        "ELSE '' END"
    )


@register(
    "url_dedup_keys",
    f"""
SELECT doc_id, url, {canonical.dedup_key_expr('url', 'duckdb')} AS dedup_key
FROM (SELECT doc_id, {_ddk_url('VARCHAR')} AS url FROM documents)
""",
)
def url_dedup_keys_q(spark, sf_dir):
    pages = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", _ddk_url("STRING") + " AS url"
    )
    return canonical.url_dedup_key(pages)


# Domain balancing over the same constructed hosts: the constant-host
# branches (www.ck, co.uk, s3.amazonaws.com) pool ~1/9 of the corpus
# each and overflow the cap (drops), the per-doc-unique hosts keep at
# rank 1, and the wildcard/exception grouping is exercised end-to-end.
@register(
    "domain_cap_sample",
    domains.cap_per_domain_sql(
        f"SELECT doc_id, {_rd_host('VARCHAR')} AS host FROM documents",
        cap=40,
    ),
)
def domain_cap_sample_q(spark, sf_dir):
    d = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", _rd_host("STRING") + " AS host"
    )
    return domains.cap_per_domain(d, cap=40)


# HTML block segmentation (the lexer-backed jusText front end):
# constructed pages — title, linked nav div, body paragraph carrying the
# doc's own text, footer — have closed-form expected blocks, the
# html_extract_text oracle pattern. link_chars 9 = len('home')+len('about').
@register(
    "html_block_extract",
    """
    SELECT doc_id, 0 AS block_id, 'T' || CAST(doc_id AS VARCHAR) AS text,
           0 AS link_chars FROM documents
    UNION ALL
    SELECT doc_id, 1, 'home about', 9 FROM documents
    UNION ALL
    SELECT doc_id, 2, text, 0 FROM documents
    UNION ALL
    SELECT doc_id, 3, 'copyright 2026 example corp', 0 FROM documents
    """,
)
def html_block_extract_q(spark, sf_dir):
    pages = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<html><head><title>T'), F.col("doc_id").cast("string"),
            F.lit('</title></head><body>'),
            F.lit('<div><a href="/a">home</a> <a href="/b">about</a></div>'),
            F.lit("<p>"), F.col("text"), F.lit("</p>"),
            F.lit("<p>copyright 2026 example corp</p></body></html>"),
        ).cast("binary").alias("html"),
    )
    return boilerplate.extract_blocks(pages).select(
        "block_id", "doc_id", "link_chars", "text"
    )


# jusText boilerplate classification: the fixture docs carry no HTML
# blocks, so a 5-block page is synthesized per doc by an
# engine-identical constructor — nav menu (link_density 1 → bad),
# stopword-rich intro (neargood), main body (good, or a low-stopword
# repeat for doc%3=0 → bad — flips the context for the later blocks),
# copyright footer (short; linked for doc%5=0 → bad; empty for
# doc%7=0 → bad), and a raw-vocabulary tail whose class varies with
# the doc's own words. Both promotion paths (short/neargood → good
# next to a good body, → bad in the doc%3=0 pages) populate.
_BP_TEXT = """CASE CAST(block_id AS INT)
  WHEN 0 THEN 'home products pricing docs blog company careers contact login'
  WHEN 1 THEN 'the pipeline of spark is scalable and it runs with grace on the web today'
  WHEN 2 THEN CASE WHEN doc_id % 3 = 0
      THEN substr(text,1,60) || ' ' || substr(text,1,60) || ' ' || substr(text,1,60) || ' ' || substr(text,1,60)
      ELSE repeat('the data of spark is fast and it scales to the web ', 5) END
  WHEN 3 THEN CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'copyright 2026 example corp' END
  ELSE substr(text, 1, 80)
END"""
_BP_LINKS = (
    "CASE WHEN block_id = 0 THEN length(text) "
    "WHEN block_id = 3 AND doc_id % 5 = 0 THEN 10 ELSE 0 END"
)
_BP_BLOCKS_SQL = f"""
SELECT doc_id, block_id, text, {_BP_LINKS} AS link_chars
FROM ( SELECT doc_id, block_id, {_BP_TEXT} AS text
       FROM documents
       CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS block_id) )
"""


def _bp_blocks(spark, sf_dir):
    return (
        _read(spark, sf_dir, "documents")
        .withColumn("block_id", F.explode(F.sequence(F.lit(0), F.lit(4))))
        .selectExpr("doc_id", "block_id", _BP_TEXT + " AS text")
        .selectExpr("doc_id", "block_id", "text", _BP_LINKS + " AS link_chars")
    )


@register("boilerplate_blocks", boilerplate.classify_blocks_sql(_BP_BLOCKS_SQL))
def boilerplate_blocks_q(spark, sf_dir):
    return boilerplate.classify_blocks(_bp_blocks(spark, sf_dir))


# The corpus-facing composition: good blocks reassembled in block order
# (docs whose blocks are all boilerplate drop out). The oracle nests the
# classification twin and recomposes with an ordered string_agg.
@register(
    "boilerplate_main",
    f"""
WITH blocks AS MATERIALIZED ( {_BP_BLOCKS_SQL} ),
cls AS ( {boilerplate.classify_blocks_sql('SELECT * FROM blocks')} )
SELECT b.doc_id,
       string_agg(b.text, chr(10) ORDER BY b.block_id) AS main_text
FROM blocks b JOIN cls c ON b.doc_id = c.doc_id AND b.block_id = c.block_id
WHERE c.keep
GROUP BY b.doc_id
""",
)
def boilerplate_main_q(spark, sf_dir):
    return boilerplate.main_content(_bp_blocks(spark, sf_dir))


# HITS over the same synthetic host graph: hubs (hosts whose out-links
# hit high-authority pages) vs authorities (hosts the good hubs point
# at) — the two-score decomposition pagerank conflates. Same
# engine-identical edge fragment, L1-normalized integer fixed point.
@register("hits_hosts", linkgraph.hits_sql(_PR_EDGES))
def hits_hosts_q(spark, sf_dir):
    edges = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id % 97 AS src",
        "((doc_id % 97) * 31 + (doc_id % 3) * 7 + 1) % 97 AS dst",
    )
    return linkgraph.hits(edges)


@register("trustrank_hosts", linkgraph.trustrank_sql(_PR_EDGES, _TR_SEEDS))
def trustrank_hosts_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    edges = docs.selectExpr(
        "doc_id % 97 AS src",
        "((doc_id % 97) * 31 + (doc_id % 3) * 7 + 1) % 97 AS dst",
    )
    seeds = docs.selectExpr("((doc_id % 97) * (doc_id % 97)) % 97 AS node").filter(
        "node < 20"
    )
    return linkgraph.trustrank(edges, seeds)


# fastText-style classifier gate (Joulin et al. 2016; the DCLM/LLaMA
# quality-filter stage): hashing-trick featurizer + broadcast weight
# table + exact-integer logit gate. Weights are the documented
# deterministic stand-in (no model artifacts ship here); a trained
# export is a drop-in (bucket, weight_milli) table.
@register("classifier_filter", classifier.classifier_score_sql())
def classifier_filter_q(spark, sf_dir):
    return classifier.classifier_score(_read(spark, sf_dir, "documents"))


# URL filtering (RefinedWeb §G.1): constructed URLs exercise all four
# branches — exact-domain block (src3), subdomain block (ads.src3,
# cdn.media.src4 via media.src4, tracker), keyword drop (/casino wt 3,
# /poker-pills wt 4), and clean keeps. Engine-identical constructor.
_URLF_HOST = (
    "CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 'src0.example' "
    "WHEN 1 THEN 'ads.src3.example' WHEN 2 THEN 'src2.example' "
    "WHEN 3 THEN 'src3.example' WHEN 4 THEN 'cdn.media.src4.example' "
    "WHEN 5 THEN 'src5.example' ELSE 'tracker.example' END"
)
_URLF_BLOCK = ("src3.example", "media.src4.example", "tracker.example")


def _urlf_url(str_t: str) -> str:
    return (
        f"'http://' || {_URLF_HOST} || '/p' || CAST(doc_id AS {str_t}) || "
        "CASE WHEN doc_id % 11 = 0 THEN '/casino' "
        "WHEN doc_id % 13 = 0 THEN '/poker-pills' ELSE '' END || '.html'"
    )


@register(
    "url_filter",
    urlfilter.url_filter_sql(
        f"SELECT doc_id, {_urlf_url('VARCHAR')} AS url FROM documents",
        "SELECT * FROM (VALUES "
        + ", ".join(f"('{d}')" for d in _URLF_BLOCK)
        + ") AS t(domain)",
    ),
)
def url_filter_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    urls = docs.selectExpr("doc_id", f"{_urlf_url('STRING')} AS url")
    block = spark.createDataFrame([(d,) for d in _URLF_BLOCK], "domain string")
    return urlfilter.url_filter(urls, block)


# CCNet-style perplexity filter: unigram LM trained on the doc_id%5==0
# slice scores every doc (Laplace-smoothed, OOV branch real for the 4/5
# held-out docs); keep gate at the ~80th-pct threshold so both branches
# populate. Full recipe + determinism discipline in operators/lm.py.
@register("perplexity_filter", lm.unigram_nll_sql())
def perplexity_filter_q(spark, sf_dir):
    return lm.unigram_nll(_read(spark, sf_dir, "documents"))


# Sequence packing (concat-and-chunk into 256-token training windows):
# sf0.01's docs average ~54 tokens, so most chunks hold several whole
# docs and every ~5th doc straddles a boundary — both the single-piece
# and the split-doc branches are substantive.
register("sequence_pack", packing.pack_sequences_sql(256))(
    lambda spark, sf_dir: packing.pack_sequences(
        _read(spark, sf_dir, "documents"), 256
    )
)

register("quality_score", quality.quality_features_sql())(
    lambda spark, sf_dir: quality.quality_features(_read(spark, sf_dir, "documents"))
)
register("token_count", quality.token_counts_sql())(
    lambda spark, sf_dir: quality.token_counts(_read(spark, sf_dir, "documents"))
)
register("doc_fingerprint", quality.fingerprints_sql())(
    lambda spark, sf_dir: quality.fingerprints(_read(spark, sf_dir, "documents"))
)

register("inverted_index", index.postings_stats_sql())(
    lambda spark, sf_dir: index.postings_stats(_read(spark, sf_dir, "documents"))
)


# Precomputed-VALUES oracles: the stemmer and the media feature kernel are
# not SQL-expressible (Porter2 control flow; md5 over NUL-containing
# byte strings — DuckDB md5 is VARCHAR-only), so the oracle is an
# INDEPENDENT single-process recomputation over the same parquet, embedded
# as a VALUES table. The driver runs its correctness pass at sf0.01; the
# input dir is overridable (env) rather than hardcoded, and a missing dir
# degrades ONLY the VALUES-backed entries to rows-only checks instead of
# failing all oracle resolution (round-2 verdict #7 / ADVICE).
_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _stemmed_postings_oracle(sf_dir: str | None = None) -> str:
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from ..functions.stemmer import porter2_stem

    tbl = pq.read_table(
        f"{sf_dir or _ORACLE_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    word_re = re.compile(r"\w+", re.ASCII)  # JVM/RE2 \w == ASCII word chars
    per_term: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    stem_cache: dict[str, str] = {}
    for did, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        for t in text.split(" "):
            if word_re.fullmatch(t):
                s = stem_cache.get(t)
                if s is None:
                    s = porter2_stem(t)
                    stem_cache[t] = s
                per_term[s][did] += 1
    rows = sorted(
        (term, len(docs), sum(docs.values())) for term, docs in per_term.items()
    )
    vals = ", ".join(f"('{t}', {df}, {tt})" for t, df, tt in rows)  # terms are \w+ → quote-safe
    return (
        "SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf "
        f"FROM (VALUES {vals}) AS t(term, df, total_tf)"
    )


def _multimodal_features_oracle(sf_dir: str | None = None) -> str:
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow.parquet as pq

    from ..operators.multimodal import _fake_features

    tbl = pq.read_table(
        f"{sf_dir or _ORACLE_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    rows = []
    for did, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        v = _fake_features(text.encode("utf-8"), 8)
        norm32 = float(np.float32(np.linalg.norm(v)))  # kernel stores FloatType
        # Spark round() is BigDecimal HALF_UP on the exact double
        d = float(Decimal(norm32).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))
        rows.append((did, d))
    vals = ", ".join(f"({did}, CAST({d!r} AS DOUBLE))" for did, d in rows)
    return (
        "SELECT CAST(blob_id AS BIGINT) AS blob_id, feat_norm "
        f"FROM (VALUES {vals}) AS t(blob_id, feat_norm)"
    )


# Compression-ratio filter: the zlib kernel is not SQL-expressible, so
# the oracle recomputes it single-process (same CPython zlib) over the
# same parquet. The construct plants both drop branches: a 600-byte
# repeated prefix (ratio collapses — template spam) and a 5-char
# truncation (zlib overhead dominates — ratio above 1).
_CR_CASE = (
    "CASE WHEN doc_id % 7 = 0 THEN repeat('na ', 200) || text "
    "WHEN doc_id % 7 = 1 THEN substr(text, 1, 5) ELSE text END"
)


def _cr_text_py(did: int, text: str) -> str:
    if did % 7 == 0:
        return "na " * 200 + text
    if did % 7 == 1:
        return text[:5]
    return text


def _compression_filter_oracle(sf_dir: str | None = None) -> str:
    import pyarrow.parquet as pq

    from ..operators.compress import (
        EMPTY_SENTINEL,
        MAX_RATIO_MILLI_DEFAULT,
        MIN_RATIO_MILLI_DEFAULT,
        zlib_len_kernel,
    )

    tbl = pq.read_table(
        f"{sf_dir or _ORACLE_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    rows = []
    for did, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        t = _cr_text_py(did, text)
        raw = len(t.encode("utf-8"))
        comp = zlib_len_kernel([t])[0]
        ratio = EMPTY_SENTINEL if raw == 0 else (comp * 1000) // raw
        keep = MIN_RATIO_MILLI_DEFAULT <= ratio <= MAX_RATIO_MILLI_DEFAULT
        rows.append((comp, did, "TRUE" if keep else "FALSE", ratio, raw))
    vals = ", ".join(f"({c}, {d}, {k}, {r}, {w})" for c, d, k, r, w in rows)
    return (
        "SELECT CAST(comp_len AS BIGINT) AS comp_len, "
        "CAST(doc_id AS BIGINT) AS doc_id, keep, "
        "CAST(ratio_milli AS BIGINT) AS ratio_milli, "
        "CAST(raw_len AS BIGINT) AS raw_len "
        f"FROM (VALUES {vals}) AS t(comp_len, doc_id, keep, ratio_milli, raw_len)"
    )


@register("compression_filter", _compression_filter_oracle)
def compression_filter_q(spark, sf_dir):
    from ..operators import compress

    docs = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_CR_CASE} AS text"
    )
    return compress.compression_filter(docs)


@register("stemmed_postings", _stemmed_postings_oracle)
def stemmed_postings_q(spark, sf_dir):
    return index.stemmed_postings(_read(spark, sf_dir, "documents")).select(
        "term", "df", "total_tf"
    )


@register("multimodal_features", _multimodal_features_oracle)
def multimodal_features_q(spark, sf_dir):
    """Binary-column feature extraction: documents' utf-8 bytes as blobs."""
    from ..operators.multimodal import extract_features

    blobs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("blob_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("blob"),
    )
    return extract_features(blobs, dim=8).select(
        "blob_id", F.round(F.col("feat_norm").cast("double"), 4).alias("feat_norm")
    )
# Phrase matching (the positional-index query): the engine runs the
# per-row adjacent-token scan; the oracle counts by an INDEPENDENT
# method — splitting on the padded phrase substring — so agreement
# cross-validates the algorithm, not just the dialect ('hash join'
# cannot self-overlap, where the two methods provably coincide).
register("phrase_match", retrieval.phrase_match_sql("hash join"))(
    lambda spark, sf_dir: retrieval.phrase_match(
        _read(spark, sf_dir, "documents"), "hash join"
    )
)


# KWIC snippets for the phrase hits (the result-page surface): first
# occurrence ± 4 tokens of context, per-row array ops in both engines.
register("phrase_snippets", retrieval.phrase_snippets_sql("hash join", 4))(
    lambda spark, sf_dir: retrieval.phrase_snippets(
        _read(spark, sf_dir, "documents"), "hash join", 4
    )
)


# PMI term co-occurrence: corpus-relative gates (6%/79% df band, 20%
# pair floor — integer floor arithmetic in both engines) so one oracle
# string holds at every SF; at sf0.01 the band drops the rare planted
# 'dup' marker AND the five most ubiquitous vocabulary words, so both
# gate branches populate.
@register(
    "term_pmi",
    cooccur.cooccurrence_pmi_sql(
        min_df="(6 * (SELECT n FROM nn)) // 100",
        max_df="(79 * (SELECT n FROM nn)) // 100",
        min_pair="(20 * (SELECT n FROM nn)) // 100",
    ),
)
def term_pmi_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    n = docs.select("doc_id").distinct().count()
    return cooccur.cooccurrence_pmi(
        docs,
        min_df=(6 * n) // 100,
        max_df=(79 * n) // 100,
        min_pair=(20 * n) // 100,
    )


register("tf_idf", index.tf_idf_sql())(
    lambda spark, sf_dir: index.tf_idf(_read(spark, sf_dir, "documents"))
)


# BM25 ranked retrieval (the query side of the index): a 3-query batch
# over the synthetic corpus vocabulary — a 2-term, a 3-term and a
# phrase-less single-rare-term query exercise idf spread, length
# normalization and the doc_id tie-break (scores are exact 1e-6
# multiples in both engines, so ties are reachable and identical).
_BM25_QUERIES = [
    (1, "hash"), (1, "join"),
    (2, "window"), (2, "sort"), (2, "fast"),
    (3, "spark"), (3, "stream"),
]
_BM25_VALUES = "VALUES " + ", ".join(
    f"({q}, '{t}')" for q, t in _BM25_QUERIES
)


@register("bm25_topk", retrieval.bm25_topk_sql(_BM25_VALUES, k=10))
def bm25_topk_q(spark, sf_dir):
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, term string"
    )
    docs = _read(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, queries, k=10,
        index=_bm25_index(spark, sf_dir, "documents", docs, "text"),
    )


# Sitemap ingestion (sitemaps.org protocol): robots `Sitemap:` lines ->
# sitemapindex -> urlset entries. Fixture hosts are anchor docs
# (doc_id % 29 = 0); each advertises an index (two children, one of
# which is absent for every third anchor — dead-link branch) plus a
# directly-listed urlset, and one in two also advertises a sitemap no
# page exists for. Entry fields exercise every parse branch: odd-case
# directive keys, whitespace-padded <loc>, datetime and garbage
# <lastmod>, cased <changefreq>, '0.d'/'1.0'/two-digit priorities and
# priority-absent rows.
_SM_BASE = "'http://site' || CAST(doc_id AS STRING) || '.test'"
_SM_ROBOTS = (
    "'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || "
    f"'sitemap: ' || {_SM_BASE} || '/idx.xml' || chr(10) || "
    f"'  SiteMap:   ' || {_SM_BASE} || '/direct.xml' || chr(10) || "
    f"CASE WHEN doc_id % 58 = 0 THEN 'Sitemap: ' || {_SM_BASE} || "
    "'/missing.xml' || chr(10) ELSE '' END"
)
_SM_IDX = (
    "'<?xml version=\"1.0\"?>' || chr(10) || '<sitemapindex>' || chr(10) || "
    f"'<sitemap><loc>' || {_SM_BASE} || '/part1.xml</loc><lastmod>2026-0' || "
    "CAST(doc_id % 9 + 1 AS STRING) || '-15</lastmod></sitemap>' || chr(10) || "
    f"'<sitemap><loc> ' || {_SM_BASE} || '/part2.xml </loc></sitemap>' || "
    "chr(10) || '</sitemapindex>'"
)
_SM_PART1 = (
    f"'<urlset>' || chr(10) || '<url><loc>' || {_SM_BASE} || '/p' || "
    "CAST(doc_id AS STRING) || '/a.html</loc><lastmod>2026-01-0' || "
    "CAST(doc_id % 9 + 1 AS STRING) || '</lastmod>"
    "<changefreq>Daily</changefreq><priority>0.' || "
    "CAST(doc_id % 10 AS STRING) || '</priority></url>' || chr(10) || "
    f"'<url><loc>' || {_SM_BASE} || '/p' || CAST(doc_id AS STRING) || "
    "'/b.html</loc><changefreq>weekly</changefreq>"
    "<priority>1.0</priority></url>' || chr(10) || "
    f"'<url><loc>' || {_SM_BASE} || '/p' || CAST(doc_id AS STRING) || "
    "'/c.html</loc><lastmod>yesterday</lastmod></url>' || chr(10) || "
    "'</urlset>'"
)
_SM_PART2 = (
    f"'<urlset><url><loc>  ' || {_SM_BASE} || '/deep/d' || "
    "CAST(doc_id AS STRING) || '.html  </loc><priority>0.85</priority>"
    "</url></urlset>'"
)
_SM_DIRECT = (
    f"'<urlset><url><loc>' || {_SM_BASE} || '/home.html</loc>"
    "<lastmod>2026-08-0' || CAST(doc_id % 9 + 1 AS STRING) || "
    "'T10:00:00Z</lastmod><priority>0.5</priority></url>"
    f"<url><loc>' || {_SM_BASE} || '/about.html</loc></url></urlset>'"
)
_SM_ANCHOR = "doc_id % 29 = 0"
_SM_PART2_PRESENT = f"{_SM_ANCHOR} AND doc_id % 87 <> 0"
_SM_ROBOTS_SQL = (
    f"SELECT 'site' || CAST(doc_id AS STRING) || '.test' AS host, "
    f"{_SM_ROBOTS} AS body FROM documents WHERE {_SM_ANCHOR}"
)
_SM_PAGES_SQL = (
    f"SELECT {_SM_BASE} || '/idx.xml' AS url, {_SM_IDX} AS body "
    f"FROM documents WHERE {_SM_ANCHOR} "
    f"UNION ALL SELECT {_SM_BASE} || '/part1.xml', {_SM_PART1} "
    f"FROM documents WHERE {_SM_ANCHOR} "
    f"UNION ALL SELECT {_SM_BASE} || '/part2.xml', {_SM_PART2} "
    f"FROM documents WHERE {_SM_PART2_PRESENT} "
    f"UNION ALL SELECT {_SM_BASE} || '/direct.xml', {_SM_DIRECT} "
    f"FROM documents WHERE {_SM_ANCHOR}"
)


# Exact percentiles of document byte length (nearest-rank, two-phase
# histogram rank — no global sort, no sketch).
@register(
    "length_percentiles",
    quantiles.exact_percentiles_sql(
        "SELECT length(text) AS v FROM documents", "v"
    ),
)
def length_percentiles_q(spark, sf_dir):
    d = _read(spark, sf_dir, "documents").selectExpr("length(text) AS v")
    return quantiles.exact_percentiles(d, "v")


# Deterministic HLL distinct counting: 11 hosts x ~45 distinct URL
# keys each at sf0.01 — the linear-counting branch; the raw-estimate
# branch at higher cardinality is pinned in tests/test_hll.py.
_HLL_SQL = (
    "SELECT 'h' || CAST(doc_id % 11 AS STRING) AS host, "
    "'/u' || CAST(doc_id % 200 AS STRING) AS url FROM documents"
)


@register("approx_distinct_urls", hll.approx_distinct_sql(_HLL_SQL))
def approx_distinct_urls_q(spark, sf_dir):
    d = _read(spark, sf_dir, "documents").selectExpr(
        "'h' || CAST(doc_id % 11 AS STRING) AS host",
        "'/u' || CAST(doc_id % 200 AS STRING) AS url",
    )
    return hll.approx_distinct(d, "url", "host")


# Link-spam features: 83 organic hosts plus a fully-reciprocated
# 3-node farm ring (hosts 100-102) and every-29th self-loops.
_LS_BRANCHES = (
    ("doc_id % 83", "((doc_id % 83) * 37 + doc_id % 5 + 1) % 83", None),
    ("100 + doc_id % 3", "100 + (doc_id % 3 + 1) % 3", "doc_id % 11 = 0"),
    ("100 + (doc_id % 3 + 1) % 3", "100 + doc_id % 3", "doc_id % 11 = 0"),
    ("doc_id % 83", "doc_id % 83", "doc_id % 29 = 0"),
)
_LS_EDGES_SQL = " UNION ALL ".join(
    f"SELECT {s} AS src, {d} AS dst FROM documents"
    + (f" WHERE {w}" if w else "")
    for s, d, w in _LS_BRANCHES
)


@register("linkspam_features", linkspam.linkspam_features_sql(_LS_EDGES_SQL))
def linkspam_features_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    parts = [
        (docs.filter(w) if w else docs).selectExpr(f"{s} AS src", f"{d} AS dst")
        for s, d, w in _LS_BRANCHES
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionAll(p)
    return linkspam.linkspam_features(edges)


# URL pattern mining: 7 hosts; an /item/<id> template that explodes by
# count, an /aN/page?id=V template exploding by host share, four
# letter-path statics that stay quiet, and an every-31st md5 session
# URL exercising the hex-run placeholder.
_UP_URL = (
    "'http://p' || CAST(doc_id % 7 AS STRING) || '.example' || "
    "CASE WHEN doc_id % 31 = 0 THEN '/session/' || md5(CAST(doc_id AS STRING)) "
    "WHEN doc_id % 3 = 0 THEN '/item/' || CAST(doc_id AS STRING) "
    "WHEN doc_id % 3 = 1 THEN '/a' || CAST(doc_id % 5 AS STRING) || "
    "'/page?id=' || CAST(doc_id AS STRING) "
    "ELSE '/x/' || chr(97 + CAST(doc_id % 4 AS INT)) END"
)


@register("url_patterns", urlpatterns.url_patterns_sql(f"SELECT {_UP_URL} AS url FROM documents"))
def url_patterns_q(spark, sf_dir):
    urls = _read(spark, sf_dir, "documents").selectExpr(f"{_UP_URL} AS url")
    return urlpatterns.url_patterns(urls)


# Per-host corpus report: 37 hosts over the documents table. The
# doc_id % 74 stride plants identical bodies that all land on host h0
# (74 = 2 x 37), so the within-host dup counter has live rows; the
# fixture's lang column populates the language-mode branch.
_HR_TEXT = "CASE WHEN doc_id % 74 = 0 THEN 'shared template body' ELSE text END"
_HR_SQL = (
    "SELECT 'h' || CAST(doc_id % 37 AS STRING) AS host, lang, "
    f"{_HR_TEXT} AS text FROM documents"
)


@register("host_report", hostreport.host_report_sql(_HR_SQL))
def host_report_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").selectExpr(
        "'h' || CAST(doc_id % 37 AS STRING) AS host", "lang", f"{_HR_TEXT} AS text"
    )
    return hostreport.host_report(docs)


# Soft-404 detection: constructed (status, title, text) rows cover a
# titled husk (title hit + tiny body), a long apology page (two body
# phrases + title hit), two single-weak-signal negatives (tiny-only,
# one passing body phrase), a REAL 404 that must not flag, and plain
# pages.
_S4_STATUS = "CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END"
_S4_TITLE = (
    "CASE CAST(doc_id % 11 AS INT) WHEN 0 THEN 'Page Not Found' "
    "WHEN 1 THEN 'Oops Error' ELSE 'Doc ' || CAST(doc_id AS STRING) END"
)
_S4_TEXT = (
    "CASE CAST(doc_id % 11 AS INT) "
    "WHEN 0 THEN 'The page you requested was not found.' "
    "WHEN 1 THEN 'This article does not exist or has been removed. ' || text "
    "WHEN 2 THEN substr(text, 1, 40) "
    "WHEN 3 THEN text || ' error 404 mentioned in passing' "
    "ELSE text END"
)
_S4_SQL = (
    f"SELECT doc_id, {_S4_STATUS} AS status, {_S4_TITLE} AS title, "
    f"{_S4_TEXT} AS text FROM documents"
)


@register("soft404_detect", soft404.detect_soft404_sql(_S4_SQL))
def soft404_detect_q(spark, sf_dir):
    pages = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{_S4_STATUS} AS status",
        f"{_S4_TITLE} AS title",
        f"{_S4_TEXT} AS text",
    )
    return soft404.detect_soft404(pages)


# Crawl-budget apportionment: 97 hosts with quadratic-residue weights
# (one host pinned to weight 0), global budget 10k — quotas must sum
# exactly to the budget with largest-remainder bonuses.
_BU_HOSTS = (
    "SELECT DISTINCT 'h' || lpad(CAST(doc_id % 97 AS STRING), 2, '0') AS host, "
    "CASE WHEN doc_id % 97 = 13 THEN 0 "
    "ELSE ((doc_id % 97) * (doc_id % 97)) % 1009 + 1 END AS weight "
    "FROM documents"
)
_BU_BUDGET = 10_000


@register("budget_apportion", budget.apportion_budget_sql(_BU_HOSTS, _BU_BUDGET))
def budget_apportion_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    hosts = docs.selectExpr(
        "'h' || lpad(CAST(doc_id % 97 AS STRING), 2, '0') AS host",
        "CASE WHEN doc_id % 97 = 13 THEN 0 "
        "ELSE ((doc_id % 97) * (doc_id % 97)) % 1009 + 1 END AS weight",
    ).distinct()
    return budget.apportion_budget(hosts, _BU_BUDGET)


# Canonical-URL dedup: 3-URL variant groups (bare / ?utm / ?page) all
# pointing at the bare member via rel=canonical in three syntaxes —
# absolute double-quoted, root-relative reversed-attribute-order, and
# uppercase unquoted protocol-relative — plus no-tag and
# unresolvable-relative-href overrides that fall back to
# self-canonical singleton groups.
def _cc_pages(d: str) -> tuple[str, str]:
    g = f"CAST(doc_id {d} 3 AS STRING)"
    base = f"'http://c' || CAST((doc_id {d} 3) % 50 AS STRING) || '.example'"
    canon = f"{base} || '/a' || {g}"
    url = (
        f"{canon} || CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '' "
        "WHEN 1 THEN '?utm=1' ELSE '?page=2' END"
    )
    body = (
        "CASE WHEN doc_id % 17 = 0 THEN '<html><head><title>t</title></head>' "
        "WHEN doc_id % 23 = 0 THEN '<link rel=\"canonical\" href=\"x.html\">' "
        "WHEN doc_id % 3 = 0 THEN "
        f"'<html><head><link rel=\"canonical\" href=\"' || {canon} || "
        "'\"></head><body>x</body></html>' "
        "WHEN doc_id % 3 = 1 THEN "
        f"'<head><link href=\"/a' || {g} || '\" rel=\"canonical\"></head>' "
        f"ELSE '<LINK REL=canonical HREF=//c' || CAST((doc_id {d} 3) % 50 AS STRING) || "
        f"'.example/a' || {g} || '>' END"
    )
    return f"{url} AS url", f"{body} AS body"


@register(
    "canonical_dedup",
    canonical.canonical_dedup_sql(
        "SELECT " + ", ".join(_cc_pages("//")) + " FROM documents"
    ),
)
def canonical_dedup_q(spark, sf_dir):
    pages = _read(spark, sf_dir, "documents").selectExpr(*_cc_pages("div"))
    return canonical.canonical_dedup(pages)


# Adaptive recrawl scheduling: a 4-snapshot history per URL (125 URLs
# at sf0.01) with four change temperaments — every-round, every-other-
# round, changed-once, static — so all four refresh tiers and the
# never-changed age fallback populate. Integer division spells `div`
# in Spark and `//` in DuckDB, hence the parametrized constructor.
def _rc_hist_exprs(d: str) -> tuple[str, str, str]:
    return (
        "'http://h' || CAST(doc_id % 125 AS STRING) || '.example/p' AS url",
        f"doc_id {d} 125 AS round",
        f"md5(CAST(CASE CAST(doc_id % 125 % 4 AS INT) "
        f"WHEN 0 THEN doc_id {d} 125 "
        f"WHEN 1 THEN (doc_id {d} 125) {d} 2 "
        f"WHEN 2 THEN CASE WHEN doc_id {d} 125 >= 2 THEN 1 ELSE 0 END "
        "ELSE 0 END AS STRING)) AS digest",
    )


@register(
    "recrawl_schedule",
    recrawl.recrawl_priorities_sql(
        "SELECT " + ", ".join(_rc_hist_exprs("//")) + " FROM documents"
    ),
)
def recrawl_schedule_q(spark, sf_dir):
    hist = _read(spark, sf_dir, "documents").selectExpr(*_rc_hist_exprs("div"))
    return recrawl.recrawl_priorities(hist)


# Crawl-trap detection: constructed URLs hit every rule once plus three
# boundary negatives (segment repeated only twice, 3 numeric segments,
# 'userid=' not matching the session-id delimiter class).
_TRAP_URL = (
    "'http://t' || CAST(doc_id % 5 AS STRING) || '.example' || "
    "CASE CAST(doc_id % 13 AS INT) "
    "WHEN 0 THEN '/cat/page/cat/page/cat/page/x.html' "
    "WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/k/l/m.html' "
    "WHEN 2 THEN '/s?q=' || repeat('x', 300) "
    "WHEN 3 THEN '/s?a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1&a9=1&a10=1&a11=1' "
    "WHEN 4 THEN '/p;jsessionid=ABC123DEF' "
    "WHEN 5 THEN '/2026/08/17/0500/p.html' "
    "WHEN 6 THEN '/cat/page/cat/x.html' "
    "WHEN 7 THEN '/p?sid=' || CAST(doc_id AS STRING) "
    "WHEN 8 THEN '/a/b?x=1&userid=22' "
    "WHEN 9 THEN '/1/2/3/x.html' "
    "ELSE '/p' || CAST(doc_id AS STRING) || '.html' END"
)


@register(
    "trap_filter",
    traps.detect_traps_sql(f"SELECT doc_id, {_TRAP_URL} AS url FROM documents"),
)
def trap_filter_q(spark, sf_dir):
    return traps.detect_traps(
        _read(spark, sf_dir, "documents").selectExpr("doc_id", f"{_TRAP_URL} AS url")
    )


def _sm_frames(docs):
    """(robots, pages) fixture frames shared by sitemap_ingest and the
    composed discovery pipeline."""
    anchors_df = docs.filter(_SM_ANCHOR)
    robots = anchors_df.selectExpr(
        "'site' || CAST(doc_id AS STRING) || '.test' AS host",
        f"{_SM_ROBOTS} AS body",
    )
    pages = (
        anchors_df.selectExpr(f"{_SM_BASE} || '/idx.xml' AS url", f"{_SM_IDX} AS body")
        .unionAll(
            anchors_df.selectExpr(
                f"{_SM_BASE} || '/part1.xml' AS url", f"{_SM_PART1} AS body"
            )
        )
        .unionAll(
            docs.filter(_SM_PART2_PRESENT).selectExpr(
                f"{_SM_BASE} || '/part2.xml' AS url", f"{_SM_PART2} AS body"
            )
        )
        .unionAll(
            anchors_df.selectExpr(
                f"{_SM_BASE} || '/direct.xml' AS url", f"{_SM_DIRECT} AS body"
            )
        )
    )
    return robots, pages


@register("sitemap_ingest", sitemap.sitemap_seeds_sql(_SM_ROBOTS_SQL, _SM_PAGES_SQL))
def sitemap_ingest_q(spark, sf_dir):
    robots, pages = _sm_frames(_read(spark, sf_dir, "documents"))
    return sitemap.sitemap_seeds(robots, pages)


# Composed discovery pipeline (the crawl-side clean_corpus): sitemap
# seeds UNION link-extracted candidates -> trap gate -> URL
# filter (blocklist + keywords) -> seen anti-join -> per-host
# largest-remainder budget. Link candidates plant a blocked host
# (badsite.test), session-id trap URLs, and a /casino keyword page;
# the seen set holds every /home.html sitemap loc. The oracle nests
# the same five SQL builders, so the COMPOSITION is value-hash
# verified, not just the stages.
_DISC_LINK_URL = (
    "CASE WHEN doc_id % 5 = 0 THEN 'http://badsite.test/p' || CAST(doc_id AS STRING) "
    "WHEN doc_id % 5 = 1 THEN 'http://site' || CAST((doc_id % 17) * 29 AS STRING) || "
    "'.test/p;jsessionid=' || CAST(doc_id AS STRING) "
    "WHEN doc_id % 19 = 0 THEN 'http://site' || CAST((doc_id % 17) * 29 AS STRING) || "
    "'.test/casino-page' "
    "ELSE 'http://site' || CAST((doc_id % 17) * 29 AS STRING) || '.test/d' || "
    "CAST(doc_id AS STRING) END"
)
_DISC_SEEN_SQL = (
    f"SELECT {_SM_BASE} || '/home.html' AS url FROM documents WHERE {_SM_ANCHOR}"
)
_DISC_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"
_DISC_BUDGET = 200


def _discovery_oracle() -> str:
    # each stage builder gets the candidate SQL INLINED (not a shared
    # CTE reference): the builders open their own WITH scopes, and
    # DuckDB's binder rejects correlated references from a nested WITH
    # to an outer CTE
    seeds = sitemap.sitemap_seeds_sql(_SM_ROBOTS_SQL, _SM_PAGES_SQL)
    cand = f"""
SELECT DISTINCT host, url FROM (
  SELECT host, loc AS url FROM ( {seeds} )
  UNION
  SELECT lower(regexp_extract(url, '{_DISC_HOST_RE}', 1)) AS host, url
  FROM (SELECT {_DISC_LINK_URL} AS url FROM documents)
)"""
    tr = traps.detect_traps_sql(f"SELECT url AS doc_id, url FROM ({cand})")
    uf = urlfilter.url_filter_sql(
        f"SELECT url AS doc_id, url FROM ({cand})",
        "SELECT 'badsite.test' AS domain",
    )
    ap = budget.apportion_budget_sql(
        "SELECT host, n_candidates AS weight FROM ph", _DISC_BUDGET
    )
    # semi-join (IN) form rather than a 3-way join of the builder
    # subqueries: DuckDB's binder hits an internal error when all
    # three nested-WITH subqueries meet in one join tree
    return f"""
WITH ok AS (
  SELECT c.host, c.url FROM ({cand}) c
  WHERE c.url IN (SELECT doc_id FROM ({tr}) WHERE NOT trap)
    AND c.url IN (SELECT doc_id FROM ({uf}) WHERE keep)
),
new AS (
  SELECT * FROM ok o
  WHERE NOT EXISTS (SELECT 1 FROM ({_DISC_SEEN_SQL}) s WHERE s.url = o.url)
),
ph AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_candidates FROM new GROUP BY host
),
ap AS ({ap})
SELECT ph.host, ph.n_candidates, ap.quota,
       least(ph.n_candidates, ap.quota) AS scheduled
FROM ph JOIN ap ON ph.host = ap.host
"""


@register("discovery_pipeline", _discovery_oracle())
def discovery_pipeline_q(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    robots, pages = _sm_frames(docs)
    seeds = sitemap.sitemap_seeds(robots, pages).select(
        "host", F.col("loc").alias("url")
    )
    links = docs.selectExpr(f"{_DISC_LINK_URL} AS url").select(
        F.lower(F.regexp_extract("url", _DISC_HOST_RE, 1)).alias("host"), "url"
    )
    # cand feeds three consumers (trap gate, URL filter, final join):
    # checkpoint so the sitemap-parse subtree runs once, not 3x (the
    # round-4 union-branch recompute lesson)
    cand = seeds.unionByName(links).distinct().localCheckpoint(eager=False)
    tr = traps.detect_traps(cand, url_col="url", id_col="url")
    uf = urlfilter.url_filter(
        cand,
        docs.sparkSession.createDataFrame([("badsite.test",)], "domain string"),
        url_col="url",
        id_col="url",
    )
    ok = (
        cand.join(tr.filter("NOT trap").select("url"), "url")
        .join(uf.filter("keep").select(F.col("url")), "url")
        .select("host", "url")
    )
    seen = docs.filter(_SM_ANCHOR).selectExpr(f"{_SM_BASE} || '/home.html' AS url")
    new = ok.join(seen, "url", "left_anti")
    # host-cardinality rows; apportionment's bounded driver actions
    # (weight sum, base sum, bucket counts) would otherwise re-derive
    # the whole gating chain per action
    ph = new.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    ).localCheckpoint(eager=False)
    ap = budget.apportion_budget(
        ph.selectExpr("host", "n_candidates AS weight"), _DISC_BUDGET
    )
    return ph.join(ap.select("host", "quota"), "host").selectExpr(
        "host",
        "n_candidates",
        "quota",
        "least(n_candidates, quota) AS scheduled",
    )


# ====================================================================
# Flagship entry: crawl-style extraction pipeline at sf0.001
# ====================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Synthesize HTML around each sf0.001 document, run the extraction
    kernel, and join the inverted-index stats — one DataFrame exercising
    the extract UDF, tokenizer and aggregation layers together."""
    sf_dir = "/root/testdata/sf0.001"
    ex = html_extract_text(spark, sf_dir)
    stats = index.postings_stats(_read(spark, sf_dir, "documents"))
    top_terms = stats.orderBy(F.desc("total_tf"), F.asc("term")).limit(5).select("term")
    docs_tokens = quality.token_counts(_read(spark, sf_dir, "documents"))
    return (
        ex.join(docs_tokens, "doc_id")
        .select("doc_id", "title", "ws_tokens", "bpe_tokens", F.length("text").alias("text_len"))
        .orderBy("doc_id")
    )
