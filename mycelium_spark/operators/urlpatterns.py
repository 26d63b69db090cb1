"""URL pattern mining: detecting parameterized infinite URL spaces.

The per-URL trap gate (operators/traps.py) catches structurally broken
URLs one at a time; the complementary host-level defense — used by
IRLbot's budgeting and BUbiNG's frontier hygiene — is *pattern
mining*: generalize each URL to its structural template (digit runs,
hex ids and query values collapsed to placeholders) and watch for
templates that explode. A host where one template accounts for
thousands of distinct URLs is a calendar, a session mill, or a faceted
search — the crawler should cap that template's budget, not each URL.
The reference engine has no such defense (crawler.cc admits any
scheme-valid, robots-allowed URL). Pipeline-brief scope.

Generalization, applied in fixed order so both engines compose
identically:

1. hex runs of >= 8 chars -> 'H' (session ids, content hashes);
2. digit runs -> 'N' (ids, dates, pages);
3. query values -> '=V' (every ``=value`` up to the next '&').

Fragments are stripped first — they never reach the server, so they
cannot define a URL space.

Flags: a (host, pattern) group is ``explosive`` when it holds >=
``min_urls`` distinct URLs, or >= ``share_milli_thr`` thousandths of
the host's URL mass on hosts with >= ``min_host_urls`` URLs (template
dominance on a 3-URL host is no evidence) — all integer tests.

Scale shape: generalization is one codegen projection; the rollup is
one (host, pattern) groupBy plus a host-total groupBy and an equi-join
back — all map-side combined, key cardinality bounded by distinct
templates (crushingly smaller than URL count: that asymmetry is the
point of the operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_URLS_DEFAULT = 20
SHARE_MILLI_THR_DEFAULT = 500
MIN_HOST_URLS_DEFAULT = 10  # share rule needs this much host mass as evidence

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_HEX_RE = "[0-9a-f]{8,}"
_NUM_RE = "[0-9]+"
_QVAL_RE = "=[^&#]*"


def url_patterns(
    urls: DataFrame,
    url_col: str = "url",
    min_urls: int = MIN_URLS_DEFAULT,
    share_milli_thr: int = SHARE_MILLI_THR_DEFAULT,
    min_host_urls: int = MIN_HOST_URLS_DEFAULT,
) -> DataFrame:
    """-> (example, explosive, host, n_urls, pattern, share_milli) per
    (host, pattern) group."""
    base = urls.select(
        F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1)).alias("host"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)", 1),
                    _HEX_RE,
                    "H",
                ),
                _NUM_RE,
                "N",
            ),
            _QVAL_RE,
            "=V",
        ).alias("pattern"),
        F.col(url_col).alias("url"),
    )
    # Two deliberate scale choices, both measured at 20-100M rows
    # (git show 9cca455:scripts/scale_rehearsal_r5b.py):
    # 1. distinct by 64-bit md5 prefix, not the URL string — the
    #    distinct keys are fixed 16-byte values instead of full URLs
    #    (same convention in the twin, so exactness holds; 64-bit
    #    birthday collisions at 10^8 keys can undercount a template by
    #    ~1, immaterial against a >=20 threshold);
    # 2. the distinct count and min(url) run as SEPARATE aggregations
    #    joined on the template key: mixing distinct and non-distinct
    #    aggs makes Spark EXPAND every input row per agg path, which
    #    defeats partial aggregation (measured 229s combined vs ~70s
    #    split at 20M rows). The projection recomputes per agg — at
    #    corpus scale re-running a codegen projection is far cheaper
    #    than materializing it.
    nd = base.groupBy("host", "pattern").agg(
        F.countDistinct(F.expr("substr(md5(url), 1, 16)")).cast("long").alias(
            "n_urls"
        )
    )
    ex = base.groupBy("host", "pattern").agg(F.min("url").alias("example"))
    groups = nd.join(ex, ["host", "pattern"])
    totals = groups.groupBy("host").agg(F.sum("n_urls").alias("_host_urls"))
    return groups.join(totals, "host").selectExpr(
        "example",
        f"n_urls >= {min_urls} OR (_host_urls >= {min_host_urls} "
        f"AND (n_urls * 1000) div _host_urls >= {share_milli_thr}) AS explosive",
        "host",
        "n_urls",
        "pattern",
        "(n_urls * 1000) div _host_urls AS share_milli",
    )


def url_patterns_sql(
    urls_sql: str,
    min_urls: int = MIN_URLS_DEFAULT,
    share_milli_thr: int = SHARE_MILLI_THR_DEFAULT,
    min_host_urls: int = MIN_HOST_URLS_DEFAULT,
) -> str:
    """DuckDB twin over a (url) subquery — note the 'g' flag:
    DuckDB's regexp_replace is first-match-only by default where
    Java's replaces all."""
    tail = r"regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)', 1)"
    pattern = (
        f"regexp_replace(regexp_replace(regexp_replace({tail}, "
        f"'{_HEX_RE}', 'H', 'g'), '{_NUM_RE}', 'N', 'g'), "
        f"'{_QVAL_RE}', '=V', 'g')"
    )
    return f"""
WITH u AS ({urls_sql}),
base AS (
  SELECT lower(regexp_extract(url, '{_HOST_RE}', 1)) AS host,
         {pattern} AS pattern, url
  FROM u
),
groups AS (
  SELECT host, pattern,
         CAST(count(DISTINCT substr(md5(url), 1, 16)) AS BIGINT) AS n_urls,
         min(url) AS example
  FROM base GROUP BY host, pattern
),
totals AS (SELECT host, sum(n_urls) AS host_urls FROM groups GROUP BY host)
SELECT g.example,
       (g.n_urls >= {min_urls} OR (t.host_urls >= {min_host_urls}
        AND (g.n_urls * 1000) // t.host_urls >= {share_milli_thr})) AS explosive,
       g.host, g.n_urls, g.pattern,
       CAST((g.n_urls * 1000) // t.host_urls AS BIGINT) AS share_milli
FROM groups g JOIN totals t ON g.host = t.host
"""
