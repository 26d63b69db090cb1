"""Redirect-chain resolution — the ``eff_url`` behavior of the reference's
fetch path, re-expressed as a chain closure built by pointer jumping.

Reference semantics (all /root/reference/src/crawler/crawler.cc):
* curl follows Location redirects transparently with ``CURLOPT_MAXREDIRS``
  = 5 (crawler.cc:52,1094-1095) and ``CURLOPT_REDIR_PROTOCOLS`` limited to
  http|https (crawler.cc:1096);
* exceeding the cap fails the transfer with CURLE_TOO_MANY_REDIRECTS (47);
  a redirect to a non-http(s) scheme fails with
  CURLE_UNSUPPORTED_PROTOCOL (1) — both become failure-stub docs, the
  same convention as the DNS/size stubs (crawler.cc:974-999);
* after the transfer, the *effective* URL is read back, normalized, and
  stamped into the Doc only when it differs from the requested URL
  (crawler.cc:862-868; Doc.hh:65; Doc.cc:29-30 stores it only non-empty).

Pages-join model: a redirecting URL is a pages row whose ``redirect_to``
column holds the Location header value (possibly relative — resolved
against the current URL via the F9 merge_ref kernel, which is what curl
does per RFC 7231 §7.1.2).

A chain is a function of its start URL, so resolution is two steps:

* ``chain_closure(edges)`` resolves the chain of every edge source of a
  raw (r_src, r_dst) edge table. It follows each edge once (merge_ref +
  normalize + the REDIR_PROTOCOLS check are functions of the edge
  alone), then doubles walks instead of stepping them: a walk row
  ``(url, eff_url, hops, redirect_code)`` composed with the walk that
  starts at its ``eff_url`` covers both, so the 1-hop table gives 2-,
  then 4-, then 5-hop walks, and one last lookup marks a walk whose
  5th URL still redirects as 47. Four left joins, whatever the chain
  lengths;
* ``resolve_redirect_chains(urls, chains)`` looks a batch up in the
  closure with one left join: a URL with no closure row does not
  redirect. The crawl engine builds the closure once per engine and
  looks each round up in it; batch callers (the ``redirect_resolve``
  query, ``bench.py``) build it over their own edges.

Intermediate-hop URLs are normalized when their edge is followed (the
pages table is keyed by normalized URL); the reference normalizes only
the final effective URL, but every Location curl follows passes through
the same URL parser, so the composed normalization is behavior-identical
for URLs both engines accept.

Scale notes (10^10 frontier): the redirect edge set is a projection of the
pages table (two string columns), and every walk table has one row per
edge source, so each composition shuffles the edge set twice at most
(the 1-hop table's shuffle on url is shared by the three compositions
that read it). The lookup shuffles the batch on url like the
frontier⋈pages content join; adaptive execution broadcasts a small
closure and handles skew.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.url import BadUrl, Url
from .materialize import release

MAXREDIRS = 5  # crawler.cc:52
CURLE_UNSUPPORTED_PROTOCOL = 1
CURLE_TOO_MANY_REDIRECTS = 47

_FOLLOW_TYPE = StructType(
    [StructField("next_url", StringType()), StructField("scheme", StringType())]
)


def follow_location_frame(cur: pd.Series, loc: pd.Series) -> pd.DataFrame:
    """One redirect hop per row: merge the Location value against the
    current URL (merge_ref, F9), normalize, and report the scheme so the
    caller can enforce REDIR_PROTOCOLS. Invalid URLs → (None, None).

    Fast path (same vectorized screen as normalize_url_series): an
    absolute http(s) Location already in normal form passes through
    without a Python-side parse — in real crawls most Locations are
    absolute, so the per-row Url machinery only runs on the tail."""
    from ..functions.udfs import _DOTSEG, _FAST_RE

    loc = loc.astype("object")
    cur = cur.astype("object")
    # _FAST_RE itself anchors on the https?:// prefix; derive the scheme
    # from it so BOTH protocols ride the vectorized path (https is the
    # majority of real-web Locations — the old startswith("http://")
    # screen pushed every https row through the per-row parse).
    scheme_pref = loc.str.extract(r"^(https?)://", expand=False)
    fast = (
        loc.str.fullmatch(_FAST_RE, na=False)
        & ~loc.str.contains(_DOTSEG, regex=True, na=False)
        & scheme_pref.notna()
    )
    if fast.all():
        return pd.DataFrame({"next_url": loc, "scheme": scheme_pref})

    def slow(c, l):
        try:
            ref = Url(l)
            # absolute Location → taken as-is; relative → RFC 3986 merge
            # (merge_ref itself rejects absolute refs, Url.cc parity)
            nxt = ref if ref.absolute() else Url(c).merge_ref(ref)
            nxt.normalize()
            return nxt.to_string(), nxt.scheme().decode("latin-1")
        except BadUrl:
            return None, None

    outs = loc.copy()
    schemes = scheme_pref.astype("object")
    idx = ~fast
    pairs = [slow(c, l) for c, l in zip(cur[idx], loc[idx])]
    outs[idx] = [p[0] for p in pairs]
    schemes[idx] = [p[1] for p in pairs]
    return pd.DataFrame({"next_url": outs, "scheme": schemes})


def redirect_edges(pages: DataFrame) -> DataFrame:
    """(r_src, r_dst) edge set from a pages table carrying ``redirect_to``."""
    return pages.filter(F.col("redirect_to").isNotNull()).select(
        F.col("url").alias("r_src"), F.col("redirect_to").alias("r_dst")
    )


def _follow_edges(edges: DataFrame) -> DataFrame:
    """(r_src, r_dst) → (r_src, r_next): the URL one hop from ``r_src``,
    null when the Location is unparseable or leaves http(s)."""
    follow_udf = F.pandas_udf(follow_location_frame, _FOLLOW_TYPE)
    ok = F.col("_n.next_url").isNotNull() & F.col("_n.scheme").isin("http", "https")
    return edges.withColumn("_n", follow_udf("r_src", "r_dst")).select(
        "r_src", F.when(ok, F.col("_n.next_url")).alias("r_next")
    )


def _walks(edges: DataFrame) -> DataFrame:
    """The 1-hop walk table of (r_src, r_dst) edges, one row per edge:
    ``(url, eff_url, hops, redirect_code)``. ``redirect_code`` is null
    while ``eff_url`` has not been looked up (the walk is in flight), and
    1 at a bad edge, which the walk does not take."""
    nxt = F.col("r_next")
    return _follow_edges(edges).select(
        F.col("r_src").alias("url"),
        F.coalesce(nxt, F.col("r_src")).alias("eff_url"),
        nxt.isNotNull().cast("int").alias("hops"),
        F.when(nxt.isNull(), F.lit(CURLE_UNSUPPORTED_PROTOCOL)).alias("redirect_code"),
    )


def _compose(walks: DataFrame, step: DataFrame) -> DataFrame:
    """Extend every in-flight walk by the ``step`` walk that starts at its
    ``eff_url``: no step row means no edge there (code 0); a step from a
    walk already ``MAXREDIRS`` hops long exceeds the cap (47, the walk
    keeps the state before it). A finished walk is kept as it is."""
    s = step.select(*(F.col(c).alias(f"s_{c}") for c in step.columns))
    fly = F.col("redirect_code").isNull()
    hit = fly & F.col("s_url").isNotNull()
    take = hit & (F.col("hops") < MAXREDIRS)
    return walks.join(s, walks["eff_url"] == s["s_url"], "left").select(
        "url",
        F.when(take, F.col("s_eff_url")).otherwise(F.col("eff_url")).alias("eff_url"),
        F.when(take, F.col("hops") + F.col("s_hops")).otherwise(F.col("hops")).alias("hops"),
        F.when(~fly, F.col("redirect_code"))
        .when(take, F.col("s_redirect_code"))
        .when(hit, F.lit(CURLE_TOO_MANY_REDIRECTS))
        .otherwise(F.lit(0))
        .alias("redirect_code"),
    )


def chain_closure(edges: DataFrame) -> DataFrame:
    """``(url, eff_url, hops, redirect_code)`` for every source url of the
    raw (r_src, r_dst) edges: r_src normalized, r_dst a Location value.
    ``eff_url`` is the final URL reached (on failure, the last URL reached
    before the failing hop), ``hops`` the redirects followed, and
    ``redirect_code`` 0 ok, 47 too many redirects, 1 unsupported redirect
    protocol / unparseable Location.

    The 1-hop table is composed into 2- and 4-hop walks, then 4 + 1 =
    ``MAXREDIRS``-hop walks (a composition never passes the cap); a last
    composition with the 1-hop table marks a walk whose 5th URL still
    has an edge as 47. The result is an eager local checkpoint; free it
    with ``materialize.release`` on any frame that scans it."""
    one = _walks(edges).localCheckpoint(eager=False)
    try:
        two = _compose(one, one)
        four = _compose(two, two)
        return _compose(_compose(four, one), one).localCheckpoint()
    finally:
        release(one)


def resolve_redirect_chains(urls: DataFrame, chains: DataFrame | None) -> DataFrame:
    """``urls`` (normalized ``url`` plus any columns, which ride along)
    with ``eff_url``, ``hops`` and ``redirect_code`` looked up in
    ``chains``, a ``chain_closure``; None means no url redirects. A url
    with no closure row is its own effective url, with 0 hops and code 0.
    Adaptive execution plans the join from the runtime sizes (a small
    closure is broadcast)."""
    if chains is None:
        return urls.select(
            "*", F.col("url").alias("eff_url"), F.lit(0).alias("hops"),
            F.lit(0).alias("redirect_code"),
        )
    return urls.join(chains, "url", "left").select(
        *urls.columns,
        F.coalesce("eff_url", "url").alias("eff_url"),
        F.coalesce("hops", F.lit(0)).alias("hops"),
        F.coalesce("redirect_code", F.lit(0)).alias("redirect_code"),
    )


def resolve_redirects_sql(
    docs_urls_sql: str, edges_sql: str, max_redirs: int = MAXREDIRS
) -> str:
    """DuckDB recursive-CTE oracle for chain resolution over absolute,
    already-normalized edges (the driver-table exercise constructs them
    that way, so no merge_ref is needed in SQL).

    ``docs_urls_sql`` must yield (doc_id, url); ``edges_sql`` (r_src,
    r_dst) with unique r_src. A walk row reaching hops = max_redirs + 1
    proves the chain exceeds the cap → redirect_code 47 with the state
    *before* the failing hop reported (the resolver never advances past
    the cap); otherwise the deepest row is terminal (recursion only stops
    below the cap when no edge matches)."""
    return f"""
WITH RECURSIVE walk(doc_id, url, eff_url, hops) AS (
    SELECT doc_id, url, url, 0 FROM ({docs_urls_sql})
  UNION ALL
    SELECT w.doc_id, w.url, e.r_dst, w.hops + 1
    FROM walk w JOIN ({edges_sql}) e ON e.r_src = w.eff_url
    WHERE w.hops <= {max_redirs}
), depth AS (
  SELECT doc_id, max(hops) AS mh FROM walk GROUP BY doc_id
)
SELECT w.doc_id,
       w.eff_url,
       CAST(w.hops AS INT) AS hops,
       CAST(CASE WHEN d.mh > {max_redirs} THEN {CURLE_TOO_MANY_REDIRECTS} ELSE 0 END AS INT) AS redirect_code
FROM walk w JOIN depth d
  ON w.doc_id = d.doc_id AND w.hops = least(d.mh, {max_redirs})
"""
