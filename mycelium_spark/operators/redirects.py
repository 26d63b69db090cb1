"""Redirect-chain resolution — the ``eff_url`` behavior of the reference's
fetch path, re-expressed as a bounded iterative join.

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

Resolution runs in two parts:

* ``prepare_redirect_edges`` — once per edge table: a hop only ever
  leaves an edge's source, so each edge's next URL (merge_ref +
  normalize of its Location against ``r_src``) and the REDIR_PROTOCOLS
  check are functions of the edge alone. They are computed once, with
  the edge set hash-partitioned by ``r_src``, and materialized;
* ``resolve_redirect_chains`` — per batch of URLs: a driver-side loop of
  at most ``max_redirs + 1`` hash joins between the in-flight rows and
  the prepared edges, with no Python in the loop. Each hop is
  materialized once and the loop stops as soon as no row is in flight,
  so the number of hops follows the longest chain in the batch, capped
  by the protocol constant.

Intermediate-hop URLs are normalized before each join (the pages table is
keyed by normalized URL); the reference normalizes only the final
effective URL, but every Location curl follows passes through the same
URL parser, so the composed normalization is behavior-identical for URLs
both engines accept.

Scale notes (10^10 frontier): the redirect edge set is a projection of the
pages table (two string columns); each hop join shuffles only the
in-flight rows on their current effective URL — same key distribution as
the frontier⋈pages content join, AQE handles skew. In-flight rows shrink
monotonically (only rows that matched a redirect survive a hop), so hops
after the first join a small fraction of the batch.
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


def prepare_redirect_edges(edges: DataFrame) -> DataFrame:
    """Prepare a (r_src, r_dst) edge table for ``resolve_redirect_chains``:
    follow every edge once and hash-partition the result by ``r_src``.

    The result is an eager local checkpoint, which keeps its
    partitioning, so no hop join re-shuffles the edge side (sharing the
    partitioning alone measured ~1.7x on the 5M-URL bench leg) or re-runs
    the follow kernel. The partition count follows the session's
    parallelism. A caller that prepares a static edge table keeps the
    result for the table's lifetime; ``materialize.release`` frees it."""
    n = edges.sparkSession.sparkContext.defaultParallelism
    return _follow_edges(edges).repartition(n, "r_src").localCheckpoint()


def resolve_redirect_chains(
    urls_df: DataFrame,
    redirects: DataFrame,
    max_redirs: int = MAXREDIRS,
    url_col: str = "url",
) -> DataFrame:
    """Resolve every row's redirect chain to its effective URL.

    ``urls_df``: any DataFrame with normalized URLs in ``url_col`` (all
    other columns ride along). ``redirects``: the output of
    ``prepare_redirect_edges``, or raw (r_src, r_dst) edges — r_src
    normalized, r_dst a raw Location value — which are prepared here
    for this call and released before it returns.

    Returns the input columns plus:
      * ``eff_url``  — final URL reached (== ``url_col`` when no redirect;
        on failure, the last URL reached before the failing hop);
      * ``hops``     — redirects followed;
      * ``redirect_code`` — 0 ok, 47 too many redirects, 1 unsupported
        redirect protocol / unparseable Location.

    Eager: each hop's rows sit behind a lazy local checkpoint (so the
    join executes once however many branches read it), materialized by
    the action that counts the rows still in flight; the loop ends when
    none are. The result is a union over those hops; free their
    blocks with ``materialize.release`` on the result when done with it.
    """
    if "r_next" not in redirects.columns:
        prepared = prepare_redirect_edges(redirects)
        try:
            return resolve_redirect_chains(urls_df, prepared, max_redirs, url_col)
        finally:
            release(prepared)
    in_flight = F.col("redirect_code").isNull()
    active = urls_df.withColumn("eff_url", F.col(url_col)).withColumn(
        "hops", F.lit(0)
    )
    steps: list[DataFrame] = []
    for hop in range(max_redirs + 1):
        code = F.when(F.col("r_src").isNull(), F.lit(0))
        if hop == max_redirs:
            # a pending hop #max_redirs+1 exceeds CURLOPT_MAXREDIRS
            code = code.otherwise(F.lit(CURLE_TOO_MANY_REDIRECTS))
        else:
            code = code.when(
                F.col("r_next").isNull(), F.lit(CURLE_UNSUPPORTED_PROTOCOL)
            )
        # a failing hop keeps the state before it; a followed hop advances
        step = (
            active.join(redirects, active["eff_url"] == redirects["r_src"], "left")
            .withColumn("redirect_code", code)
            .withColumn(
                "eff_url",
                F.when(in_flight, F.col("r_next")).otherwise(F.col("eff_url")),
            )
            .withColumn("hops", F.col("hops") + in_flight.cast("int"))
            .drop("r_src", "r_next")
            .localCheckpoint(eager=False)
        )
        steps.append(step)
        active = step.filter(in_flight)
        if active.count() == 0:
            break
    out = steps[0].filter(~in_flight)
    for step in steps[1:]:
        out = out.unionByName(step.filter(~in_flight))
    return out


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
