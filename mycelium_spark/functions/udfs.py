"""Vectorized pandas/Arrow UDFs wrapping the parity kernels.

All Spark-facing entry points are Arrow-batched ``pandas_udf``s — no
row-at-a-time Python UDFs (BASELINE.json input_hint mandate). The URL
normalizer has a vectorized fast path: URLs already in canonical form are
detected with one pandas ``str.fullmatch`` over the whole batch and passed
through untouched; only the remainder hits the exact Python kernel.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .headers import acceptable, parse_http_headers
from .lexer import html_lex
from .robots import canon_path
from .url import BadUrl, Url

# --- canonical-form fast path -------------------------------------------
# A URL matching this regex is guaranteed normalize()-invariant:
#   - lowercase scheme http/https, lowercase reg-name host (alnum start/end),
#     optional port;
#   - non-empty absolute path of segments made of bytes that escape(PATH)
#     leaves alone, with no '%', no empty segments, no '.'/'..' segments;
#   - optional query/fragment of pass-through bytes without '%'.
from .url import FAST_DOTSEG_RE_STR, FAST_NORMALIZED_RE_STR

_FAST_RE = FAST_NORMALIZED_RE_STR
_FAST_COMPILED = re.compile(_FAST_RE)
_DOTSEG = re.compile(FAST_DOTSEG_RE_STR)


def normalize_url_series(urls: pd.Series) -> pd.Series:
    """Normalize a Series of URL strings; invalid → None."""
    urls = urls.astype("object")
    fast = urls.str.fullmatch(_FAST_RE, na=False) & ~urls.str.contains(
        _DOTSEG, regex=True, na=False
    )
    if fast.all():
        return urls

    def slow(u):
        if u is None:
            return None
        try:
            url = Url(u)
        except BadUrl:
            return None
        try:
            url.normalize()
        except BadUrl:
            return None
        return url.to_string()

    out = urls.copy()
    out[~fast] = urls[~fast].map(slow)
    return out


def url_host_series(urls: pd.Series) -> pd.Series:
    """Raw (unnormalized) parsed host per URL; invalid → None."""

    def f(u):
        if u is None:
            return None
        try:
            return Url(u).host().decode("latin-1")
        except BadUrl:
            return None

    return urls.astype("object").map(f)


def canon_path_series(urls: pd.Series) -> pd.Series:
    """The robots-canonical path of each URL, ``canon_path(Url(u).path())``
    (Robots.cc:49), latin-1 decoded; invalid → None."""

    def f(u):
        if u is None:
            return None
        try:
            return canon_path(Url(u).path()).decode("latin-1")
        except BadUrl:
            return None

    return urls.astype("object").map(f)


def url_parts_frame(urls: pd.Series) -> pd.DataFrame:
    cols = {k: [] for k in ("scheme", "userinfo", "host", "port", "path", "query", "fragment", "valid")}
    for u in urls:
        try:
            url = Url(u) if u is not None else None
        except BadUrl:
            url = None
        if url is None:
            for k in cols:
                cols[k].append(None if k != "valid" else False)
        else:
            cols["scheme"].append(url.scheme().decode("latin-1"))
            cols["userinfo"].append(url.userinfo().decode("latin-1"))
            cols["host"].append(url.host().decode("latin-1"))
            cols["port"].append(url.port().decode("latin-1"))
            cols["path"].append(url.path().decode("latin-1"))
            cols["query"].append(url.query().decode("latin-1"))
            cols["fragment"].append(url.fragment().decode("latin-1"))
            cols["valid"].append(True)
    return pd.DataFrame(cols)


URL_PARTS_TYPE = StructType(
    [
        StructField("scheme", StringType()),
        StructField("userinfo", StringType()),
        StructField("host", StringType()),
        StructField("port", StringType()),
        StructField("path", StringType()),
        StructField("query", StringType()),
        StructField("fragment", StringType()),
        StructField("valid", BooleanType()),
    ]
)

EXTRACT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("charset", StringType()),
        StructField("rss", StringType()),
        StructField("rss2", StringType()),
        StructField("atom", StringType()),
        StructField("meta_index", BooleanType()),
        StructField("meta_follow", BooleanType()),
        StructField(
            "links",
            ArrayType(
                StructType(
                    [StructField("url", StringType()), StructField("txt", StringType())]
                )
            ),
        ),
        StructField("n_warnings", IntegerType()),
    ]
)

HEADERS_TYPE = StructType(
    [
        StructField("content_type", StringType()),
        StructField("charset", StringType()),
        StructField("acceptable", BooleanType()),
    ]
)


def extract_frame(htmls: pd.Series, urls: pd.Series) -> pd.DataFrame:
    """Batch html_lex — the §2.3 extraction operator over an Arrow batch."""
    out = {k: [] for k in (
        "text", "title", "charset", "rss", "rss2", "atom",
        "meta_index", "meta_follow", "links", "n_warnings",
    )}
    for html, url in zip(htmls, urls):
        if html is None:
            for k in out:
                out[k].append(None)
            continue
        if isinstance(html, str):
            html = html.encode("utf-8")
        try:
            r = html_lex(html, url or b"")
        except (BadUrl, ValueError):
            for k in out:
                out[k].append(None)
            continue
        a = r.analysis
        out["text"].append(r.text.decode("utf-8", "replace"))
        out["title"].append(a.title.decode("utf-8", "replace"))
        out["charset"].append(a.charset.decode("utf-8", "replace"))
        out["rss"].append(a.rss.decode("utf-8", "replace"))
        out["rss2"].append(a.rss2.decode("utf-8", "replace"))
        out["atom"].append(a.atom.decode("utf-8", "replace"))
        out["meta_index"].append(a.index)
        out["meta_follow"].append(a.follow)
        out["links"].append(
            [
                {"url": u.decode("utf-8", "replace"), "txt": t.decode("utf-8", "replace")}
                for (u, t) in r.links
            ]
        )
        out["n_warnings"].append(r.warnings)
    return pd.DataFrame(out)


def headers_frame(headers: pd.Series) -> pd.DataFrame:
    out = {"content_type": [], "charset": [], "acceptable": []}
    for h in headers:
        if h is None:
            out["content_type"].append(None)
            out["charset"].append(None)
            out["acceptable"].append(None)
            continue
        ct, cs, _ = parse_http_headers(h)
        out["content_type"].append(ct)
        out["charset"].append(cs)
        out["acceptable"].append(acceptable(ct))
    return pd.DataFrame(out)


# --- Spark UDF objects (created lazily so importing this module doesn't
# require an active Spark session) ---
def make_udfs():
    normalize_url_udf = F.pandas_udf(normalize_url_series, StringType())
    url_host_udf = F.pandas_udf(url_host_series, StringType())
    url_parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
    extract_udf = F.pandas_udf(extract_frame, EXTRACT_TYPE)
    headers_udf = F.pandas_udf(headers_frame, HEADERS_TYPE)
    return {
        "normalize_url": normalize_url_udf,
        "url_host": url_host_udf,
        "url_parts": url_parts_udf,
        "extract": extract_udf,
        "headers": headers_udf,
    }


_UDFS = None


def udfs():
    global _UDFS
    if _UDFS is None:
        _UDFS = make_udfs()
    return _UDFS
