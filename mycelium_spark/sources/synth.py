"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the ``pages`` table of BASELINE.json's input_hint shape
``(url string, warc_ts timestamp, html binary, text string, lang string)``
plus ``seeds`` and per-host ``robots_fixtures`` per FIXTURES.md.

Every page is a PURE FUNCTION of its integer id (no cross-row state), so
generation distributes over ``spark.range(n)`` with ``mapInPandas`` and is
reproducible at any scale — the same construction would populate the
10^10-row Iceberg table on a real cluster. The HTML grammar exercises every
extraction feature (FIXTURES.md §1): word-break tags incl. the span
non-break control, script/style suppression, comments, the three entity
kinds plus an unknown entity, quoted/unquoted/relative/absolute hrefs,
rel=nofollow, iframe src, meta refresh, meta robots, feed links, and
dangling off-corpus links. The ``text`` column is produced by the same
extraction kernel that the engine runs (whose byte-level behavior is pinned
to the reference by tests/test_lexer.py), so the end-to-end byte-identity
invariant holds by construction.

Host distribution is Zipf-ish with one hot host holding ~30% of URLs
(politeness-budget and hot-host skew exercise).
"""

from __future__ import annotations

import datetime
from typing import TYPE_CHECKING, Iterator

if TYPE_CHECKING:  # pandas costs ~0.3 s of cold import; the scalar
    import pandas as pd  # generators (page_html, the envelope kernel) never

    # need it, so it loads lazily inside the frame builders below.

from ..functions.lexer import html_lex

HOT_HOST = "hot.example"
N_COLD_HOSTS = 97  # prime, for good id mixing
_LANGS = ["en", "de", "fr", "es", "pt", "it", "nl", "pl"]
_WORDS = (
    "the quick brown fox jumps over a lazy dog while seventeen wombats "
    "carefully assemble distributed systems from spare parquet files and "
    "gradually learn to normalize uniform resource locators at scale"
).split()
_EPOCH = datetime.datetime(2012, 4, 7, 21, 28, 26)


def host_of(page_id: int) -> str:
    if page_id % 10 < 3:  # 30% on the hot host
        return HOT_HOST
    return f"site{(page_id * 2654435761) % N_COLD_HOSTS:02d}.example"


def url_of(page_id: int) -> str:
    return f"http://{host_of(page_id)}/d{page_id % 7}/p{page_id}.html"


_WORDS2 = _WORDS + _WORDS  # circular-slice backing (len(_WORDS) > any n)


def _sentence(page_id: int, k: int, n: int = 6) -> str:
    # indices (base + j) % L for consecutive j are a circular run: one
    # slice of the doubled list replaces n modular lookups
    start = (page_id * 13 + k * 7) % len(_WORDS)
    return " ".join(_WORDS2[start : start + n])


def page_html(page_id: int, n_pages: int, extra_paras: int = 0) -> bytes:
    """Deterministic HTML for one page (links reference other page ids).

    ``extra_paras`` pads the body with additional paragraphs/lists to reach
    realistic web-page sizes (the default synthetic page is ~0.5 KB; real
    crawl pages are 10-100x that) — used by the benchmark corpus.
    """
    i = page_id
    parts = [f"<html><head><title>Page {i} — {_sentence(i, 0, 3)}</title>"]
    if i % 5 == 0:
        parts.append(
            '<meta http-equiv="Content-Type" content="text/html; charset=utf-8">'
        )
    if i % 11 == 0:
        parts.append('<meta name="robots" content="noindex, follow">')
    if i % 13 == 0:
        parts.append(
            '<link rel="alternate" type="application/rss+xml" href="/feed.rss">'
        )
    if i % 17 == 0:
        parts.append(
            f'<meta http-equiv="refresh" content="0; url=http://{host_of((i + 1) % n_pages)}'
            f'/d{(i + 1) % n_pages % 7}/p{(i + 1) % n_pages}.html">'
        )
    parts.append("</head><body>")
    parts.append(f"<h1>{_sentence(i, 1, 4)}</h1>")
    # paragraphs with entity coverage
    parts.append(f"<p>{_sentence(i, 2)} &amp; {_sentence(i, 3)}</p>")
    if i % 3 == 0:
        parts.append(f"<p>{_sentence(i, 4)} &#72;&#x49; &copy; &bogus{i % 7};</p>")
    if i % 4 == 0:
        parts.append(f"<div>{_sentence(i, 5)}<span> inline{i}</span></div>")
    if i % 6 == 0:
        parts.append(f"<script>var x{i} = '<p>not text</p>';</script><p>after</p>")
    if i % 9 == 0:
        parts.append(f"<!-- comment {i} --><style>p {{color: #{i % 999:03d}}}</style><p>styled</p>")
    # links: 3 in-corpus targets via mixed forms
    t1 = (i * 31 + 7) % n_pages
    t2 = (i * 17 + 3) % n_pages
    t3 = (i + 1) % n_pages
    parts.append(f'<ul><li><a href="{url_of(t1)}">{_sentence(i, 6, 2)}</a></li>')
    # relative link requiring dot-segment merge (same host only)
    if host_of(t2) == host_of(i):
        parts.append(f'<li><a href="../d{t2 % 7}/p{t2}.html">rel {t2}</a></li>')
    else:
        parts.append(f'<li><a href="{url_of(t2)}">abs {t2}</a></li>')
    # unquoted attribute (contains '/', so it lexes as a LITERAL)
    parts.append(f"<li><a href={url_of(t3)}>unq {t3}</a></li>")
    if i % 8 == 0:
        parts.append(f'<li><a href="{url_of((i * 7 + 5) % n_pages)}" rel="nofollow">nf</a></li>')
    if i % 21 == 0:
        parts.append(f'<iframe src="http://dangling{i % 50:02d}.offsite.example/frame"></iframe>')
    parts.append("</ul>")
    for p in range(extra_paras):
        parts.append(f"<h1>{_sentence(i, 10 + p, 4)}</h1>")
        parts.append(
            f"<p>{_sentence(i, 20 + p, 18)} &amp; {_sentence(i, 40 + p, 18)},"
            f" &#{65 + (i + p) % 26}; {_sentence(i, 60 + p, 18)}</p>"
        )
        parts.append(
            f"<ul><li>{_sentence(i, 80 + p, 9)}</li><li>{_sentence(i, 100 + p, 9)}"
            f"<span> s{p}</span></li></ul>"
        )
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def is_redirect(page_id: int, with_redirects: bool) -> bool:
    """Redirect rows (~1/19 of the corpus, the rough share of 3xx finals
    in real crawls). Chains arise naturally: the target is itself a
    redirect with probability ~1/19, giving geometric chain lengths —
    occasionally exceeding MAXREDIRS, which exercises the 47-stub path."""
    return with_redirects and page_id % 19 == 7


def redirect_target(page_id: int, n_pages: int) -> int:
    return (page_id * 5 + 3) % n_pages


def page_row(
    page_id: int, n_pages: int, extra_paras: int = 0, with_redirects: bool = False
) -> dict:
    url = url_of(page_id)
    ts = _EPOCH + datetime.timedelta(seconds=page_id * 37 % 86400)
    if is_redirect(page_id, with_redirects):
        # a 3xx row: Location only, no content (curl discards 3xx bodies)
        return {
            "url": url, "warc_ts": ts, "html": None, "text": None,
            "lang": None,
            "redirect_to": url_of(redirect_target(page_id, n_pages)),
        }
    html = page_html(page_id, n_pages, extra_paras)
    text = html_lex(html, url).text.decode("utf-8")
    row = {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": _LANGS[page_id % len(_LANGS)],
    }
    if with_redirects:
        row["redirect_to"] = None
    return row


def pages_pdf(
    page_ids, n_pages: int, extra_paras: int = 0, with_redirects: bool = False
) -> "pd.DataFrame":
    import pandas as pd

    return pd.DataFrame(
        [page_row(int(i), n_pages, extra_paras, with_redirects) for i in page_ids]
    )


def pages_df(
    spark,
    n_pages: int,
    parallelism: int | None = None,
    extra_paras: int = 0,
    with_redirects: bool = False,
):
    """Distributed generation: spark.range → mapInPandas (scales linearly)."""
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    fields = [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
    if with_redirects:
        fields.append(StructField("redirect_to", StringType()))
    schema = StructType(fields)
    rng = spark.range(n_pages, numPartitions=parallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pages_pdf(b["id"].tolist(), n_pages, extra_paras, with_redirects)

    return rng.mapInPandas(gen, schema)


def seeds(n_pages: int, n_seeds: int = 20) -> list[tuple[int, str]]:
    """Messy seed list: (seq, url_raw) rows normalizing into the corpus,
    plus invalid / non-http lines (ingest-filter exercise)."""
    rows: list[tuple[int, str]] = []
    seq = 0
    for k in range(n_seeds):
        pid = (k * 997 + 11) % n_pages
        host = host_of(pid)
        path = f"/d{pid % 7}/p{pid}.html"
        variant = k % 5
        if variant == 0:
            raw = f"http://{host}{path}"
        elif variant == 1:
            raw = f"HTTP://{host.upper()}{path}"
        elif variant == 2:
            raw = f"http://{host}/d{pid % 7}/../d{pid % 7}{path[path.index('/', 1):]}"
        elif variant == 3:
            raw = f"http://{host}{path}#fragment{k}"
        else:
            raw = f"http://{host}{path.replace('p', '%70', 1)}"
        rows.append((seq, raw))
        seq += 1
    rows.append((seq, "https://secure.example/skip")); seq += 1
    rows.append((seq, "ftp://files.example/skip")); seq += 1
    rows.append((seq, "http://bad host/parse-error")); seq += 1
    return rows


def robots_fixtures(n_pages: int) -> list[tuple[str, int, str | None]]:
    """(host, status, robots_txt) per host, covering PRESENT / NOT_AVAILABLE
    / EPARSE states and rule shapes (FIXTURES.md §3)."""
    hosts = sorted({host_of(i) for i in range(min(n_pages, 10 * N_COLD_HOSTS))} | {HOT_HOST})
    rows: list[tuple[str, int, str | None]] = []
    for h in hosts:
        b = sum(h.encode()) % 10
        if b < 4:
            rows.append((h, 404, None))  # NOT_AVAILABLE → allowed
        elif b < 6:
            rows.append((h, 200, "User-agent: *\nDisallow: /d3/\n# comment\n"))
        elif b == 6:
            rows.append(
                (h, 200, "User-agent: other-bot\nDisallow: /\n\nUser-agent: *\nAllow: /d1/\nDisallow: /d1/secret.html\nCrawl-delay: 2\n")
            )
        elif b == 7:
            rows.append((h, 200, "<html><body>404 robots</body></html>"))  # EPARSE
        elif b == 8:
            rows.append((h, 500, None))
        else:
            rows.append((h, 200, ""))  # empty file → PRESENT, no rules
    return rows
