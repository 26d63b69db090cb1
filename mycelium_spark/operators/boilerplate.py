"""Boilerplate removal: jusText-style block classification (Pomikálek
2011, the published convention behind corpus pipelines' main-content
extraction; trafilatura/justext are its maintained implementations).

The reference's pipeline stops at whole-document text extraction (the
HTML lexer feeding the indexer); a training-data corpus additionally
needs the nav/footer/sidebar boilerplate stripped BEFORE dedup and
quality filtering — menus repeat across a site and would otherwise
dominate n-gram statistics. This operator consumes a BLOCK relation
(doc_id, block_id, text, link_chars) — in a full crawl, blocks come from
the lexer's tag structure (p/div/h* boundaries, link_chars = characters
inside <a> elements); here the relation is an explicit input so any
segmenter plugs in.

Implemented variant (documented simplification of jusText's two-phase
algorithm — the heading/short-block edge rules of the original are
dropped, everything else keeps its published defaults):

context-free class per block:
  link_density = link_chars / len          (len = char length, len>0)
  stop_density = |stopword tokens| / |tokens|   (T1 tokenization, kept
                 tokens matching ^\\w+$ after lowercasing)
  if   link_density > 0.2          -> bad
  elif len < 70                    -> bad if link_chars > 0 else short
  elif stop_density >= 0.32        -> good if len > 200 else neargood
  elif stop_density >= 0.30        -> neargood
  else                             -> bad

context-sensitive pass: short/neargood blocks are transparent; each
takes its final class from the nearest SOLID (good/bad) neighbors in
block order within the document: good if the previous OR next solid
class is good, else bad (blocks with no solid neighbor at all -> bad).

Determinism: densities are single IEEE divisions of integer counts —
identical in both engines; thresholds compare those exact doubles, so
class boundaries cannot flap. The neighbor scan is last/first-value
IGNORE NULLS windows ordered by block_id (unique within doc).

Scale shape (10^10 blocks): the context-free pass is one projection —
per-row array ops, no shuffle, whole-stage codegen. The context pass
shuffles once on doc_id (blocks of one doc are window-local; docs have
bounded block counts, so no skewed key). The stopword table is a
20-entry array literal folded into the expression — nothing is
broadcast, collected, or joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# compact English stoplist (function words only) — jusText ships
# per-language stoplists; this is the embedded default, callers pass
# their own for other languages.
STOPWORDS_EN = (
    "the", "a", "an", "of", "to", "in", "and", "is", "it", "on",
    "at", "as", "for", "with", "was", "that", "by", "this", "are", "be",
)

MAX_LINK_DENSITY = 0.2
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32


def _cf_case_sql(engine: str) -> str:
    """The context-free CASE, identical text in both dialects apart from
    the array/lambda spellings."""
    if engine == "spark":
        toks = "filter(split(lower(text), ' '), t -> t rlike '^\\\\w+$')"
        stops = (
            "size(filter(" + toks + ", t -> array_contains(array("
            + ", ".join(f"'{w}'" for w in STOPWORDS_EN)
            + "), t)))"
        )
        ntoks = f"size({toks})"
    else:
        toks = (
            "list_filter(string_split(lower(text), ' '), "
            "t -> regexp_full_match(t, '\\w+'))"
        )
        stops = (
            "len(list_filter(" + toks + ", t -> list_contains(["
            + ", ".join(f"'{w}'" for w in STOPWORDS_EN)
            + "], t)))"
        )
        ntoks = f"len({toks})"
    dens = f"(CAST({stops} AS DOUBLE) / {ntoks})"
    return f"""CASE
  WHEN CAST(link_chars AS DOUBLE) / length(text) > {MAX_LINK_DENSITY!r} THEN 'bad'
  WHEN length(text) < {LENGTH_LOW} THEN
    CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
  WHEN {ntoks} = 0 THEN 'bad'
  WHEN {dens} >= {STOPWORDS_HIGH!r} THEN
    CASE WHEN length(text) > {LENGTH_HIGH} THEN 'good' ELSE 'neargood' END
  WHEN {dens} >= {STOPWORDS_LOW!r} THEN 'neargood'
  ELSE 'bad'
END"""


def classify_blocks(blocks: DataFrame) -> DataFrame:
    """→ (block_id, cls, cls_cf, doc_id, keep): jusText two-phase class
    per block of ``blocks`` (doc_id, block_id, text, link_chars).
    Blocks with NULL/empty text are 'bad'. keep = final class is good."""
    cf = F.when(
        F.col("text").isNull() | (F.length("text") == 0), F.lit("bad")
    ).otherwise(F.expr(_cf_case_sql("spark")))
    b = blocks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("block_id").cast("long").alias("block_id"),
        "text",
        F.col("link_chars").cast("long").alias("link_chars"),
    ).withColumn("cls_cf", cf)
    solid = F.when(
        F.col("cls_cf").isin("good", "bad"), F.col("cls_cf")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("doc_id")
        .orderBy("block_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    b = b.withColumn(
        "_prev", F.last(solid, ignorenulls=True).over(w_prev)
    ).withColumn("_next", F.first(solid, ignorenulls=True).over(w_next))
    final = F.when(F.col("cls_cf").isin("good", "bad"), F.col("cls_cf")).otherwise(
        F.when(
            (F.col("_prev") == "good") | (F.col("_next") == "good"),
            F.lit("good"),
        ).otherwise(F.lit("bad"))
    )
    return (
        b.withColumn("cls", final)
        .withColumn("keep", F.col("cls") == "good")
        .select("block_id", "cls", "cls_cf", "doc_id", "keep")
    )


def classify_blocks_sql(blocks_sql: str) -> str:
    """DuckDB twin over any (doc_id, block_id, text, link_chars)
    relation: same CASE, same IGNORE NULLS neighbor windows."""
    cf = _cf_case_sql("duckdb")
    return f"""
WITH b AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(block_id AS BIGINT) AS block_id, text,
         CAST(link_chars AS BIGINT) AS link_chars
  FROM ( {blocks_sql} )
), cf AS (
  SELECT doc_id, block_id,
         CASE WHEN text IS NULL OR length(text) = 0 THEN 'bad'
              ELSE {cf} END AS cls_cf
  FROM b
), ctx AS (
  SELECT doc_id, block_id, cls_cf,
    last_value(CASE WHEN cls_cf IN ('good','bad') THEN cls_cf END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY block_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _prev,
    first_value(CASE WHEN cls_cf IN ('good','bad') THEN cls_cf END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY block_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS _next
  FROM cf
)
SELECT block_id,
       CASE WHEN cls_cf IN ('good','bad') THEN cls_cf
            WHEN _prev = 'good' OR _next = 'good' THEN 'good'
            ELSE 'bad' END AS cls,
       cls_cf, doc_id,
       (CASE WHEN cls_cf IN ('good','bad') THEN cls_cf
             WHEN _prev = 'good' OR _next = 'good' THEN 'good'
             ELSE 'bad' END) = 'good' AS keep
FROM ctx
"""


def extract_blocks(
    pages: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    url_col: str | None = None,
) -> DataFrame:
    """→ (doc_id, block_id, text, link_chars): lexer-backed block
    segmentation of raw HTML pages (functions/blocks.py), the input
    relation classify_blocks expects. Unparseable/NULL pages yield no
    blocks.

    Scale shape: mapInPandas — one Arrow-batched pass, rows only fan
    OUT (page → its blocks), nothing shuffles; Python is unavoidable
    here because the block source is the parity lexer itself (the same
    boundary html_extract_text already crosses)."""
    import pandas as pd

    from ..functions.blocks import html_blocks
    from ..functions.url import BadUrl

    out_schema = (
        f"{id_col} long, block_id long, text string, link_chars long"
    )

    def seg(batches):
        for pdf in batches:
            ids, bids, txts, lcs = [], [], [], []
            urls = pdf[url_col] if url_col else None
            for i, (doc, html) in enumerate(zip(pdf[id_col], pdf[html_col])):
                if html is None:
                    continue
                try:
                    blocks = html_blocks(
                        html, (urls.iloc[i] or b"") if urls is not None else b""
                    )
                except (BadUrl, ValueError):
                    continue
                for bid, txt, lc in blocks:
                    ids.append(doc)
                    bids.append(bid)
                    txts.append(txt.decode("utf-8", "replace"))
                    lcs.append(lc)
            yield pd.DataFrame(
                {id_col: ids, "block_id": bids, "text": txts,
                 "link_chars": lcs}
            )

    cols = [id_col, html_col] + ([url_col] if url_col else [])
    return pages.select(*cols).mapInPandas(seg, out_schema)


def main_content(blocks: DataFrame) -> DataFrame:
    """→ (doc_id, main_text): the good blocks of each doc joined in
    block order with single newlines — the corpus-facing output. Docs
    whose blocks are ALL boilerplate drop out (no empty-string rows).
    One doc_id-keyed aggregation; block texts move once."""
    cls = classify_blocks(blocks)
    good = cls.filter("keep").join(
        blocks.select("doc_id", "block_id", "text"), ["doc_id", "block_id"]
    )
    return good.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("block_id", "text"))
                ),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("main_text")
    )
