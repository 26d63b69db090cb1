"""Structured Streaming surface (SURVEY.md §2.9).

The reference is an event loop, not a stream processor; its streaming
analogues here:

* ``seed_stream`` — the TCP URL ingest (S1, crawler.cc:1281-1332) as a
  ``readStream`` on a seed directory: newline-separated URL lines, parsed
  and filtered exactly like the TCP path (absolute + http only, parse
  errors dropped), appended to the frontier table via ``foreachBatch`` so
  the batch round-loop picks them up — the streaming ingester feeds the
  deterministic batch engine rather than replacing it (checkpoint-
  resumable on both sides);
* ``crawl_rate_metrics`` — the 5-second stats tick (crawler.cc:478-498) as
  a watermarked sliding-window aggregation over a fetch-event stream:
  late events beyond the watermark are dropped, exactly the semantics a
  distributed crawler needs for its 'Downloaded/rate/done' printout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import URL_PARTS_TYPE, normalize_url_series, url_parts_frame


def parse_seed_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Line → (url, host) with the S1 ingest gate (absolute http only,
    crawler.cc:1297), followed by the input columns other than
    ``value_col``. The host is taken from the NORMALIZED url (the raw-case
    host is only the classifier's queueing key; robots and fetch key on
    the normalized one)."""
    rest = [c for c in lines.columns if c != value_col]
    parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
    norm_udf = F.pandas_udf(normalize_url_series, "string")
    return (
        lines.withColumn("p", parts_udf(F.col(value_col)))
        .filter(F.col("p.valid") & (F.col("p.scheme") == "http"))
        .withColumn("url", norm_udf(F.col(value_col)))
        .filter(F.col("url").isNotNull())
        .withColumn("host", parts_udf("url").getField("host"))
        .select("url", "host", *rest)
    )


def seed_stream(
    spark: SparkSession,
    seed_dir: str,
    frontier_append,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """readStream(seed_dir)/*.txt → parse/filter → foreachBatch(frontier_append).

    ``frontier_append(batch_df, batch_id)`` receives deduped (url, host)
    rows; checkpointing makes re-delivery exactly-once per batch id.
    """
    lines = spark.readStream.format("text").load(seed_dir)
    parsed = parse_seed_lines(lines)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        frontier_append(batch_df.dropDuplicates(["url"]), batch_id)

    writer = (
        parsed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def crawl_rate_metrics(
    fetch_events: DataFrame,
    window_sec: int = 5,
    watermark_sec: int = 30,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window fetch metrics (per-tick rate table).

    fetch_events: streaming DF with (ts timestamp, host string, bytes long).
    Late rows beyond the watermark are dropped.
    """
    return (
        fetch_events.withWatermark(ts_col, f"{watermark_sec} seconds")
        .groupBy(
            F.window(F.col(ts_col), f"{window_sec} seconds").alias("tick"),
            F.col("host"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_fetched"),
            F.sum("bytes").alias("bytes"),
        )
        .select(
            F.col("tick.start").alias("tick_start"),
            "host",
            "n_fetched",
            "bytes",
        )
    )
