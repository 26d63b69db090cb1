"""File-source (S8/S11) and Structured Streaming (S1/§2.9) tests."""

import gzip
import os
import time

from pyspark.sql import functions as F

from mycelium_spark.sources.files import index_local_files, read_gzip_text, scan_files
from mycelium_spark.streaming.seed_stream import crawl_rate_metrics, parse_seed_lines, seed_stream


def test_scan_and_index_local_files(spark, tmp_path):
    d = tmp_path / "docs"
    (d / "sub").mkdir(parents=True)
    (d / "a.txt").write_bytes(b"hello\x00 world")  # control char filtered
    (d / "sub" / "b.TXT").write_bytes("unicode é ok".encode("utf-8"))
    (d / "c.pdf").write_bytes(b"%PDF-1.4 fake")
    (d / "skip.jpg").write_bytes(b"\xff\xd8")
    files = scan_files(spark, str(d))
    assert files.count() == 3  # jpg filtered out, recursive + case-insensitive ext
    docs = index_local_files(files).collect()
    by_url = {r.url: r for r in docs}
    a = next(r for u, r in by_url.items() if u.endswith("a.txt"))
    assert a.http_code == 200 and a.text == "hello world"
    b = next(r for u, r in by_url.items() if u.endswith("b.txt".upper()) or u.endswith("b.TXT"))
    assert b.http_code == 200 and "é" in b.text
    c = next(r for u, r in by_url.items() if u.endswith("c.pdf"))
    assert c.http_code == 415 and c.text is None  # pdftotext absent → 415 stub
    assert all(r.url.startswith("file:///") for r in docs)


def test_read_gzip_text(spark, tmp_path):
    p = tmp_path / "lines.txt.gz"
    with gzip.open(p, "wt") as f:
        f.write("http://a.example/\nhttp://b.example/\n")
    df = read_gzip_text(spark, str(p))
    assert df.count() == 2


def test_parse_seed_lines_batch(spark):
    lines = spark.createDataFrame(
        [("http://OK.example/a",), ("https://skip.example/",), ("junk ://",), ("ftp://x/",)],
        ["value"],
    )
    out = parse_seed_lines(lines).collect()
    assert [(r.url, r.host) for r in out] == [("http://ok.example/a", "ok.example")]


def test_seed_stream_feeds_frontier(spark, tmp_path):
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    (seed_dir / "s1.txt").write_text(
        "http://one.example/a\nhttp://one.example/a\nhttps://skip.me/\nhttp://two.example/b\n"
    )
    got = []

    def append(df, batch_id):
        got.extend((r.url, r.host) for r in df.collect())

    q = seed_stream(
        spark, str(seed_dir), append, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(60)
    assert sorted(got) == [
        ("http://one.example/a", "one.example"),
        ("http://two.example/b", "two.example"),
    ]


def test_crawl_rate_metrics_watermark(spark, tmp_path):
    # memory-source streaming test via a rate-limited file stream is flaky;
    # use the foreachBatch-free path: feed a MemoryStream-like static frame
    # through the same aggregation in batch mode (semantics identical for
    # completed windows) and assert the window shape
    events = spark.createDataFrame(
        [
            ("2026-01-01 00:00:01", "a.example", 100),
            ("2026-01-01 00:00:03", "a.example", 50),
            ("2026-01-01 00:00:07", "b.example", 10),
        ],
        "ts string, host string, bytes long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = crawl_rate_metrics(events).collect()
    rows = {(str(r.tick_start), r.host): (r.n_fetched, r.bytes) for r in out}
    assert rows[("2026-01-01 00:00:00", "a.example")] == (2, 150)
    assert rows[("2026-01-01 00:00:05", "b.example")] == (1, 10)


def test_crawl_rate_metrics_streaming_watermark(spark, tmp_path):
    # true streaming run with availableNow over a file source
    src = tmp_path / "events"
    src.mkdir()
    (src / "e.json").write_text(
        '{"ts":"2026-01-01T00:00:01.000Z","host":"a.example","bytes":100}\n'
        '{"ts":"2026-01-01T00:00:03.000Z","host":"a.example","bytes":50}\n'
    )
    schema = "ts timestamp, host string, bytes long"
    stream = spark.readStream.schema(schema).json(str(src))
    agg = crawl_rate_metrics(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("ticks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    # append mode only emits windows the watermark has closed; with a single
    # micro-batch nothing may be final yet — the assertion is that the
    # streaming plan is valid and runs (watermark + window accepted)
    assert spark.sql("SELECT * FROM ticks").columns == [
        "tick_start", "host", "n_fetched", "bytes",
    ]


def test_run_streaming_end_to_end(spark, tmp_path):
    """Continuous mode: seed files → streaming ingest (checkpointed) →
    batch rounds drain the frontier; a second invocation with a NEW seed
    file resumes from the checkpoint and crawls only the new URLs."""
    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth

    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    pages = synth.pages_df(spark, 120, 8)
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    with open(seed_dir / "s1.txt", "w") as f:
        for i in range(8):
            f.write(synth.url_of(i) + "\n")
        f.write("https://skip.example/x\n")  # non-http: ingest filter drops

    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, per_host_budget=4)
    stats = eng.run_streaming(str(seed_dir), str(tmp_path / "ckpt"), max_rounds=3)
    docs1 = eng.docs_latest().count()
    assert docs1 > 0
    assert all(s["disallowed"] == 0 for s in stats)

    # second wave: only the new file is ingested (checkpoint skips s1.txt)
    with open(seed_dir / "s2.txt", "w") as f:
        for i in range(60, 64):
            f.write(synth.url_of(i) + "\n")
    eng.run_streaming(str(seed_dir), str(tmp_path / "ckpt"), max_rounds=3)
    docs2 = eng.docs_latest().count()
    assert docs2 > docs1
    # seen set is still a set (no url crawled twice)
    seen = eng.cat.read("seen")
    assert seen.count() == seen.select("url").distinct().count()


def test_run_streaming_with_redirects(spark, tmp_path):
    """Streaming-ingested seeds feed a redirect round: the chain resolves,
    eff_url is stamped, and both ends enter the seen set. (The
    run_streaming wrapper itself is covered by the test above; this pins
    the redirect interplay with ONE ingest + ONE round to stay cheap.)"""
    import time

    from pyspark.sql import functions as F

    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth
    from mycelium_spark.streaming.seed_stream import seed_stream

    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    n = 120
    schema = ("url string, warc_ts timestamp, html binary, text string,"
              " lang string, redirect_to string")
    pages = spark.createDataFrame(
        synth.pages_pdf(range(n), n, with_redirects=True), schema
    ).cache()
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    with open(seed_dir / "s1.txt", "w") as f:
        for i in (7, 26, 1):  # 7 and 26 are redirect rows (id % 19 == 7)
            f.write(synth.url_of(i) + "\n")
    eng = CrawlEngine(
        spark, str(tmp_path / "wd"), pages, per_host_budget=4,
    )
    q = seed_stream(
        spark, str(seed_dir), lambda df, bid: eng.add_seeds(df),
        str(tmp_path / "ckpt"), trigger_once=True,
    )
    # poll until the ingest committed the frontier, then stop the query
    # (cheaper than waiting out availableNow's idle drain)
    deadline = time.time() + 180
    while time.time() < deadline:
        if int(eng.cat.meta("frontier").get("rows", 0)) >= 3:
            break
        time.sleep(2)
    q.stop()
    stats = eng.run_round()
    assert stats["scheduled"] == 3
    docs = {r["url"]: r for r in eng.cat.read("docs").collect()}
    d7 = docs[synth.url_of(7)]
    assert d7["eff_url"] is not None and d7["curl_code"] == 0
    expected = {
        r["url"]: r["text"] for r in pages.select("url", "text").collect()
    }
    assert d7["text"] == expected[d7["eff_url"]]  # byte-identity through chain
    seen = [r["url"] for r in eng.cat.read("seen").collect()]
    assert len(seen) == len(set(seen))
    assert synth.url_of(7) in seen and d7["eff_url"] in seen


def test_run_streaming_two_waves_with_redirects(spark, tmp_path):
    """Two-wave run_streaming resume over the with_redirects corpus
    (ROADMAP r4 #5): wave 2 resumes from the checkpoint, ingests only the
    new seed file, resolves a 2-hop chain (64→83→58), and a DIRECT seed
    of wave-1's redirect target is deduped against the seen set — never
    refetched, no doc row keyed by it."""
    from pyspark.sql import functions as F

    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth

    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    n = 120
    schema = ("url string, warc_ts timestamp, html binary, text string,"
              " lang string, redirect_to string")
    pages = spark.createDataFrame(
        synth.pages_pdf(range(n), n, with_redirects=True), schema
    ).cache()
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    with open(seed_dir / "s1.txt", "w") as f:
        for i in (7, 1):  # 7 redirects to 38 (content row)
            f.write(synth.url_of(i) + "\n")
    eng = CrawlEngine(
        spark, str(tmp_path / "wd"), pages, per_host_budget=100,
    )
    eng.run_streaming(str(seed_dir), str(tmp_path / "ckpt"), max_rounds=1)
    docs1 = {r["url"]: r for r in eng.cat.read("docs").collect()}
    assert docs1[synth.url_of(7)]["eff_url"] == synth.url_of(38)
    seen1 = {r["url"] for r in eng.cat.read("seen").collect()}
    assert synth.url_of(38) in seen1  # target entered seen via extras

    # wave 2: only s2.txt is ingested (checkpoint skips s1.txt); seeds a
    # 2-hop chain head and the ALREADY-SEEN wave-1 target directly
    with open(seed_dir / "s2.txt", "w") as f:
        f.write(synth.url_of(64) + "\n")
        f.write(synth.url_of(38) + "\n")
    eng.run_streaming(str(seed_dir), str(tmp_path / "ckpt"), max_rounds=1)
    docs = eng.cat.read("docs")
    assert docs.filter(F.col("url") == synth.url_of(38)).count() == 0
    d64 = {r["url"]: r for r in docs.collect()}[synth.url_of(64)]
    assert d64["eff_url"] == synth.url_of(58) and d64["curl_code"] == 0
    seen = eng.cat.read("seen")
    assert seen.count() == seen.select("url").distinct().count()
