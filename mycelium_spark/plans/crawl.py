"""Crawl engine: the per-URL lifecycle (SURVEY.md §2.5) as a per-round DAG.

The reference's event-loop state machine (IDLE→ROBOTS→NEXT→HEAD→CONTENT,
crawler.cc:860-1064) collapses into deterministic batch rounds:

    frontier ──politeness budget──▶ scheduled
      scheduled ⋈ broadcast(robots_rules) ──allow filter──▶ allowed
      allowed ⋈ pages (on normalized url) ──"HEAD+GET"──▶ fetched
      fetched ──content-type + 1 MiB cap──▶ extract UDF ──▶ docs, links
      links ∖ seen ──Bloom prefilter + exact anti-join──▶ next frontier

Parity mapping:
* robots gate: allowed iff no robots row / NOT_AVAILABLE / EPARSE
  ("tried_but_failed" ⇒ allowed, Robots.hh:189-192) or PRESENT and
  ``path_allowed(ua, url.path())`` — path only, no query (crawler.cc:1041);
* the HEAD probe (crawler.cc:1163-1204) disappears: Parquet/Iceberg column
  pruning reads only the metadata columns until ``html`` is needed (P5);
* the 1 MiB content cap (crawler.cc:55,579-583) is a length filter;
* disallowed URLs are popped without fetch (crawler.cc:1051-1058) — they
  enter the seen set but produce no doc;
* docs is append-only with last-write-wins-by-(url, round) read semantics —
  the Mongo upsert (Doc.cc:79) becomes Iceberg MERGE at scale, or
  ``row_number() OVER (PARTITION BY url ORDER BY round DESC) = 1`` on read.

Execution: static inputs — the parsed robots rules and the followed,
partitioned redirect edges — are prepared once per engine. Within a round,
each intermediate with more than one consumer (the robots-gated schedule,
the resolved chains, the fetched + extracted working set, links, the new
frontier rows, ``next_frontier``, ``new_seen``) executes exactly once
behind a lazy local checkpoint; the round's stats are read
from those frames, the commits write from them, and the round releases
them all before it returns.

Checkpoint/resume: every table commit is an atomic snapshot (see
sources/catalog.py); the round counter lives in the frontier table's
snapshot metadata. Kill the driver between rounds and a new engine resumes
from the last committed round with identical results.

Scale notes (10^10 frontier, 1000 executors): frontier and seen are
hash-distributed by url; the frontier⋈pages join shuffles on url (AQE
handles skew); robots_rules and per-round host counts broadcast; the
extract stage repartitions by (host-bucket, salt) for politeness affinity;
per-partition lineage rows go to the metrics table every round.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.robots import Robots, RobotsState, robots_state_for
from ..functions.udfs import EXTRACT_TYPE, extract_frame, normalize_url_series, url_parts_frame, URL_PARTS_TYPE
from ..operators.frontier import assign_seq, politeness_schedule, with_worker_bucket
from ..operators.materialize import release
from ..operators.redirects import (
    prepare_redirect_edges,
    redirect_edges,
    resolve_redirect_chains,
)
from ..operators.seen import BloomSeen, new_urls
from ..sources.catalog import Catalog

DEFAULT_UA = "mycelium web crawler - https://github.com/larroy/mycelium"  # crawler.cc:294
CONTENT_SIZE_LIMIT = 1 << 20  # crawler.cc:55


def parse_robots_rows(pdf_iter, exact_match: bool):
    """mapInPandas kernel: (host, status, robots_txt) → (host, state, groups_json)."""
    for pdf in pdf_iter:
        states, groups = [], []
        for status, txt in zip(pdf["status"], pdf["robots_txt"]):
            state, robots = robots_state_for(
                int(status), txt.encode() if isinstance(txt, str) else txt, exact_match
            )
            states.append(int(state))
            if robots is None:
                groups.append(None)
            else:
                groups.append(
                    json.dumps(
                        [
                            {
                                "ua": [u.decode("latin-1") for u in g.ua],
                                "rules": [[int(t), r.decode("latin-1")] for t, r in g.rules],
                            }
                            for g in robots.groups
                        ]
                    )
                )
        yield pd.DataFrame({"host": pdf["host"], "state": states, "groups_json": groups})


def _robots_from_json(groups_json: str, exact_match: bool) -> Robots:
    r = Robots(exact_match=exact_match)
    from ..functions.robots import UasRules

    for g in json.loads(groups_json):
        gr = UasRules()
        gr.ua = [u.encode("latin-1") for u in g["ua"]]
        gr.rules = [(t, p.encode("latin-1")) for t, p in g["rules"]]
        r.groups.append(gr)
    return r


class CrawlEngine:
    """Iterative batch crawler over a pages table (the network replacement)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame,
        robots_fixtures: DataFrame | None = None,
        robots_from_pages: bool = False,
        user_agent: str = DEFAULT_UA,
        per_host_budget: int = 8,
        n_buckets: int = 32,
        exact_robots: bool = True,
        use_bloom: bool = True,
        bloom_bits: int = 1 << 22,
        bloom_shards: int = 1,
        enforce_crawl_delay: bool = False,
        round_period_sec: float = 5.0,
    ):
        self.spark = spark
        self.cat = Catalog(spark, workdir)
        self.pages = pages
        # Redirect support (crawler.cc:52,862-868,1094-1096): active iff the
        # pages table carries a ``redirect_to`` column (the Location header
        # of 3xx rows). Redirect rows are edges, not content — the content
        # join sees only non-redirecting rows. The edge table is static:
        # it is followed, partitioned and materialized once per engine.
        self.has_redirects = "redirect_to" in pages.columns
        if self.has_redirects:
            self.redirects = prepare_redirect_edges(redirect_edges(pages))
            self.content_pages = pages.filter(
                F.col("redirect_to").isNull()
            ).drop("redirect_to")
        else:
            self.redirects = None
            self.content_pages = pages
        self.user_agent = user_agent
        self.per_host_budget = per_host_budget
        self.n_buckets = n_buckets
        self.exact_robots = exact_robots
        # Crawl-delay enforcement is an EXTENSION (off by default): the
        # reference parses Crawl-delay but never enforces it (Robots.hh:48);
        # when on, a host declaring delay d gets per-round budget
        # min(per_host_budget, max(1, floor(round_period_sec / d))) — with
        # one round ≈ one scheduler tick (crawler.cc:335, 5000 ms).
        self.enforce_crawl_delay = enforce_crawl_delay
        self.round_period_sec = round_period_sec
        # bloom_shards > 1 switches the seen-filter to the sharded build
        # (per-shard bitmap files under the workdir; the 10^10 design where
        # a single bitmap can no longer broadcast)
        self.bloom = (
            BloomSeen(
                bloom_bits,
                n_shards=bloom_shards,
                shard_dir=f"{workdir}/bloom_shards" if bloom_shards > 1 else None,
            )
            if use_bloom
            else None
        )
        # robots_rules: parsed + materialized once, broadcast at gate time.
        # Sources, in precedence order:
        #   robots_fixtures — explicit (host, status, robots_txt) rows
        #     (kept for tests / injected corpora);
        #   robots_from_pages — FIXTURE-FREE parity path: robots come from
        #     the pages table itself, keyed http://<host>/robots.txt, the
        #     same fetch path as every other URL — exactly how the
        #     reference fetches them (crawler.cc:1068-1101 forces scheme
        #     http + path /robots.txt through the shared curl pool). A
        #     host with no such row never produced a robots doc →
        #     NOT_AVAILABLE/absent ⇒ allowed, same as the fetch-failure
        #     branch.
        if robots_fixtures is not None:
            self.robots_rules = self._parse_robots(robots_fixtures)
        elif robots_from_pages:
            rob_rows = pages.filter(
                F.col("url").rlike(r"^http://[^/]+/robots\.txt$")
            ).select(
                F.regexp_extract("url", r"^http://([^/]+)/robots\.txt$", 1).alias("host"),
                F.lit(200).alias("status"),
                F.col("html").alias("robots_txt"),
            )
            self.robots_rules = self._parse_robots(rob_rows)
        else:
            self.robots_rules = None
        # resume support: rebuild the Bloom from the committed seen table
        if self.bloom is not None and self.cat.exists("seen"):
            seen = self.cat.read("seen")
            if seen is not None:
                self.bloom.add_df(seen, "url")

    def _parse_robots(self, rows: DataFrame) -> DataFrame:
        """(host, status, robots_txt) → materialized (host, state, groups_json)."""
        from pyspark.sql.types import IntegerType, StringType, StructField, StructType

        schema = StructType(
            [
                StructField("host", StringType()),
                StructField("state", IntegerType()),
                StructField("groups_json", StringType()),
            ]
        )
        exact = self.exact_robots
        rules = rows.mapInPandas(lambda it: parse_robots_rows(it, exact), schema).cache()
        rules.count()
        return rules

    # --- seeding (S1 ingest parity: absolute + http only, crawler.cc:1297) ---
    def seed(self, seed_rows: list[tuple[int, str]]) -> int:
        """seed_rows: (seq, url_raw). Returns number of accepted seeds."""
        spark = self.spark
        raw = spark.createDataFrame(seed_rows, ["in_seq", "url_raw"])
        parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
        norm_udf = F.pandas_udf(normalize_url_series, "string")
        parsed = (
            raw.withColumn("p", parts_udf("url_raw"))
            .filter(F.col("p.valid") & (F.col("p.scheme") == "http"))
            .withColumn("url", norm_udf("url_raw"))
            .filter(F.col("url").isNotNull())
            # host from the NORMALIZED url (the raw-case host is only the
            # classifier's queueing key; robots/fetch key on normalized)
            .withColumn("host", parts_udf("url").getField("host"))
            .select("url", "host", F.col("in_seq"))
        )
        # classifier never dedups, but frontier-as-set does (engine semantics:
        # identical final docs, deduped fetches — documented divergence);
        # the first arrival of a url keeps its place
        fresh = new_urls(parsed, self.cat.read("seen"), None, "url")
        fresh = fresh.groupBy("url").agg(
            F.min(F.struct("in_seq", "host")).alias("a")
        ).select("url", "a.host", "a.in_seq")
        frontier = assign_seq(fresh, ["in_seq"], 0)
        try:
            n = frontier.count()
            self.cat.commit(
                "frontier", frontier.drop("in_seq"), mode="overwrite",
                meta={"round": 0, "next_seq": n, "rows": n},
            )
        finally:
            release(frontier)
        return n

    def add_seeds(self, parsed: DataFrame) -> int:
        """Append already-parsed (url, host) rows to the frontier — the
        streaming-ingest entry point (seed_stream's foreachBatch sink).
        Dedupes against the live frontier and the seen set; new rows get
        seqs after the current high-water mark (arrival order within one
        batch is undefined upstream, so ties break by url for
        determinism). Returns rows actually added."""
        meta = self.cat.meta("frontier")
        next_seq = int(meta.get("next_seq", 0))
        rnd = int(meta.get("round", 0))
        existing = self.cat.read("frontier") if self.cat.exists("frontier") else None
        cand = parsed.select("url", "host").dropDuplicates(["url"])
        if existing is not None:
            cand = cand.join(existing.select("url"), "url", "left_anti")
        cand = new_urls(cand, self.cat.read("seen"), None, "url")
        fresh = assign_seq(cand, ["url"], next_seq)
        try:
            n_new = fresh.count()
            out = fresh if existing is None else existing.unionByName(fresh)
            self.cat.commit(
                "frontier", out, mode="overwrite",
                meta={"round": rnd, "next_seq": next_seq + n_new,
                      "rows": int(meta.get("rows", 0)) + n_new},
            )
        finally:
            release(fresh)
        return n_new

    def seed_from_sitemaps(self) -> int:
        """Sitemap discovery as a seed source (sitemaps.org protocol —
        an extension; the reference seeds only from the TCP pipe,
        crawler.cc:1297): robots bodies come from the corpus's own
        ``http://<host>/robots.txt`` pages (the robots_from_pages
        fetch-path semantics), their `Sitemap:` directives are matched
        against the pages table, one spec-complete index level
        expands, and every ``<url><loc>`` passes the SAME S1 ingest
        gate as piped seeds (absolute http only, RFC 3986 normalized)
        before ``add_seeds`` dedups it against frontier + seen.
        Returns the number of frontier rows actually added."""
        from ..sources.sitemap import sitemap_seeds

        robots = self.content_pages.filter(
            F.col("url").rlike(r"^http://[^/]+/robots\.txt$")
        ).select(
            F.regexp_extract("url", r"^http://([^/]+)/robots\.txt$", 1).alias(
                "host"
            ),
            F.col("html").cast("string").alias("body"),
        )
        pages = self.content_pages.select(
            "url", F.col("html").cast("string").alias("body")
        )
        locs = sitemap_seeds(robots, pages).select("loc").distinct()
        parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
        norm_udf = F.pandas_udf(normalize_url_series, "string")
        parsed = (
            locs.withColumn("p", parts_udf("loc"))
            .filter(F.col("p.valid") & (F.col("p.scheme") == "http"))
            .withColumn("url", norm_udf("loc"))
            .filter(F.col("url").isNotNull())
            .withColumn("host", parts_udf("url").getField("host"))
            .select("url", "host")
        )
        return self.add_seeds(parsed)

    def run_streaming(
        self, seed_dir: str, checkpoint_dir: str, max_rounds: int = 10,
        timeout_sec: int = 300,
    ) -> list[dict]:
        """Continuous mode (S1 streaming variant): ingest every seed file
        currently in ``seed_dir`` through Structured Streaming
        (availableNow micro-batches, checkpointed exactly-once per batch),
        then drain the frontier with batch rounds. Re-invoking after new
        files appear continues from the checkpoint — the streaming
        ingester feeds the deterministic batch engine.

        availableNow queries keep their trigger thread alive for tens of
        seconds after the last micro-batch commits (and an active query
        slows the subsequent batch rounds), so instead of waiting out
        ``awaitTermination`` we poll the query's own progress: once at
        least one micro-batch has run and the trigger has been idle with
        no data available for ~3 s, every seed file is committed
        (foreachBatch is synchronous) and the query is stopped early."""
        import time as _time

        from ..streaming.seed_stream import seed_stream

        q = seed_stream(
            self.spark, seed_dir,
            lambda batch_df, batch_id: self.add_seeds(batch_df),
            checkpoint_dir, trigger_once=True,
        )
        deadline = _time.time() + timeout_sec
        n_progress = 0
        idle = 0
        while q.isActive and _time.time() < deadline:
            cur = len(q.recentProgress)
            st = q.status or {}
            if cur > n_progress:
                n_progress, idle = cur, 0
            elif n_progress > 0 and not st.get("isTriggerActive", False) and not st.get(
                "isDataAvailable", False
            ):
                idle += 1
            if n_progress > 0 and idle >= 6:
                break
            _time.sleep(0.5)
        if q.isActive:
            q.stop()
        return self.run(max_rounds=max_rounds)

    @property
    def round(self) -> int:
        return int(self.cat.meta("frontier").get("round", 0))

    def _robots_gate(self, scheduled: DataFrame) -> DataFrame:
        """``scheduled`` plus a boolean ``allowed`` column."""
        if self.robots_rules is None:
            return scheduled.withColumn("allowed", F.lit(True))
        exact = self.exact_robots
        ua = self.user_agent

        def allowed_fn(paths: pd.Series, states: pd.Series, groups: pd.Series) -> pd.Series:
            cache: dict[str, Robots] = {}
            out = []
            for path, state, gj in zip(paths, states, groups):
                if state is None or pd.isna(state):
                    out.append(True)  # no robots row → EMPTY → fetch proceeds
                    continue
                state = int(state)
                if state in (int(RobotsState.NOT_AVAILABLE), int(RobotsState.EPARSE)):
                    out.append(True)  # tried_but_failed ⇒ allowed
                elif state == int(RobotsState.PRESENT):
                    if gj is None:
                        out.append(True)
                        continue
                    robots = cache.get(gj)
                    if robots is None:
                        robots = _robots_from_json(gj, exact)
                        cache[gj] = robots
                    out.append(robots.path_allowed(ua, path))
                else:
                    out.append(True)
            return pd.Series(out)

        allowed_udf = F.pandas_udf(allowed_fn, BooleanType())
        parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
        return (
            scheduled.join(F.broadcast(self.robots_rules), "host", "left")
            .withColumn("path", parts_udf("url").getField("path"))
            .withColumn("allowed", allowed_udf("path", "state", "groups_json"))
            .drop("state", "groups_json", "path")
        )

    def _host_budgets(self, rnd: int) -> DataFrame:
        """(host, _budget) from parsed robots Crawl-delay for our UA —
        only hosts that declare a delay appear (others default upstream).

        delay <= round_period: the host gets floor(period/delay) fetches
        per round (capped). delay > round_period: flooring at 1 would cap
        the effective delay at the round period (under-enforcement), so
        the host is instead scheduled only every ceil(delay/period)-th
        round — budget 1 when ``rnd % stride == 0``, else 0 (deferred)."""
        import math

        from pyspark.sql.types import IntegerType

        exact = self.exact_robots
        ua = self.user_agent
        cap = self.per_host_budget
        period = self.round_period_sec

        def budget_fn(states: pd.Series, groups: pd.Series) -> pd.Series:
            out = []
            for state, gj in zip(states, groups):
                if gj is None or state is None or int(state) != int(RobotsState.PRESENT):
                    out.append(None)
                    continue
                delay = _robots_from_json(gj, exact).crawl_delay(ua)
                if delay is None or delay <= 0:
                    out.append(None)
                elif delay <= period:
                    out.append(max(1, min(cap, int(period / delay))))
                else:
                    stride = math.ceil(delay / period)
                    out.append(1 if rnd % stride == 0 else 0)
            return pd.Series(out, dtype="object")

        budget_udf = F.pandas_udf(budget_fn, IntegerType())
        return (
            self.robots_rules.withColumn("_budget", budget_udf("state", "groups_json"))
            .filter(F.col("_budget").isNotNull())
            .select("host", "_budget")
        )

    def run_round(self) -> dict:
        """Execute one crawl round; returns stats. No-op if frontier empty.

        Each intermediate read by more than one consumer is held: it
        executes once behind a lazy local checkpoint, and every held
        frame is released before the round returns."""
        held: list[DataFrame] = []
        try:
            return self._run_round(held)
        finally:
            for df in held:
                release(df)

    def _run_round(self, held: list[DataFrame]) -> dict:
        r = self.round
        meta = self.cat.meta("frontier")
        next_seq = int(meta.get("next_seq", 0))
        if int(meta.get("rows", -1)) == 0:
            return {"round": r, "scheduled": 0, "done": True}
        frontier = self.cat.read("frontier")
        if frontier is None:
            return {"round": r, "scheduled": 0, "done": True}

        def hold(df: DataFrame) -> DataFrame:
            held.append(df.localCheckpoint(eager=False))
            return held[-1]

        frontier = hold(frontier)

        # 1. politeness budget (optionally Crawl-delay-scaled per host)
        if self.enforce_crawl_delay and self.robots_rules is not None:
            budgets = hold(self._host_budgets(r))
            gated_frontier = frontier.join(F.broadcast(budgets), "host", "left").withColumn(
                "_budget", F.coalesce(F.col("_budget"), F.lit(self.per_host_budget))
            )
            scheduled, deferred = politeness_schedule(
                gated_frontier, self.per_host_budget, budget_col="_budget"
            )
        else:
            scheduled, deferred = politeness_schedule(frontier, self.per_host_budget)

        # 2. robots gate: one job runs the gate UDFs and yields both counts
        gated = hold(self._robots_gate(scheduled))
        n_scheduled, n_disallowed = gated.agg(
            F.count(F.lit(1)), F.sum((~F.col("allowed")).cast("int"))
        ).first()
        n_disallowed = n_disallowed or 0

        # 3. "fetch": join against pages on normalized url; HEAD folds into
        # column pruning; politeness affinity + hot-host salting
        allowed = with_worker_bucket(
            gated.filter(F.col("allowed")).drop("allowed"), self.n_buckets
        )
        # 3a. redirect-chain resolution (crawler.cc:52,1094-1096): the
        # content lives at the chain's effective URL; cap/protocol
        # failures become curl-code stubs like every other fetch failure
        if self.has_redirects:
            resolved = resolve_redirect_chains(allowed, self.redirects)
            held.append(resolved)
        else:
            resolved = allowed.withColumn("eff_url", F.col("url")).withColumn(
                "redirect_code", F.lit(0)
            )
        # 3b. the working set: one row per fetched url, content joined only
        # for chains that resolved; failed chains keep a null html
        pages = self.content_pages.select(
            F.col("url").alias("_page_url"), "warc_ts", "lang", "html"
        )
        fetched = resolved.join(
            pages,
            (resolved["eff_url"] == pages["_page_url"])
            & (resolved["redirect_code"] == 0),
            "left",
        ).withColumn("html_len", F.octet_length("html"))
        ok = F.col("html").isNotNull() & (F.col("html_len") <= CONTENT_SIZE_LIMIT)

        # 4. extract (the §2.3 kernel over Arrow batches), run only on
        # content within the 1 MiB cap. Relative links resolve against the
        # EFFECTIVE URL — that is where the bytes came from. (The reference
        # stores eff_url in the Doc, Doc.cc:29-30, but never feeds it back
        # into indexing; its frontier is ingest-fed, so link-base choice
        # has no analog there.)
        extract_udf = F.pandas_udf(extract_frame, EXTRACT_TYPE)
        work = hold(
            fetched.select(
                "url", "seq", "eff_url", "warc_ts", "lang", "html_len",
                # fetch failures still produce doc stubs (crawler.cc:974-999):
                # chain cap / bad redirect protocol (47 / 1) fail the
                # transfer; no pages row → 6 (CURLE_COULDNT_RESOLVE_HOST);
                # over the cap → 42 (CURLE_ABORTED_BY_CALLBACK)
                F.when(F.col("redirect_code") != 0, F.col("redirect_code"))
                .when(F.col("html").isNull(), F.lit(6))
                .when(~ok, F.lit(42))
                .otherwise(F.lit(0))
                .alias("curl_code"),
                extract_udf(F.when(ok, F.col("html")), "eff_url").alias("ex"),
            )
        )
        content = F.col("curl_code") == 0
        # one job materializes the working set and counts the docs and the
        # links the links table (step 5) will keep
        n_docs, n_links = work.agg(
            F.count(F.lit(1)),
            F.sum(
                F.when(
                    content,
                    F.size(F.filter("ex.links", lambda l: l["url"].startswith("http:"))),
                )
            ),
        ).first()
        n_links = n_links or 0
        extracted = work.filter(content)
        # eff_url is stamped only when it differs (crawler.cc:867-868)
        eff_stamp = F.when(
            F.col("eff_url") != F.col("url"), F.col("eff_url")
        ).alias("eff_url")
        docs = work.select(
            "url",
            eff_stamp,
            F.lit(r).alias("round"),
            # 42 keeps the 200 it got before the cap; the other stubs have
            # no status (the reference would carry the last 3xx seen for
            # 47 / 1, a per-hop status our pages model does not record)
            F.when(F.col("curl_code").isin(0, 42), F.lit(200))
            .otherwise(F.lit(0))
            .alias("http_code"),
            "curl_code",
            F.when(content, F.col("warc_ts")).alias("modified"),
            *[F.when(content, F.col(c)).alias(c) for c in ("lang", "html_len")],
            *[
                F.when(content, F.col(f"ex.{c}")).alias(c)
                for c in ("text", "title", "charset", "rss", "rss2", "atom",
                          "meta_index", "meta_follow", "n_warnings")
            ],
        )

        # 5. links table
        links = hold(
            extracted.select(
                F.col("url").alias("src"),
                F.col("seq").alias("src_seq"),
                F.posexplode("ex.links").alias("pos", "l"),
            )
            .select("src", "src_seq", "pos", F.col("l.url").alias("url"), F.col("l.txt").alias("txt"))
            .filter(F.col("url").startswith("http:"))  # F11 ingest parity
            .withColumn("round", F.lit(r))
        )

        # 6. next frontier = links ∖ (seen ∪ scheduled), deduped, FIFO-seq'd
        seen = self.cat.read("seen")
        cand = (
            links.groupBy("url")
            .agg(F.min(F.struct("src_seq", "pos")).alias("arr"))
            .select("url", "arr.src_seq", "arr.pos")
        )
        # anti-join against the WHOLE current frontier (scheduled + deferred):
        # a link may point at a URL still queued behind the politeness budget
        cand = cand.join(frontier.select("url"), "url", "left_anti")
        # a link to this round's redirect TARGET is already crawled — its
        # content just landed under the requesting doc's eff_url. Only
        # chains that actually YIELDED content suppress the target: a chain
        # ending in a fetch-failure stub (curl 6/42) leaves the target
        # fetchable, so a later direct link gets its own doc row (the
        # reference stubs per requested URL).
        if self.has_redirects:
            targets = extracted.filter(F.col("eff_url") != F.col("url")).select(
                F.col("eff_url").alias("url")
            )
            cand = cand.join(targets, "url", "left_anti")
        parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
        # held: the range exchange in assign_seq samples its input in a
        # job of its own, which would re-run the Bloom and host UDFs
        fresh = hold(
            new_urls(cand, seen, self.bloom, "url").withColumn(
                "host", parts_udf("url").getField("host")
            )
        )
        new_frontier = assign_seq(
            fresh.select("url", "host", "src_seq", "pos"), ["src_seq", "pos", "url"], next_seq
        )
        held.append(new_frontier)
        next_frontier = hold(
            deferred.select("url", "host", "seq").unionByName(
                new_frontier.drop("src_seq", "pos")
            )
        )
        n_next = next_frontier.count()

        # 7. metrics: per-partition lineage (A3/P12)
        part_metrics = (
            extracted.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("html_len").alias("bytes"),
                F.min("seq").alias("min_seq"),
                F.max("seq").alias("max_seq"),
            )
            .withColumn("round", F.lit(r))
            .withColumn("stage", F.lit("extract"))
        )

        # 8. seen: every scheduled url (disallowed ones too, popped without
        # fetch) plus, with redirects, BOTH ends of a followed chain — a
        # redirect target already crawled must not be refetched when linked
        # directly. Extras come only from chains that yielded content: a
        # chain ending in a fetch-failure stub leaves its target unseen so
        # a direct link later records a doc row for it. Deduped against the
        # WHOLE current frontier (a target still queued behind the
        # politeness budget enters seen via `scheduled` when its turn
        # comes, not twice) and the committed seen table (same
        # Bloom-prefilter + exact-anti path as link candidates) so seen
        # stays duplicate-free.
        new_seen = gated.select("url")
        if self.has_redirects:
            extras = targets.distinct().join(frontier.select("url"), "url", "left_anti")
            new_seen = new_seen.unionByName(new_urls(extras, seen, self.bloom, "url"))
        new_seen = hold(new_seen)
        if self.bloom is not None:
            self.bloom.add_df(new_seen, "url")
            # quiescent point for version GC: every frame built against an
            # older filter version has been materialized above
            self.bloom.expire(keep=2)

        # 9. commit, frontier last: its meta carries the round counter
        self.cat.commit("docs", docs, mode="append", meta={"round": r})
        self.cat.commit("links", links.drop("src_seq"), mode="append", meta={"round": r})
        self.cat.commit("seen", new_seen, mode="append", meta={"round": r})
        self.cat.commit("metrics", part_metrics, mode="append", meta={"round": r})
        self.cat.commit(
            "frontier",
            next_frontier,
            mode="overwrite",
            meta={"round": r + 1, "next_seq": next_seq + n_next, "rows": n_next},
        )
        return {
            "round": r,
            "scheduled": n_scheduled,
            "disallowed": n_disallowed,
            "docs": n_docs,
            "links": n_links,
            "next_frontier": n_next,
            "done": n_next == 0,
        }

    def docs_latest(self) -> DataFrame | None:
        """Upsert-on-read view of the append-only docs table (S6: the Mongo
        upsert keyed by url, Doc.cc:79): last write per url wins."""
        docs = self.cat.read("docs")
        if docs is None:
            return None
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(F.desc("round"))
        return docs.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")

    def refresh_candidates(self) -> DataFrame:
        """S5 conditional refresh (ETag/If-Modified-Since analog): URLs whose
        pages row changed since the last crawl. DEAD CODE in the reference
        (Doc::load_url always returns false, Doc.cc:155, so its refresh
        branch never runs) — provided behind this explicit call, default
        unused, for the re-crawl use case."""
        latest = self.docs_latest()
        if latest is None:
            return self.content_pages.select("url")
        # Redirect-aware: a doc fetched through a chain carries its bytes
        # from the EFFECTIVE URL, so freshness compares the effective
        # page's warc_ts; a content page already covered as some chain's
        # target is not proposed as never-crawled.
        eff = (
            F.coalesce(F.col("eff_url"), F.col("url"))
            if "eff_url" in latest.columns
            else F.col("url")
        )
        crawled = latest.select(
            "url", eff.alias("_eff"), F.col("modified").alias("_old_ts")
        )
        pages_ts = self.content_pages.select(
            F.col("url").alias("_eff"), F.col("warc_ts").alias("_new_ts")
        )
        # docs whose effective page changed — or whose last fetch was a
        # failure stub (_old_ts null, retryable) that now has content
        changed = (
            crawled.join(pages_ts, "_eff", "left")
            .filter(
                F.col("_new_ts").isNotNull()
                & (F.col("_old_ts").isNull() | (F.col("_new_ts") != F.col("_old_ts")))
            )
            .select("url")
        )
        # content pages reached by no crawl, neither directly nor as a
        # redirect target
        uncrawled = pages_ts.join(
            crawled.select("_eff"), "_eff", "left_anti"
        ).select(F.col("_eff").alias("url"))
        return changed.unionByName(uncrawled)

    def run(self, max_rounds: int = 10) -> list[dict]:
        stats = []
        for _ in range(max_rounds):
            s = self.run_round()
            stats.append(s)
            if s.get("done"):
                break
        return stats
