"""Crawl engine: the per-URL lifecycle (SURVEY.md §2.5) as a per-round DAG.

The reference's event-loop state machine (IDLE→ROBOTS→NEXT→HEAD→CONTENT,
crawler.cc:860-1064) collapses into deterministic batch rounds:

    frontier ──politeness budget──▶ scheduled
      scheduled ⟕ broadcast(robots_rules) ──first matching rule──▶ allowed
      allowed ⋈ pages (on normalized url) ──"HEAD+GET"──▶ fetched
      fetched ──content-type + 1 MiB cap──▶ extract UDF ──▶ docs, links
      links ∖ seen ──exact anti-join (seen broadcast)──▶ next frontier

Parity mapping:
* robots gate: allowed iff no robots row / NOT_AVAILABLE / EPARSE
  ("tried_but_failed" ⇒ allowed, Robots.hh:189-192) or PRESENT and
  ``path_allowed(ua, url.path())`` — path only, no query (crawler.cc:1041).
  The UA is fixed per engine, so each host reduces to the ordered rules
  of its first matching UA group; the gate is a native first-match over
  that array, fed by one canon-path UDF per scheduled url;
* the HEAD probe (crawler.cc:1163-1204) disappears into the fetch join
  against the engine's fetch table: the content pages projected to the
  four columns a round reads (``html`` among them), hash-partitioned on
  url and cached once per engine, so a round neither rescans the
  ``pages`` files nor shuffles their html (ROADMAP direction 9 records a
  rejected semi-join prefilter);
* the 1 MiB content cap (crawler.cc:55,579-583) is a length filter;
* disallowed URLs are popped without fetch (crawler.cc:1051-1058) — they
  enter the seen set but produce no doc;
* docs is append-only with last-write-wins-by-(url, round) read semantics —
  the Mongo upsert (Doc.cc:79) becomes Iceberg MERGE at scale, or
  ``row_number() OVER (PARTITION BY url ORDER BY round DESC) = 1`` on read.

Execution: static inputs are prepared once per engine — each host's
robots rules and Crawl-delay for the engine's UA, the fetch table, and
the chain closure of the redirect edge table (every redirecting url
resolved to its effective url, hop count and failure code, by pointer
jumping in a fixed four joins: operators/redirects.py), so a round
resolves its chains with one left join. Within a round, each intermediate
with more than one consumer (the robots-gated schedule, the fetched +
extracted working set, links, the dedup frame, the new frontier rows)
executes exactly once behind a lazy local checkpoint.
The dedup frame is one pass over the link candidates and the redirect
targets that join the seen set: one frontier anti-join, one exact seen
anti-join, one host UDF; the new frontier rows and the seen extras are
both projections of it. The round's stats are observed on the commits
that write those frames (``pyspark.sql.Observation``), so no action
runs only to count, and the round releases every held frame before it
returns.

Checkpoint/resume: every table commit is an atomic snapshot (see
sources/catalog.py); the round counter lives in the frontier table's
snapshot metadata. Kill the driver between rounds and a new engine resumes
from the last committed round with identical results.

Scale notes (10^10 frontier, 1000 executors): frontier and seen are
hash-distributed by url; the frontier⋈pages join shuffles the round's
fetched urls into the fetch table's url partitioning (the cache spills
to disk when the corpus outgrows memory) and the extract UDF runs in
that partitioning; robots_rules and the Crawl-delay budgets broadcast;
per-partition lineage rows go to the metrics table every round.
"""

from __future__ import annotations

import functools
import math

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.robots import Robots, RuleType, robots_state_for
from ..functions.udfs import (
    EXTRACT_TYPE, URL_PARTS_TYPE, canon_path_series, extract_frame, url_parts_frame,
)
from ..operators.frontier import assign_seq, politeness_schedule
from ..operators.materialize import release
from ..operators.redirects import chain_closure, redirect_edges, resolve_redirect_chains
from ..operators.seen import BloomSeen, new_urls
from ..sources.catalog import Catalog
from ..streaming.seed_stream import parse_seed_lines

DEFAULT_UA = "mycelium web crawler - https://github.com/larroy/mycelium"  # crawler.cc:294
CONTENT_SIZE_LIMIT = 1 << 20  # crawler.cc:55


def gate_rules(robots: Robots, user_agent: str) -> list[tuple[bool, str]]:
    """The (allow, rule) pairs that decide every path of a host for
    ``user_agent``, in match order. A Crawl-delay rule is kept as a
    disallow whose rule is the delay value (Robots.cc:57-60)."""
    return [
        (rtype == RuleType.ALLOW, rule.decode("latin-1"))
        for rtype, rule in robots.ua_rules(user_agent)
    ]


def robots_allowed(rules, path, exact_match: bool):
    """Native gate over ``rules``, an array<struct<allow boolean, rule
    string>> of ``gate_rules`` pairs: the first rule matching ``path``
    decides, and no match (or null rules) means allowed. Exact mode
    compares the whole rule (Robots.cc:56); prefix mode skips empty
    rules."""

    def match(r):
        if exact_match:
            return r["rule"] == path
        return (r["rule"] != "") & path.startswith(r["rule"])

    return F.coalesce(F.get(F.filter(rules, match), 0)["allow"], F.lit(True))


def parse_robots_rows(pdf_iter, exact_match: bool, user_agent: str):
    """mapInPandas kernel: (host, status, robots_txt) → (host, rules,
    delay) for the hosts whose robots.txt is PRESENT and names rules or a
    Crawl-delay for ``user_agent``. Every other host is allowed
    everywhere with no delay ("tried_but_failed" ⇒ allowed,
    Robots.hh:189-192), so it needs no row. A delay that is not a
    positive finite number is no delay."""
    for pdf in pdf_iter:
        hosts, rules, delays = [], [], []
        for host, status, txt in zip(pdf["host"], pdf["status"], pdf["robots_txt"]):
            _, robots = robots_state_for(
                int(status), txt.encode() if isinstance(txt, str) else txt, exact_match
            )
            if robots is None:
                continue
            r = gate_rules(robots, user_agent)
            d = robots.crawl_delay(user_agent)
            d = d if d is not None and 0 < d < math.inf else None
            if r or d is not None:
                hosts.append(host)
                rules.append(r)
                delays.append(d)
        yield pd.DataFrame({"host": hosts, "rules": rules, "delay": delays}, dtype=object)


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed by the action that writes it:
    after that action, ``obs.get["rows"]`` is the number of rows written.
    The observation goes on top of the written plan: one under a join or
    union that adaptive execution prunes as empty reports nothing."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


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
        n_buckets: int = 32,  # unused; kept while perfbench/workloads.py passes it
        exact_robots: bool = True,
        enforce_crawl_delay: bool = False,
        round_period_sec: float = 5.0,
    ):
        self.spark = spark
        self.cat = Catalog(spark, workdir)
        self.pages = pages
        # Redirect support (crawler.cc:52,862-868,1094-1096): active iff the
        # pages table carries a ``redirect_to`` column (the Location header
        # of 3xx rows). Redirect rows are edges, not content — the content
        # join sees only non-redirecting rows. The edge table is static and
        # a chain is a function of its start url, so the chains of every
        # redirecting url (the closure) are resolved once per engine and
        # held behind the closure's checkpoint.
        if "redirect_to" in pages.columns:
            self.chains = chain_closure(redirect_edges(pages))
            self.content_pages = pages.filter(
                F.col("redirect_to").isNull()
            ).drop("redirect_to")
        else:
            self.chains = None
            self.content_pages = pages
        # The fetch table: what a round joins its fetched urls against,
        # hash-partitioned on url and cached, so each round shuffles only
        # its own urls into it instead of rescanning and reshuffling every
        # page's html. The cache is keyed by plan, so engines reopened on
        # the same pages table share one copy.
        self.fetch_pages = (
            self.content_pages.select(
                F.col("url").alias("_page_url"), "warc_ts", "lang", "html"
            )
            .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "_page_url")
            .cache()
        )
        self.fetch_pages.count()
        self.user_agent = user_agent
        self.per_host_budget = per_host_budget
        self.exact_robots = exact_robots
        # Crawl-delay enforcement is an EXTENSION (off by default): the
        # reference parses Crawl-delay but never enforces it (Robots.hh:48);
        # when on, a host declaring delay d gets per-round budget
        # min(per_host_budget, max(1, floor(round_period_sec / d))) — with
        # one round ≈ one scheduler tick (crawler.cc:335, 5000 ms).
        self.enforce_crawl_delay = enforce_crawl_delay
        self.round_period_sec = round_period_sec
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

    @functools.cached_property
    def bloom(self) -> BloomSeen:
        """A Bloom filter over the committed seen set, built on first
        access. No round reads it: exact dedup is a plain anti-join, and a
        Bloom prefilter (no false negatives) could never change its
        result. It is kept for ``perfbench/workloads.py``, which checks it
        for false negatives after the rounds."""
        bloom = BloomSeen()
        seen = self.cat.read("seen")
        if seen is not None:
            bloom.add_df(seen, "url")
        return bloom

    def _parse_robots(self, rows: DataFrame) -> DataFrame:
        """(host, status, robots_txt) → materialized (host, rules, delay)."""
        exact, ua = self.exact_robots, self.user_agent
        rules = rows.mapInPandas(
            lambda it: parse_robots_rows(it, exact, ua),
            "host string, rules array<struct<allow:boolean,rule:string>>, delay double",
        ).cache()
        rules.count()
        return rules

    # --- seeding (S1 ingest parity: absolute + http only, crawler.cc:1297) ---
    def seed(self, seed_rows: list[tuple[int, str]]) -> int:
        """seed_rows: (seq, url_raw). Returns number of accepted seeds."""
        raw = self.spark.createDataFrame(seed_rows, ["in_seq", "url_raw"])
        parsed = parse_seed_lines(raw, "url_raw")
        # classifier never dedups, but frontier-as-set does (engine semantics:
        # identical final docs, deduped fetches — documented divergence);
        # the first arrival of a url keeps its place
        fresh = new_urls(parsed, self.cat.read("seen"), None, "url")
        fresh = fresh.groupBy("url").agg(
            F.min(F.struct("in_seq", "host")).alias("a")
        ).select("url", "a.host", "a.in_seq")
        frontier = assign_seq(fresh, ["in_seq"], 0)
        out, obs = observe_rows(frontier.drop("in_seq"))
        try:
            self.cat.commit(
                "frontier", out, mode="overwrite",
                meta=lambda: {"round": 0, "next_seq": obs.get["rows"],
                              "rows": obs.get["rows"]},
            )
        finally:
            release(frontier)
        return obs.get["rows"]

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
        existing = self.cat.read("frontier")
        cand = parsed.select("url", "host").dropDuplicates(["url"])
        if existing is not None:
            cand = cand.join(existing.select("url"), "url", "left_anti")
        cand = new_urls(cand, self.cat.read("seen"), None, "url")
        fresh = assign_seq(cand, ["url"], next_seq)
        # the frontier's meta ``rows`` is its row count, so the rows added
        # are the observed total minus it
        n_old = int(meta.get("rows", 0))
        out, obs = observe_rows(fresh if existing is None else existing.unionByName(fresh))
        try:
            self.cat.commit(
                "frontier", out, mode="overwrite",
                meta=lambda: {"round": rnd, "next_seq": next_seq + obs.get["rows"] - n_old,
                              "rows": obs.get["rows"]},
            )
        finally:
            release(fresh)
        return obs.get["rows"] - n_old

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
        return self.add_seeds(parse_seed_lines(locs, "loc"))

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
        """``scheduled`` plus a boolean ``allowed`` column: the host's
        rules decide the url's path — path only, no query (crawler.cc:1041)."""
        if self.robots_rules is None:
            return scheduled.withColumn("allowed", F.lit(True))
        path_udf = F.pandas_udf(canon_path_series, "string")
        return (
            scheduled.join(F.broadcast(self.robots_rules.select("host", "rules")), "host", "left")
            .withColumn("_path", path_udf("url"))
            .withColumn("allowed", robots_allowed("rules", F.col("_path"), self.exact_robots))
            .drop("rules", "_path")
        )

    def _host_budgets(self, rnd: int) -> DataFrame:
        """(host, _budget) from the parsed Crawl-delay for our UA — only
        hosts that declare a delay appear (others default upstream).

        delay <= round_period: the host gets floor(period/delay) fetches
        per round (capped). delay > round_period: flooring at 1 would cap
        the effective delay at the round period (under-enforcement), so
        the host is instead scheduled only every ceil(delay/period)-th
        round — budget 1 when ``rnd % stride == 0``, else 0 (deferred)."""
        delay, period = F.col("delay"), F.lit(self.round_period_sec)
        budget = F.when(
            delay <= period,
            F.greatest(F.lit(1), F.least(F.lit(self.per_host_budget), F.floor(period / delay))),
        ).otherwise((F.lit(rnd) % F.ceil(delay / period) == 0).cast("int"))
        return self.robots_rules.filter(delay.isNotNull()).select(
            "host", budget.cast("int").alias("_budget")
        )

    def dedup_candidates(
        self, links: DataFrame, targets: DataFrame, frontier: DataFrame
    ) -> DataFrame:
        """The round's one dedup pass: (url, src_seq, pos, tgt, host) for
        every url that is a link (src, src_seq, pos, url) of this round or,
        with ``tgt`` true, in ``targets`` (url), minus the whole current
        frontier and the seen set. On ``tgt`` false rows, ``src_seq``/``pos``
        are the url's first arrival among the links.

        ``tgt`` false rows are the next frontier's new rows. A link to
        this round's redirect TARGET is already crawled — its content just
        landed under the requesting doc's eff_url — so a url in both sets
        is ``tgt`` true. The round passes as ``targets`` only the targets
        of chains that YIELDED content: a chain ending in a fetch-failure
        stub (curl 6/42) leaves its target fetchable and unseen, so a later
        direct link gets its own doc row (the reference stubs per
        requested URL).

        ``tgt`` true rows are the seen extras: BOTH ends of a followed
        chain enter seen, so a crawled redirect target is never refetched.
        The frontier anti-join covers the politeness-deferred rows too: a
        link to a url still queued is not queued twice, and a target still
        queued enters seen via the schedule when its turn comes, not twice.
        """
        cand = (
            links.select("url", "src_seq", "pos", F.lit(False).alias("tgt"))
            .unionByName(targets.withColumn("tgt", F.lit(True)), allowMissingColumns=True)
            .groupBy("url")
            .agg(F.min(F.struct("src_seq", "pos")).alias("arr"), F.max("tgt").alias("tgt"))
            .select("url", "arr.src_seq", "arr.pos", "tgt")
            .join(frontier.select("url"), "url", "left_anti")
        )
        parts_udf = F.pandas_udf(url_parts_frame, URL_PARTS_TYPE)
        return new_urls(cand, self.cat.read("seen"), None, "url").withColumn(
            "host", parts_udf("url").getField("host")
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
        frontier = self.cat.read("frontier")  # lazy: the manifest has the schema
        if frontier is None or meta.get("rows") == 0:
            return {"round": r, "scheduled": 0, "done": True}

        def hold(df: DataFrame) -> DataFrame:
            held.append(df.localCheckpoint(eager=False))
            return held[-1]

        frontier = hold(frontier)

        # 1. politeness budget (optionally Crawl-delay-scaled per host)
        if self.enforce_crawl_delay and self.robots_rules is not None:
            budgets = self._host_budgets(r)
            gated_frontier = frontier.join(F.broadcast(budgets), "host", "left").withColumn(
                "_budget", F.coalesce(F.col("_budget"), F.lit(self.per_host_budget))
            )
            scheduled, deferred = politeness_schedule(
                gated_frontier, self.per_host_budget, budget_col="_budget"
            )
        else:
            scheduled, deferred = politeness_schedule(frontier, self.per_host_budget)

        # 2. robots gate: the canon-path UDF runs once, behind the hold
        gated = hold(self._robots_gate(scheduled))

        # 3. "fetch": join against pages on normalized url; HEAD folds into
        # this join
        allowed = gated.filter(F.col("allowed")).drop("allowed")
        # 3a. redirect-chain resolution (crawler.cc:52,1094-1096): the
        # content lives at the chain's effective URL; cap/protocol
        # failures become curl-code stubs like every other fetch failure
        resolved = resolve_redirect_chains(allowed, self.chains)
        # 3b. the working set: one row per fetched url, content joined only
        # for chains that resolved; failed chains keep a null html
        pages = self.fetch_pages
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
        # the docs commit is the working set's first reader, so one stage
        # materializes it before links and the dedup pass read it from
        # concurrent tasks
        docs, docs_obs = observe_rows(docs)
        self.cat.commit("docs", docs, mode="append", meta={"round": r})

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

        # 6. one dedup pass: the next frontier rows (links) and the seen
        # extras (redirect targets) are both projections of one frame
        targets = extracted.filter(F.col("eff_url") != F.col("url")).select(
            F.col("eff_url").alias("url")
        )
        # held: the range exchange in assign_seq samples its input in a
        # job of its own, which would re-run the host UDF
        dedup = hold(self.dedup_candidates(links, targets, frontier))
        new_frontier = assign_seq(
            dedup.filter(~F.col("tgt")).select("url", "host", "src_seq", "pos"),
            ["src_seq", "pos", "url"], next_seq,
        )
        held.append(new_frontier)
        next_frontier, next_obs = observe_rows(
            deferred.select("url", "host", "seq").unionByName(
                new_frontier.drop("src_seq", "pos")
            )
        )

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
        # fetch) plus the seen extras of the dedup pass, whose ``allowed``
        # is null; the write observes the schedule's counts on top
        seen_obs = Observation()
        new_seen = (
            gated.select("url", "allowed")
            .unionByName(dedup.filter(F.col("tgt")).select("url"), allowMissingColumns=True)
            .observe(
                seen_obs,
                F.count("allowed").alias("scheduled"),
                F.count(F.when(~F.col("allowed"), 1)).alias("disallowed"),
            )
            .select("url")
        )

        # 9. commit (docs went first, above), frontier last: its meta
        # carries the round counter. The round's stats are observed on
        # these writes.
        links_out, links_obs = observe_rows(links.drop("src_seq"))
        self.cat.commit("links", links_out, mode="append", meta={"round": r})
        self.cat.commit("seen", new_seen, mode="append", meta={"round": r})
        self.cat.commit("metrics", part_metrics, mode="append", meta={"round": r})
        self.cat.commit(
            "frontier",
            next_frontier,
            mode="overwrite",
            meta=lambda: {
                "round": r + 1,
                "next_seq": next_seq + next_obs.get["rows"],
                "rows": next_obs.get["rows"],
            },
        )
        n_next = next_obs.get["rows"]
        return {
            "round": r,
            "scheduled": seen_obs.get["scheduled"],
            "disallowed": seen_obs.get["disallowed"],
            "docs": docs_obs.get["rows"],
            "links": links_obs.get["rows"],
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
