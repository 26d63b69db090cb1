"""The benchmark workloads. Each runs one closed loop — one Spark driver,
one action chain at a time — and returns its timed operations plus the
workload's own named figures.

An *operation* is the unit that is timed and checked: one crawl round,
one extract pass, or one query. An operation fails when it raises or when
an output check on it fails.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from harness import median

# Sizes per workload. "full" is what BENCHMARK.json describes; "toy" is the
# smoke-test size (seconds, not minutes).
SIZES = {
    "crawl_resume": {
        "full": {"n_pages": 20000, "n_seeds": 5000, "n_gone": 16000, "budget": 8,
                 "extra_paras": 8},
        "toy": {"n_pages": 400, "n_seeds": 100, "n_gone": 300, "budget": 4,
                "extra_paras": 1},
    },
    "extract_archive": {
        "full": {"n_pages": 16000, "extra_paras": 8},
        "toy": {"n_pages": 300, "extra_paras": 1},
    },
    "operator_suite": {
        "full": {"scale": 10},
        "toy": {"scale": 1},
    },
}

# The crawl-engine section of the __spark_entry__ query registry (the
# first block of plans/entries.py): the paper's frontier/seen/robots/
# extract operators mapped onto the query tables. The whole registry (87 queries,
# ~70 s warm on 4 cores) does not fit one benchmark run; the section's
# last entry, redirect_resolve (~3 s, half a pass), is left to the crawl
# workload, whose rounds resolve redirect chains with the same operator.
SUITE = (
    "politeness_budget", "host_grouping", "seen_anti_join", "overflow_order_topk",
    "round_metrics_agg", "url_normalize", "html_extract_text", "robots_gate_prefix",
    "headers_parse", "merge_ref",
)


@dataclass
class Op:
    kind: str
    seconds: float
    items: int = 0  # pages extracted (crawl, extract) or 1 per query
    ok: bool = True
    error: str | None = None
    looped: bool = True  # part of the timed loop (False: a one-off check op)


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    named: dict = field(default_factory=dict)  # workload-specific figures
    notes: list[str] = field(default_factory=list)


class Ctx:
    """What a workload gets from the runner."""

    def __init__(self, spark, work, seed, seconds, size, tracer, setup_done, cores):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer
        self.setup_done = setup_done  # call once, right before the first timed op
        self.cores = cores
        self.outcome = Outcome()

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def timed(self, kind: str, fn, looped: bool = True):
        """Run one operation under its own job group; a raise fails it."""
        i = len(self.outcome.ops)
        self.group(f"op:{i}")
        if self.tracer:
            self.tracer.in_op = True
        t = time.perf_counter()
        try:
            result = fn()
            op = Op(kind, time.perf_counter() - t, looped=looped)
        except Exception as e:  # the op failed; the run reports it and goes on
            result = None
            op = Op(kind, time.perf_counter() - t, ok=False, error=repr(e)[:500],
                    looped=looped)
        finally:
            if self.tracer:
                self.tracer.in_op = False
                self.tracer.end_op()
            self.group("check")
        self.outcome.ops.append(op)
        return op, result


def _digest_check(ctx: Ctx, key: str, digest: list) -> list[int]:
    """Per-operation count digests must repeat across runs of one seed.
    Digests persist in the work root; returns indices that disagree."""
    path = os.path.join(os.path.dirname(ctx.work), "digests.json")
    try:
        with open(path) as f:
            store = json.load(f)
    except (OSError, ValueError):
        store = {}
    prev = store.get(key, [])
    bad = [i for i, (a, b) in enumerate(zip(prev, digest)) if a != b]
    if len(digest) > len(prev):
        store[key] = digest
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(store, f)
        os.replace(tmp, path)
    return bad


# ---------------------------------------------------------------------------
# crawl_resume
# ---------------------------------------------------------------------------

def crawl_resume(ctx: Ctx) -> Outcome:
    from mycelium_spark.plans.crawl import CrawlEngine
    from mycelium_spark.sources import synth

    spark, sz, out = ctx.spark, ctx.size, ctx.outcome
    n = sz["n_pages"]
    ctx.group("setup")
    synth.pages_df(
        spark, n, ctx.cores, extra_paras=sz["extra_paras"], with_redirects=True
    ).write.parquet(ctx.path("pages"))
    pages = spark.read.parquet(ctx.path("pages"))
    robots = spark.createDataFrame(
        synth.robots_fixtures(n), "host string, status int, robots_txt string"
    ).cache()
    robots.count()

    def engine():
        return CrawlEngine(
            spark, ctx.path("crawl"), pages, robots,
            per_host_budget=sz["budget"], exact_robots=False,
            n_buckets=2 * ctx.cores,
        )

    # a mature state: the seen set committed first, then the seed list
    # ingested on top of it (the frontier backlog)
    seed_rows, seen_urls = inputs.crawl_state(ctx.seed, n, sz["n_seeds"], sz["n_gone"])
    eng = engine()
    eng.cat.commit(
        "seen", spark.createDataFrame([(u,) for u in seen_urls], "url string"),
        mode="append", meta={"round": 0},
    )
    accepted = eng.seed(seed_rows)
    del eng
    ctx.setup_done()

    # the timed part: reopen the engine on the committed catalog (Bloom
    # rebuilt from seen), then rounds until the time is up
    op, eng = ctx.timed("resume", engine, looped=False)
    if eng is None:
        return out
    stats: list[dict] = []
    t0 = time.perf_counter()
    while True:
        op, s = ctx.timed("round", eng.run_round)
        if s is not None:
            stats.append(s)
        if not op.ok or s.get("done") or time.perf_counter() - t0 >= ctx.seconds:
            break

    # -- off the clock: per-round HTTP-200 docs and the text identity check
    rounds = [op for op in out.ops if op.kind == "round"]
    docs = eng.cat.read("docs")
    ok200 = docs.filter((F.col("http_code") == 200) & (F.col("curl_code") == 0))
    per_round = dict(ok200.groupBy("round").count().collect())
    expected = pages.filter(F.col("text").isNotNull()).select(
        F.col("url").alias("_src"), F.col("text").alias("_expected")
    )
    bad = dict(
        ok200.join(expected, F.coalesce("eff_url", "url") == F.col("_src"), "left")
        .filter(~F.col("text").eqNullSafe(F.col("_expected")))
        .groupBy("round").count().collect()
    )
    for s, op in zip(stats, rounds):
        op.items = int(per_round.get(s["round"], 0))
        if bad.get(s["round"]):
            op.ok, op.error = False, f"{bad[s['round']]} docs differ from pages.text"

    # seen has unique urls; frontier and seen are disjoint
    seen = eng.cat.read("seen")
    n_seen = seen.count()
    dup_seen = n_seen - seen.select("url").distinct().count()
    frontier = eng.cat.read("frontier")
    overlap = frontier.join(seen, "url", "left_semi").count() if frontier is not None else 0
    if (dup_seen or overlap) and rounds:
        rounds[-1].ok = False
        rounds[-1].error = f"seen duplicates={dup_seen}, frontier∩seen={overlap}"

    digest = [[s.get(k, 0) for k in ("scheduled", "docs", "links", "next_frontier")]
              for s in stats]
    key = f"crawl_resume:{ctx.seed}:{json.dumps(sz, sort_keys=True)}"
    for i in _digest_check(ctx, key, digest):
        rounds[i].ok, rounds[i].error = False, "count digest differs from an earlier run"

    # the rebuilt Bloom filter has no false negatives
    resume = out.ops[0]
    misses = eng.bloom.prefilter(seen).filter(~F.col("maybe_seen")).count()
    if misses:
        resume.ok, resume.error = False, f"rebuilt Bloom misses {misses} seen urls"
    if ctx.tracer:
        ctx.tracer.crawl_summary(eng, stats, n_seen)

    timed = sum(o.seconds for o in rounds)
    out.named.update(
        {
            "pages_per_s": sum(o.items for o in rounds) / timed if timed else 0.0,
            "round_s_p50": median([o.seconds for o in rounds]),
            "round_samples": len(rounds),
            "resume_s": resume.seconds,
            "seeds_accepted": accepted,
            "seen_rows": n_seen,
            "round_stats": stats,
        }
    )
    return out


# ---------------------------------------------------------------------------
# extract_archive
# ---------------------------------------------------------------------------

_DOC_FIELDS = ("text", "title", "charset", "rss", "rss2", "atom",
               "meta_index", "meta_follow", "n_warnings")


def extract_archive(ctx: Ctx) -> Outcome:
    from mycelium_spark.functions.udfs import EXTRACT_TYPE, extract_frame
    from mycelium_spark.sources import synth
    from mycelium_spark.sources.catalog import Catalog

    spark, sz, out = ctx.spark, ctx.size, ctx.outcome
    n = sz["n_pages"]
    ctx.group("setup")
    # the stored pages table, in the input_hint schema, in seeded row order
    (
        synth.pages_df(spark, n, ctx.cores, extra_paras=sz["extra_paras"])
        .orderBy(F.xxhash64(F.lit(ctx.seed), "url"))
        .write.parquet(ctx.path("pages"))
    )
    stored = spark.read.parquet(ctx.path("pages"))
    expected = stored.select("url", F.col("text").alias("_expected"))
    cat = Catalog(spark, ctx.path("archive"))
    extract_udf = F.pandas_udf(extract_frame, EXTRACT_TYPE)

    def one_pass():
        ex = stored.select(
            "url", F.octet_length("html").alias("html_len"),
            extract_udf("html", "url").alias("ex"),
        ).cache()
        docs = ex.select("url", "html_len", *[F.col(f"ex.{c}").alias(c) for c in _DOC_FIELDS])
        links = (
            ex.select(F.col("url").alias("src"), F.posexplode("ex.links").alias("pos", "l"))
            .select("src", "pos", F.col("l.url").alias("url"), F.col("l.txt").alias("txt"))
            .filter(F.col("url").startswith("http:"))
        )
        cat.commit("docs", docs, mode="overwrite")
        cat.commit("links", links, mode="overwrite")
        ex.unpersist()

    one_pass()  # warm-up, untimed: Python workers, JIT, the page cache
    ctx.setup_done()
    t0 = time.perf_counter()
    while True:
        op, _ = ctx.timed("pass", one_pass)
        if op.ok:
            # off the clock: every text byte-identical to pages.text
            got = cat.read("docs")
            j = got.join(expected, "url", "full_outer")
            n_docs, n_bad = j.agg(
                F.count("text"),
                F.sum((~F.col("text").eqNullSafe(F.col("_expected"))).cast("int")),
            ).first()
            op.items = int(n_docs)
            if n_bad or n_docs != n:
                op.ok, op.error = False, f"{n_bad} texts differ; {n_docs}/{n} docs"
            cat.expire_snapshots("docs", keep=1)
            cat.expire_snapshots("links", keep=1)
        if not op.ok or time.perf_counter() - t0 >= ctx.seconds:
            break
    if ctx.tracer:
        ctx.tracer.extract_summary(n)
    passes = out.ops
    timed = sum(o.seconds for o in passes)
    out.named.update(
        {
            "pages_per_s": sum(o.items for o in passes) / timed if timed else 0.0,
            "pass_s_p50": median([o.seconds for o in passes]),
            "pass_samples": len(passes),
        }
    )
    return out


# ---------------------------------------------------------------------------
# operator_suite
# ---------------------------------------------------------------------------

def _oracle_rows(sf_dir: str, names) -> dict[str, int | None]:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in inputs.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {
            n: (len(con.sql(oracles[n]).fetchall()) if n in oracles else None)
            for n in names
        }
    finally:
        con.close()


def operator_suite(ctx: Ctx) -> Outcome:
    from pyspark.sql import Observation

    import __spark_entry__ as entry
    from mycelium_spark.plans import entries

    spark, out = ctx.spark, ctx.outcome
    sf_dir = ctx.path("sf")
    ctx.group("setup")
    inputs.write_query_tables(ctx.seed, sf_dir, ctx.size["scale"])
    queries = entry.queries()
    order = list(SUITE)
    random.Random(ctx.seed).shuffle(order)

    def run_query(name):
        obs = Observation()
        df = queries[name](spark, sf_dir)
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        return int(obs.get["rows"])

    # warm-up, untimed: build every fixture relation once (the _read memo),
    # then one pass over the suite
    first_touch = 0.0
    for t in inputs.TABLES:
        s = time.perf_counter()
        entries._read(spark, sf_dir, t)
        first_touch += time.perf_counter() - s
    for name in order:
        try:
            run_query(name)
        except Exception as e:  # the timed runs of the query report it
            out.notes.append(f"warm-up {name}: {e!r}"[:300])
    ctx.setup_done()

    rows: list[tuple[Op, str, int | None]] = []
    t0 = time.perf_counter()
    while True:
        for name in order:
            op, n = ctx.timed(name, lambda: run_query(name))
            op.items = 1 if op.ok else 0
            rows.append((op, name, n))
        if time.perf_counter() - t0 >= ctx.seconds:
            break

    # off the clock: each query's row count equals its DuckDB twin
    oracle = _oracle_rows(sf_dir, order)
    for op, name, n in rows:
        if op.ok and oracle[name] is not None and n != oracle[name]:
            op.ok, op.error = False, f"{name}: rows {n} != oracle {oracle[name]}"
    per_query = {
        name: median([op.seconds for op, q, _ in rows if q == name]) for name in order
    }
    if ctx.tracer:
        ctx.tracer.entries_summary(first_touch, per_query)
    out.named.update(
        {
            "queries_s": sum(per_query.values()),
            "query_s_p50": median([op.seconds for op, _, _ in rows]),
            "query_samples": len(rows),
            "first_touch_s": first_touch,
            "per_query_s": per_query,
            "oracle_rows": oracle,
        }
    )
    return out


WORKLOADS = {
    "crawl_resume": crawl_resume,
    "extract_archive": extract_archive,
    "operator_suite": operator_suite,
}
