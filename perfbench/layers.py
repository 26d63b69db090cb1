"""The traced run: per-layer figures for each program layer.

Layer names are the program's module names. Three sources feed them:

* **wrappers** around the public functions each layer exports, installed
  from here at run time (the program's files are not touched). A wrapped
  call that returns a lazy DataFrame is measured in isolation: its
  DataFrame inputs are cached and counted first, off the layer's clock;
  then the call plus the count of its cached output is the layer's time.
  Caching changes how much a traced round recomputes, so traced
  end-to-end figures (``trace.*``) differ from untraced ones; the
  difference is the tracing overhead.
* **Spark's event log** (uncompressed, one job group per operation):
  jobs, stages, tasks, executor busy time, shuffle-write and spill bytes.
* **in-process kernel runs** on a fixed sample of synthetic pages, the same
  in every workload (lexer, extract batch assembly, URL, robots kernels).

Every traced run prints every metric below. A layer the workload does not
exercise reports 0.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from harness import median, sum_groups
from workloads import SUITE

# name: (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    # plans.crawl / plans.entries / the extract pass — whichever the
    # workload runs; from the event log, per timed operation
    "plan.jobs_per_op": ("count", "lower", "pass_s on every workload"),
    "plan.stages_per_op": ("count", "lower", "pass_s on every workload"),
    "plan.tasks_per_op": ("count", "lower", "pass_s on every workload"),
    "plan.executor_busy_ratio": ("ratio", "higher", "pass_s on every workload"),
    "plan.shuffle_write_mb_per_op": ("MB", "lower", "pass_s on crawl_resume, operator_suite"),
    "plan.spill_mb_per_op": ("MB", "lower", "pass_s on crawl_resume, operator_suite"),
    "crawl.docs_per_round": ("count", "higher", "items_per_s on crawl_resume"),
    "crawl.links_per_round": ("count", "higher", "pass_s on crawl_resume"),
    # sources.catalog
    "catalog.commit_s.docs": ("s", "lower", "pass_s on crawl_resume, extract_archive"),
    "catalog.commit_s.links": ("s", "lower", "pass_s on crawl_resume, extract_archive"),
    "catalog.commit_s.seen": ("s", "lower", "pass_s on crawl_resume"),
    "catalog.commit_s.metrics": ("s", "lower", "pass_s on crawl_resume"),
    "catalog.commit_s.frontier": ("s", "lower", "pass_s on crawl_resume"),
    "catalog.files_per_op": ("count", "lower", "pass_s on crawl_resume, extract_archive"),
    "catalog.mb_written_per_op": ("MB", "lower", "pass_s on crawl_resume, extract_archive"),
    # operators.frontier
    "frontier.schedule_s": ("s", "lower", "pass_s on crawl_resume"),
    "frontier.backlog_rows": ("count", "lower", "pass_s on crawl_resume"),
    "frontier.deferred_ratio": ("ratio", "lower", "pass_s on crawl_resume"),
    "frontier.assign_seq_s": ("s", "lower", "pass_s on crawl_resume"),
    # operators.seen
    "seen.bloom_build_s": ("s", "lower", "resume_s (reported line) on crawl_resume"),
    "seen.bloom_add_s": ("s", "lower", "pass_s on crawl_resume"),
    "seen.dedup_s": ("s", "lower", "pass_s on crawl_resume"),
    "seen.candidates": ("count", "lower", "pass_s on crawl_resume"),
    "seen.maybe_seen_ratio": ("ratio", "lower", "pass_s on crawl_resume"),
    "seen.fp_rate": ("ratio", "lower", "pass_s on crawl_resume"),
    "seen.bits_per_key": ("bits", "higher", "pass_s on crawl_resume"),
    # operators.redirects
    "redirects.resolve_s": ("s", "lower", "pass_s on crawl_resume"),
    "redirects.hops_followed": ("count", "lower", "pass_s on crawl_resume"),
    "redirects.failed": ("count", "lower", "pass_s on crawl_resume"),
    # functions.robots
    "robots.parse_s": ("s", "lower", "pass_s on crawl_resume"),
    "robots.check_us": ("us", "lower", "pass_s on crawl_resume"),
    "robots.disallowed_ratio": ("ratio", "lower", "pass_s on crawl_resume"),
    # functions.url
    "url.normalize_us": ("us", "lower", "pass_s on crawl_resume"),
    "url.parts_us": ("us", "lower", "pass_s on crawl_resume"),
    "url.fast_path_ratio": ("ratio", "higher", "pass_s on crawl_resume"),
    # functions.lexer / functions.clexer
    "lexer.kernel_pages_per_s_core": ("pages/s", "higher", "items_per_s on extract_archive; setup_s"),
    "lexer.c_kernel_driver": ("flag", "higher", "items_per_s on extract_archive; setup_s"),
    "lexer.c_kernel_worker": ("flag", "higher", "items_per_s on extract_archive"),
    # functions.udfs (extract)
    "extract.frame_pages_per_s_core": ("pages/s", "higher", "items_per_s on extract_archive"),
    "extract.spark_pages_per_s_core": ("pages/s", "higher", "items_per_s on extract_archive"),
    "extract.assembly_share": ("ratio", "lower", "items_per_s on extract_archive"),
    "extract.transfer_share": ("ratio", "lower", "items_per_s on extract_archive"),
    # plans.entries
    "entries.first_touch_s": ("s", "lower", "setup_s on operator_suite"),
    **{
        f"entries.query_s.{q}": ("s", "lower", "pass_s on operator_suite")
        for q in SUITE
    },
    # the traced run's own end-to-end figures (overhead = these − untraced)
    "trace.setup_s": ("s", "lower", "tracing overhead vs setup_s"),
    "trace.pass_s": ("s", "lower", "tracing overhead vs pass_s"),
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.in_op = False
        self._building = False
        self._op: dict[str, float] = defaultdict(float)  # sums within one op
        self.per_op: dict[str, list[float]] = defaultdict(list)
        self.once: dict[str, float] = {}
        self._held: list = []
        self._undo: list = []
        self.link_urls: list[str] | None = None  # a crawl round's link urls

    # -- helpers ------------------------------------------------------------
    def _count(self, df, group: str) -> int:
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id") or "-"
        sc.setJobGroup(group, group)
        try:
            return df.count()
        finally:
            sc.setJobGroup(prev, prev)

    def _hold(self, df):
        df = df.cache()
        self._held.append(df)
        return df

    def _prime(self, args):
        from pyspark.sql import DataFrame

        out = []
        for a in args:
            if isinstance(a, DataFrame):
                a = self._hold(a)
                self._count(a, "trace:prime")
            out.append(a)
        return out

    def _isolated(self, name, fn, args, kwargs, prime=None):
        """Prime DataFrame inputs (all, or the positions in ``prime``), then
        time the call plus the count of its cached output."""
        if prime is None:
            args = self._prime(args)
        else:
            args = list(args)
            for i in prime:
                args[i] = self._prime([args[i]])[0]
        t = time.perf_counter()
        out = self._hold(fn(*args, **kwargs))
        n = self._count(out, f"trace:{name}")
        self._op[name] += time.perf_counter() - t
        return out, n, args

    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    # -- install ------------------------------------------------------------
    def install(self) -> None:
        from pyspark.sql import functions as F

        from mycelium_spark.operators.seen import BloomSeen
        from mycelium_spark.plans import crawl as crawl_mod
        from mycelium_spark.sources.catalog import Catalog

        tr = self

        def schedule(orig):
            def wrapped(*a, **k):
                if not tr.in_op:
                    return orig(*a, **k)
                a = tr._prime(a)
                t = time.perf_counter()
                sch, dfr = orig(*a, **k)
                sch = tr._hold(sch)
                n_s = tr._count(sch, "trace:frontier")
                tr._op["frontier.schedule_s"] += time.perf_counter() - t
                n_d = tr._count(dfr, "trace:frontier")
                tr._op["frontier.backlog_rows"] += n_s + n_d
                tr._op["frontier.deferred_ratio"] += n_d / max(n_s + n_d, 1)
                return sch, dfr
            return wrapped

        def resolve(orig):
            def wrapped(*a, **k):
                if not tr.in_op:
                    return orig(*a, **k)
                out, _, _ = tr._isolated("redirects.resolve_s", orig, a, k)
                hops, failed = out.agg(
                    F.sum(F.when(F.col("redirect_code") == 0, F.col("hops"))),
                    F.sum((F.col("redirect_code") != 0).cast("int")),
                ).first()
                tr._op["redirects.hops_followed"] += hops or 0
                tr._op["redirects.failed"] += failed or 0
                return out
            return wrapped

        def dedup(orig):
            def wrapped(cand, seen, bloom, url_col="url", *a, **k):
                if not tr.in_op:
                    return orig(cand, seen, bloom, url_col, *a, **k)
                out, n_new, args = tr._isolated(
                    "seen.dedup_s", orig, (cand, seen, bloom, url_col) + a, k, prime=[0]
                )
                cand = args[0]
                n_cand = tr._count(cand, "trace:seen")
                tr._op["seen.candidates"] += n_cand
                if bloom is not None and seen is not None:
                    maybe = tr._count(
                        bloom.prefilter(cand, url_col).filter(F.col("maybe_seen")),
                        "trace:seen",
                    )
                    tr._op["seen.maybe"] += maybe
                    tr._op["seen.fp"] += maybe - (n_cand - n_new)
                    tr._op["seen.truly_new"] += n_new
                return out
            return wrapped

        def assign(orig):
            def wrapped(*a, **k):
                if not tr.in_op:
                    return orig(*a, **k)
                out, _, _ = tr._isolated("frontier.assign_seq_s", orig, a, k)
                return out
            return wrapped

        def add_df(orig):
            def wrapped(bloom, *a, **k):
                t = time.perf_counter()
                try:
                    return orig(bloom, *a, **k)
                finally:
                    if tr._building:
                        tr.once["seen.bloom_build_s"] = time.perf_counter() - t
                    elif tr.in_op:
                        tr._op["seen.bloom_add_s"] += time.perf_counter() - t
                    tr.once["seen.num_bits"] = bloom.num_bits * bloom.n_shards
            return wrapped

        def commit(orig):
            def wrapped(cat, table, df, *a, **k):
                t = time.perf_counter()
                snap = orig(cat, table, df, *a, **k)
                if tr.in_op:
                    tr._op[f"catalog.commit_s.{table}"] += time.perf_counter() - t
                    files = nbytes = 0
                    for dirpath, _, names in os.walk(os.path.join(cat.root, table, f"s{snap}")):
                        for nm in names:
                            if not nm.startswith((".", "_")):
                                files += 1
                                nbytes += os.path.getsize(os.path.join(dirpath, nm))
                    tr._op["catalog.files_per_op"] += files
                    tr._op["catalog.mb_written_per_op"] += nbytes / 1e6
                return snap
            return wrapped

        def engine_init(orig):
            def wrapped(*a, **k):
                tr._building = True
                try:
                    return orig(*a, **k)
                finally:
                    tr._building = False
            return wrapped

        self._patch(crawl_mod, "politeness_schedule", schedule)
        self._patch(crawl_mod, "resolve_redirect_chains", resolve)
        self._patch(crawl_mod, "new_urls", dedup)
        self._patch(crawl_mod, "assign_seq", assign)
        self._patch(BloomSeen, "add_df", add_df)
        self._patch(Catalog, "commit", commit)
        self._patch(crawl_mod.CrawlEngine, "__init__", engine_init)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def end_op(self) -> None:
        """Close one operation: fold its sums and drop what was cached."""
        for k, v in self._op.items():
            self.per_op[k].append(v)
        self._op = defaultdict(float)
        for df in self._held:
            df.unpersist()
        self._held.clear()

    # -- workload summaries (off the clock) ---------------------------------
    def crawl_summary(self, eng, stats, n_seen) -> None:
        rounds = [s for s in stats if "docs" in s]
        self.once["crawl.docs_per_round"] = median([s["docs"] for s in rounds])
        self.once["crawl.links_per_round"] = median([s["links"] for s in rounds])
        sched = sum(s["scheduled"] for s in rounds)
        self.once["robots.disallowed_ratio"] = (
            sum(s["disallowed"] for s in rounds) / sched if sched else 0.0
        )
        if "seen.num_bits" in self.once and n_seen:
            self.once["seen.bits_per_key"] = self.once["seen.num_bits"] / n_seen
        links = eng.cat.read("links")
        if links is not None:
            self.link_urls = [r[0] for r in links.select("url").limit(5000).collect()]

    def extract_summary(self, n_pages: int) -> None:
        self.once["extract.pages_per_pass"] = n_pages

    def entries_summary(self, first_touch: float, per_query: dict) -> None:
        self.once["entries.first_touch_s"] = first_touch
        for q, seconds in per_query.items():
            self.once[f"entries.query_s.{q}"] = seconds

    # -- final assembly -----------------------------------------------------
    def finish(self, groups, ops, cores: int, kernels: dict, c_flags, trace_e2e) -> dict:
        n_ops = max(len(ops), 1)
        g = sum_groups(groups, "op:")
        wall = sum(o.seconds for o in ops)
        m = {k: 0.0 for k in PER_LAYER}
        m.update({k: v for k, v in kernels.items() if k in m})
        m["plan.jobs_per_op"] = g.jobs / n_ops
        m["plan.stages_per_op"] = g.stages / n_ops
        m["plan.tasks_per_op"] = g.tasks / n_ops
        m["plan.executor_busy_ratio"] = (
            g.executor_run_ms / 1000 / (wall * cores) if wall else 0.0
        )
        m["plan.shuffle_write_mb_per_op"] = g.shuffle_write_bytes / 1e6 / n_ops
        m["plan.spill_mb_per_op"] = g.spill_bytes / 1e6 / n_ops
        for k, vals in self.per_op.items():
            if k in m:
                m[k] = median(vals)
        sums = {k: sum(v) for k, v in self.per_op.items()}
        if sums.get("seen.candidates"):
            m["seen.maybe_seen_ratio"] = sums.get("seen.maybe", 0) / sums["seen.candidates"]
        if sums.get("seen.truly_new"):
            m["seen.fp_rate"] = max(sums.get("seen.fp", 0), 0) / sums["seen.truly_new"]
        for k, v in self.once.items():
            if k in m:
                m[k] = v
        m["lexer.c_kernel_driver"] = float(c_flags[0])
        m["lexer.c_kernel_worker"] = float(c_flags[1])
        per_pass = self.once.get("extract.pages_per_pass")
        if per_pass and g.executor_run_ms:
            core_s_per_pass = g.executor_run_ms / 1000 / n_ops
            m["extract.spark_pages_per_s_core"] = per_pass / core_s_per_pass
            in_process = per_pass / kernels["extract.frame_pages_per_s_core"]
            m["extract.transfer_share"] = max(0.0, 1 - in_process / core_s_per_pass)
        m.update(trace_e2e)
        return m


# ---------------------------------------------------------------------------
# in-process kernel runs
# ---------------------------------------------------------------------------

def _rate(fn, n_items: int, min_s: float = 0.3) -> float:
    """Items per second of ``fn`` (which processes ``n_items``), repeated
    until ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return reps * n_items / dt


def kernel_runs(link_urls: list[str] | None = None, n_pages: int = 300) -> dict:
    import pandas as pd

    from mycelium_spark.functions import udfs
    from mycelium_spark.functions.lexer import html_lex
    from mycelium_spark.functions.robots import RobotsState, robots_state_for
    from mycelium_spark.functions.url import Url
    from mycelium_spark.sources import synth

    corpus = 20000
    htmls = [synth.page_html(i, corpus, extra_paras=8) for i in range(n_pages)]
    urls = [synth.url_of(i) for i in range(n_pages)]
    out = {}
    lex_rate = _rate(lambda: [html_lex(h, u) for h, u in zip(htmls, urls)], n_pages)
    hs, us = pd.Series(htmls), pd.Series(urls)
    frame_rate = _rate(lambda: udfs.extract_frame(hs, us), n_pages)
    out["lexer.kernel_pages_per_s_core"] = lex_rate
    out["extract.frame_pages_per_s_core"] = frame_rate
    out["extract.assembly_share"] = max(0.0, 1 - frame_rate / lex_rate)

    if not link_urls:
        link_urls = [
            u.decode("utf-8", "replace")
            for h, b in zip(htmls, urls) for u, _ in html_lex(h, b).links
        ]
    links = pd.Series(link_urls, dtype="object")
    out["url.normalize_us"] = 1e6 / _rate(lambda: udfs.normalize_url_series(links), len(links))
    out["url.parts_us"] = 1e6 / _rate(lambda: udfs.url_parts_frame(links), len(links))
    fast = links.str.fullmatch(udfs._FAST_RE, na=False) & ~links.str.contains(
        udfs._DOTSEG, regex=True, na=False
    )
    out["url.fast_path_ratio"] = float(fast.mean())

    bodies = [(st, txt) for _, st, txt in synth.robots_fixtures(corpus)]
    t = time.perf_counter()
    parsed = [robots_state_for(st, txt, False) for st, txt in bodies]
    out["robots.parse_s"] = time.perf_counter() - t
    present = [r for s, r in parsed if s == RobotsState.PRESENT and r is not None]
    paths = []
    for u in link_urls[:2000]:
        try:
            paths.append(Url(u).path())
        except ValueError:
            pass
    ua = "mycelium web crawler - https://github.com/larroy/mycelium"
    checks = [0]

    def check_all():
        allowed = 0
        for r in present:
            for p in paths:
                allowed += r.path_allowed(ua, p)
        checks[0] = allowed
    n_checks = max(len(present) * len(paths), 1)
    out["robots.check_us"] = 1e6 / _rate(check_all, n_checks)
    out["robots.disallowed_ratio"] = 1 - checks[0] / n_checks
    return out
