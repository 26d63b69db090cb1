"""Seconds and Spark jobs per action of crawl rounds on the seeded
``crawl_resume`` inputs of the benchmark (``perfbench/``).

    python scripts/round_actions.py --seed 1 --rounds 3 [--size full|toy]

Run from the root of a checkout. The script builds the workload's state
the way ``perfbench/workloads.py`` does: synth pages with redirects and
prefix robots, the committed seen set, and the messy seed list ingested
through ``CrawlEngine.seed``. It then reopens the engine on that catalog
and runs the rounds, untraced, in one local Spark session with the
benchmark's settings (``local[<nproc>]``).

Every Spark action the engine issues while it reopens and while a round
runs is attributed to the line of ``plans/crawl.py`` that issued it:
barrier creation (``localCheckpoint``, whose plan's shuffle stages run
when it is created under adaptive execution), aggregates (``first``,
``count``, ``collect``), ``assign_seq``, ``chain_closure`` (the round's
chain lookup runs no action of its own) and ``Catalog.commit`` (whose
writes also yield the round's stats, observed on the written rows).
Actions nested inside one of these count towards the outer one. Each
gets its own job group, so its jobs are counted from Spark's status
tracker; jobs that no wrapped action issued are listed as ``(other)``.
Per phase, the table lists the actions in execution order with their
wall seconds and job counts, then the phase's totals.
"""

from __future__ import annotations

import argparse
import functools
import linecache
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

CRAWL_PY = os.path.join("plans", "crawl.py")


class ActionLog:
    """Wraps the engine's Spark actions; one job group per outermost call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.rows: list[tuple[str, float, str]] = []  # (label, seconds, group)
        self.depth = 0
        self.phase_group = "-"
        self._n = 0
        self._undo: list = []

    def _site(self) -> str:
        # the first engine frame, skipping the round's ``hold`` helper
        f = sys._getframe(2)
        while f is not None and (
            not f.f_code.co_filename.endswith(CRAWL_PY) or f.f_code.co_name == "hold"
        ):
            f = f.f_back
        if f is None:
            return "?"
        src = linecache.getline(f.f_code.co_filename, f.f_lineno).strip()
        return f"crawl.py:{f.f_lineno} {src[:48]}"

    def wrap(self, owner, attr: str, kind: str | None = None) -> None:
        orig = getattr(owner, attr)
        log = self

        @functools.wraps(orig)
        def wrapped(*a, **k):
            if log.depth:
                return orig(*a, **k)
            log._n += 1
            group = f"action-{log._n}"
            label = f"{log._site()}  [{kind or attr}]"
            log.sc.setJobGroup(group, label)
            log.depth += 1
            t = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                log.depth -= 1
                log.rows.append((label, time.perf_counter() - t, group))
                log.sc.setJobGroup(log.phase_group, log.phase_group)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def jobs(self, group: str) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def phase(self, name: str, fn):
        """Run ``fn`` as one phase and print its per-action table."""
        self.rows.clear()
        self.phase_group = f"phase-{name}"
        self.sc.setJobGroup(self.phase_group, self.phase_group)
        t = time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._print(name, wall)

    def _print(self, name: str, wall: float) -> None:
        print(f"\n== {name}: {wall:.2f} s")
        print(f"{'s':>7} {'jobs':>5}  action")
        total = 0
        for label, seconds, group in self.rows:
            n = self.jobs(group)
            total += n
            print(f"{seconds:7.2f} {n:5d}  {label}")
        other = self.jobs(self.phase_group)
        total += other
        if other:
            print(f"{'':7} {other:5d}  (other)")
        print(f"{wall:7.2f} {total:5d}  total")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="round_actions_")
    os.environ.setdefault("TMPDIR", work)
    import harness
    import inputs
    from workloads import SIZES

    cores = os.cpu_count() or 1
    spark = harness.spark_session(work, cores, None)
    try:
        import __spark_entry__ as entry
        from mycelium_spark.plans import crawl
        from mycelium_spark.sources import synth
        from mycelium_spark.sources.catalog import Catalog

        entry._ensure_workers_have_package(spark)
        sz = SIZES["crawl_resume"][args.size]
        n = sz["n_pages"]
        path = os.path.join(work, "pages")
        synth.pages_df(
            spark, n, cores, extra_paras=sz["extra_paras"], with_redirects=True
        ).write.parquet(path)
        pages = spark.read.parquet(path)
        robots = spark.createDataFrame(
            synth.robots_fixtures(n), "host string, status int, robots_txt string"
        ).cache()
        robots.count()

        def engine():
            return crawl.CrawlEngine(
                spark, os.path.join(work, "crawl"), pages, robots,
                per_host_budget=sz["budget"], exact_robots=False,
            )

        seed_rows, seen_urls = inputs.crawl_state(args.seed, n, sz["n_seeds"], sz["n_gone"])
        eng = engine()
        eng.cat.commit(
            "seen", spark.createDataFrame([(u,) for u in seen_urls], "url string"),
            mode="append", meta={"round": 0},
        )
        eng.seed(seed_rows)
        del eng

        log = ActionLog(spark)
        frame_cls = type(pages)  # the session's concrete DataFrame class
        for attr in ("count", "first", "collect", "toPandas", "localCheckpoint"):
            log.wrap(frame_cls, attr)
        for attr in ("assign_seq", "chain_closure"):
            log.wrap(crawl, attr)
        log.wrap(Catalog, "commit", "Catalog.commit")
        try:
            eng = log.phase("engine init (resume)", engine)
            for r in range(args.rounds):
                s = log.phase(f"round {r}", eng.run_round)
                print("stats:", s)
                if s.get("done"):
                    break
        finally:
            log.unwrap()
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
