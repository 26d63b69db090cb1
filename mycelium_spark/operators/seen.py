"""URL-seen set: exact anti-join, with an optional sharded Bloom prefilter.

Replaces the reference's Mongo upsert-by-url dedup (Doc.cc:21,79). The
crawl round (plans/crawl.py) and seeding call ``new_urls(cand, seen,
None)``: one exact anti-join against the seen set, which the planner
broadcasts while it is small, and no Python. A Bloom prefilter has no
false negatives, so in front of the exact confirm it could never change
the result. ``BloomSeen`` therefore serves the approximate
``confirm=False`` mode, ``bench.py``'s dedup legs, and
``CrawlEngine.bloom`` (a filter over the committed seen set that only
``perfbench/workloads.py`` reads).

A Bloom filter over the seen set is built with JVM-side hashing
(``xxhash64`` — no Python in the hash path), its set-bit indices are
aggregated distributed (shuffle scales with DISTINCT BITS, not with the
bitmap or the set), merged and either broadcast (single shard) or spilled
to per-shard bitmap files (sharded); candidate URLs are prefiltered with a
vectorized numpy membership test, evaluated ONCE per candidate row.

The Bloom is strictly a PREFILTER: exact set parity is guaranteed by the
confirm join (a Bloom positive never drops a truly-new URL silently, and
Bloom negatives are definitively new). The confirm is one ``left_anti``
join on ``url = seen.url AND maybe_seen``: a Bloom negative fails that
condition against every seen row, so it is kept, and a Bloom positive is
kept only when no seen row has its url. The membership test
runs once per candidate and never over the seen table (a left-only term
of an anti-join condition is pushed into neither side; a ``maybe_seen``
FILTER on the candidates, by contrast, is inferred through ``url = url``
onto the seen side and evaluates the UDF over every seen row).

Trade-off at scale: every candidate, Bloom-negative or not, takes part in
the confirm join. Against a broadcast seen side that is one hash probe per
row; once seen is too large to broadcast, the join shuffles all
candidates with the seen table. A form that joins only the Bloom
positives shuffles fewer rows but runs the membership test twice; on
``bench.py``'s ``bloom_confirm`` leg (5M seen urls, 250k candidates,
half of them seen, 8 shards, a shuffled hash join on 4 cores) the one
join measured ~17% faster. ``confirm=False`` is the mode that keeps the
seen table out of the plan entirely.

Sharding (the 10^10 design point): at 10^10 seen URLs a single broadcast
bitmap no longer fits (~12 GB at 10 bits/key). ``n_shards=K`` splits the
key space by ``pmod(xxhash64(url), K)``; each shard owns an independent
``num_bits`` bitmap persisted to ``shard_dir``. Membership repartitions
candidates BY SHARD, so a task loads exactly one shard bitmap (worker-side
cache keyed by the versioned filename — bitmaps are immutable once
written), i.e. each executor holds only the shards of its hash range, never
the whole filter. ``shard_dir`` must be storage every executor can read
(local disk in local mode; NFS/fuse-mounted object store on a cluster).
The build aggregates (shard, word, bits) JVM-side with map-side partial
``bit_or`` and streams one shard at a time through the driver
(``toLocalIterator`` over shard-sorted words), so peak driver memory is
one shard's bitmap, not the filter.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

# worker-side cache of loaded shard bitmaps; filenames are versioned so a
# stale entry can never be read (files are write-once per version)
_SHARD_CACHE: dict[str, np.ndarray] = {}


def _load_shard(path: str) -> np.ndarray:
    arr = _SHARD_CACHE.get(path)
    if arr is None:
        # evict older versions of the same shard so the cache stays O(shards
        # this worker owns), not O(shards x versions)
        prefix = path.rsplit(".v", 1)[0] + ".v"
        for k in [k for k in _SHARD_CACHE if k.startswith(prefix)]:
            del _SHARD_CACHE[k]
        arr = np.load(path)
        _SHARD_CACHE[path] = arr
    return arr


class BloomSeen:
    def __init__(
        self,
        num_bits: int = 1 << 22,
        num_hashes: int = 5,
        n_shards: int = 1,
        shard_dir: str | None = None,
    ):
        assert num_bits % 64 == 0
        self.num_bits = num_bits  # per shard
        self.num_hashes = num_hashes
        self.n_shards = n_shards
        self.shard_dir = shard_dir
        self.version = 0
        if n_shards == 1:
            self.bits = np.zeros(num_bits // 64, dtype=np.uint64)
        else:
            if shard_dir is None:
                raise ValueError("n_shards > 1 requires shard_dir")
            os.makedirs(shard_dir, exist_ok=True)
            self.bits = None

    # k index expressions, all JVM-side: xxhash64(j, url) % num_bits
    def _index_cols(self, col):
        return [
            F.pmod(F.xxhash64(F.lit(j), col), F.lit(self.num_bits)).alias(f"_b{j}")
            for j in range(self.num_hashes)
        ]

    def _shard_col(self, col):
        # seed 777 keeps the shard hash independent of the k index hashes
        return F.pmod(F.xxhash64(F.lit(777), col), F.lit(self.n_shards)).cast("int")

    def _shard_path(self, shard: int, version: int | None = None) -> str:
        v = self.version if version is None else version
        return os.path.join(self.shard_dir, f"shard_{shard}.v{v}.npy")

    def _words_df(self, df: DataFrame, url_col: str) -> DataFrame:
        """(shard, w, bits) — distinct set-bit words, bit_or-combined JVM-side
        with map-side partial aggregation; at most n_shards * num_bits/64 rows
        regardless of input size."""
        idx = F.explode(F.array(*self._index_cols(F.col(url_col)))).alias("i")
        return (
            df.select(self._shard_col(F.col(url_col)).alias("shard"), idx)
            .selectExpr(
                "shard",
                "shiftright(i, 6) AS w",
                "shiftleft(CAST(1 AS BIGINT), CAST(i & 63 AS INT)) AS b",
            )
            .groupBy("shard", "w")
            .agg(F.expr("bit_or(b)").alias("bits"))
        )

    def add_df(self, df: DataFrame, url_col: str = "url") -> None:
        """OR the URLs of ``df`` into the filter (distributed build)."""
        spark = df.sparkSession
        arrow_was = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        try:
            if self.n_shards == 1:
                words = self._words_df(df, url_col).drop("shard").toPandas()
                if len(words):
                    w = words["w"].to_numpy(dtype=np.int64)
                    b = words["bits"].to_numpy(dtype=np.int64).view(np.uint64)
                    np.bitwise_or.at(self.bits, w, b)
                return
            # sharded: one Arrow fetch of the distinct set-bit words — bounded
            # by the TOTAL BITMAP SIZE (n_shards * num_bits/64 rows max), not
            # by the input set; vectorized per-shard OR + write. (At the
            # 10^10 design point where even that exceeds driver memory, the
            # same frame is written straight to per-shard parquet and the
            # merge runs shard-local — the membership path is unchanged.)
            # The version is bumped ONLY after every shard file for it is on
            # disk: the distributed build (toPandas triggers the job) can
            # fail, and a pre-bumped version with missing shard files would
            # make prefilter treat every key of those shards as
            # definitively-new — silent false negatives in confirm=False
            # mode (ADVICE round 2). Until the final assignment below, all
            # reads/writes use explicit version numbers.
            old_version = self.version
            new_version = old_version + 1
            words = self._words_df(df, url_col).toPandas()
            written: set[int] = set()
            if len(words):
                sh = words["shard"].to_numpy(dtype=np.int64)
                w = words["w"].to_numpy(dtype=np.int64)
                b = words["bits"].to_numpy(dtype=np.int64).view(np.uint64)
                order = np.argsort(sh, kind="stable")
                sh, w, b = sh[order], w[order], b[order]
                bounds = np.searchsorted(sh, np.arange(self.n_shards + 1))
                for s in range(self.n_shards):
                    lo, hi = bounds[s], bounds[s + 1]
                    if lo == hi:
                        continue
                    bits = self._load_or_zero(s, old_version)
                    np.bitwise_or.at(bits, w[lo:hi], b[lo:hi])
                    np.save(self._shard_path(s, new_version), bits)
                    written.add(s)
            # Carry forward untouched shards by HARDLINK. Older versions are
            # NOT deleted here — prefilter plans are lazy, and a plan built
            # several add_df calls ago may still be pending; stale-version
            # GC happens only on an explicit expire() at a point the caller
            # knows is quiescent (the crawl round calls it after its
            # commits have executed).
            for s in range(self.n_shards):
                old = self._shard_path(s, old_version)
                if s not in written and os.path.exists(old):
                    os.link(old, self._shard_path(s, new_version))
            self.version = new_version
        finally:
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow_was)

    def expire(self, keep: int = 2) -> int:
        """Delete shard bitmap files older than the newest ``keep``
        versions. Callers invoke this at a quiescent point (no lazy
        prefilter plan older than ``keep`` add_df calls still pending);
        returns the number of files removed."""
        if self.n_shards == 1 or self.shard_dir is None:
            return 0
        cutoff = self.version - keep + 1
        removed = 0
        for fname in os.listdir(self.shard_dir):
            if not (fname.startswith("shard_") and fname.endswith(".npy")):
                continue
            try:
                v = int(fname.rsplit(".v", 1)[1][: -len(".npy")])
            except (IndexError, ValueError):
                continue
            if v < cutoff:
                os.remove(os.path.join(self.shard_dir, fname))
                removed += 1
        return removed

    def _load_or_zero(self, shard: int, version: int) -> np.ndarray:
        p = self._shard_path(shard, version)
        if os.path.exists(p):
            return np.load(p).copy()
        return np.zeros(self.num_bits // 64, dtype=np.uint64)

    def prefilter(self, candidates: DataFrame, url_col: str = "url") -> DataFrame:
        """Adds ``maybe_seen`` (bool). False → definitively new."""
        if self.n_shards == 1:
            return self._prefilter_broadcast(candidates, url_col)
        return self._prefilter_sharded(candidates, url_col)

    def _prefilter_broadcast(self, candidates: DataFrame, url_col: str) -> DataFrame:
        spark = candidates.sparkSession
        bits_b = spark.sparkContext.broadcast(self.bits)

        def member(*cols: pd.Series) -> pd.Series:
            bits = bits_b.value
            result = np.ones(len(cols[0]), dtype=bool)
            for c in cols:
                idx = c.to_numpy(dtype=np.int64)
                word = idx >> 6
                bit = np.uint64(1) << (idx & 63).astype(np.uint64)
                result &= (bits[word] & bit) != 0
            return pd.Series(result)

        member_udf = F.pandas_udf(member, BooleanType())
        icols = self._index_cols(F.col(url_col))
        return candidates.withColumn("maybe_seen", member_udf(*icols))

    def _prefilter_sharded(self, candidates: DataFrame, url_col: str) -> DataFrame:
        """Shard-local membership: repartition by shard, then each task reads
        exactly its shard's bitmap file (worker-cached). No broadcast of the
        filter, no Python in the hash path — only the vectorized bit test."""
        from pyspark.sql.types import StructField, StructType

        paths = {s: self._shard_path(s) for s in range(self.n_shards)}
        existing = {s: p for s, p in paths.items() if os.path.exists(p)}
        k = self.num_hashes
        in_cols = candidates.columns
        with_keys = candidates.select(
            *in_cols,
            self._shard_col(F.col(url_col)).alias("_shard"),
            *self._index_cols(F.col(url_col)),
        ).repartition(self.n_shards, F.col("_shard"))
        out_schema = StructType(
            list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
        )

        def run(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                result = np.zeros(n, dtype=bool)
                shards = pdf["_shard"].to_numpy(dtype=np.int64)
                idx_mat = np.stack(
                    [pdf[f"_b{j}"].to_numpy(dtype=np.int64) for j in range(k)], axis=1
                )
                for s in np.unique(shards):
                    path = existing.get(int(s))
                    mask = shards == s
                    if path is None:
                        continue  # empty shard → definitively new
                    bits = _load_shard(path)
                    idx = idx_mat[mask]
                    word = idx >> 6
                    bit = np.uint64(1) << (idx & 63).astype(np.uint64)
                    result[mask] = ((bits[word] & bit) != 0).all(axis=1)
                out = pdf[in_cols].copy()
                out["maybe_seen"] = result
                yield out

        return with_keys.mapInPandas(run, out_schema)


def new_urls(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: BloomSeen | None,
    url_col: str = "url",
    confirm: bool = True,
) -> DataFrame:
    """candidates ∖ seen — Bloom prefilter + exact confirm anti-join.

    When ``candidates`` is a scan or a materialized frame, the membership
    UDF (or the shard-local ``mapInPandas`` of a sharded Bloom) is
    evaluated once per candidate row, inside this call's plan: a caller
    whose result feeds several consumers materializes the RESULT. The
    exact confirm is one ``left_anti`` join whose condition carries
    ``maybe_seen``, so Bloom negatives are kept without consulting seen.
    Over other shapes the optimizer may move the UDF: over an aggregate of
    a union it pushes the anti-join into each union branch and infers the
    membership test as a filter on the seen side, so the UDF runs over the
    seen table too (4 ``member(`` and 2 ``Filter pythonUDF`` in that plan).
    Materialize such candidates (``localCheckpoint``) before calling.

    ``confirm=False`` is the APPROXIMATE at-scale mode: Bloom-maybe rows
    are treated as seen without the confirm join, so the seen table is
    never shuffled at all — the dedup cost becomes O(candidates), not
    O(candidates + seen). The price is dropping false-positive-rate worth
    of genuinely-new URLs (sized by num_bits; ~0.5% at 13 bits/key), which
    a crawler frontier tolerates. Exact-parity callers keep the default.
    """
    if seen is None:
        return candidates
    if bloom is None:
        return candidates.join(seen.select(url_col), url_col, "left_anti")
    pref = bloom.prefilter(candidates, url_col)
    if not confirm:
        return pref.filter(~F.col("maybe_seen")).drop("maybe_seen")
    known = seen.select(F.col(url_col).alias("_seen_url"))
    return pref.join(
        known, (pref[url_col] == known["_seen_url"]) & pref["maybe_seen"], "left_anti"
    ).drop("maybe_seen")
