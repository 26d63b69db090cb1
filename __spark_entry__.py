"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship extraction pipeline at sf0.001.
queries()      — one entry per implemented operator family (SURVEY.md §2 +
                 training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB twins; the engine ops and the oracles share the
                 same md5-derived hashing so comparisons are exact.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from mycelium_spark.plans import entries as _entries  # noqa: E402

_PKG_ZIP: str | None = None


def _ensure_workers_have_package(spark: SparkSession) -> None:
    """Ship the package to python workers regardless of the driver's cwd
    (the UDF closures reference the mycelium_spark module by name). The
    zip is built once per process in a temp dir removed at exit."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        import atexit
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="mycelium_pkg_")
        atexit.register(shutil.rmtree, tmp, True)
        root = os.path.dirname(os.path.abspath(__file__))
        _PKG_ZIP = shutil.make_archive(
            os.path.join(tmp, "mycelium_spark"), "zip", root, "mycelium_spark"
        )
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added to this context
    _tune_session(spark)


# Plan-quality session settings (spark_optimization_guide §3.1/§9). Scale-safe
# — none of them depends on the local core count. Results are unaffected
# (join strategy and rank-limit pushdown are semantics-preserving); they change
# only the physical plan:
_SESSION_CONFS = (
    # lets the planner pick a shuffled-hash join when its size guard holds
    # (skips two whole-side sorts; the guard bounds the build-side hash map,
    # so it stays safe as inputs grow)
    ("spark.sql.join.preferSortMergeJoin", "false"),
    # covers `row_number() <= k` filters up to the politeness budget (the
    # default threshold 1000 is below it); the pushdown's per-task state is
    # bounded by k rows per group
    ("spark.sql.optimizer.windowGroupLimitThreshold", "8192"),
    # AQE may rewrite a planned sort-merge join to shuffled-hash at runtime
    # when EVERY post-shuffle partition's build side is under this many bytes
    # (default 0 = never) — skips both sort passes. Self-guarding at scale:
    # bigger-than-threshold partitions keep sort-merge, so memory stays
    # bounded by the threshold itself.
    ("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864"),
)


def _tune_session(spark: SparkSession) -> None:
    for conf, value in _SESSION_CONFS:
        try:
            spark.conf.set(conf, value)
        except Exception:
            pass  # read-only conf on this build: keep defaults


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_workers_have_package(spark)
    return _entries.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers_have_package(spark)
            return fn(spark, sf_dir)

        return wrapped

    return {name: wrap(fn) for name, fn in _entries.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return _entries.resolved_oracles()
