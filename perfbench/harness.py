"""Run plumbing shared by every workload: the Spark session, provenance,
process-tree memory and CPU-steal sampling, and Spark event-log accounting.

Everything a run writes lives under one work directory inside the
checkout (``.perfbench_work/``); ``TMPDIR`` points there too, so the C
lexer cache, Spark's scratch space and the shipped package zip never
leave it.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

import pandas as pd


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# /proc sampling
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        # the command field may contain spaces: ppid follows the last ')'
        rest = s[s.rfind(")") + 2 :].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    kids = _children_map()
    total, stack = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread recording the peak process-tree RSS."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """CPU steal as a share of all CPU time between two ``/proc/stat`` reads
    (fields: user nice system idle iowait irq softirq steal ...)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


# ---------------------------------------------------------------------------
# Spark session + provenance
# ---------------------------------------------------------------------------

def spark_session(work: str, cores: int, event_log_dir: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed, pre-touched heap keeps the JVM's share of peak RSS from
        # depending on when the heap happened to grow; no perf data file
        # under /tmp, native libraries unpacked into the run's TMPDIR
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        )
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the py4j gateway JVM down and wait until every
    process this run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; it is reaped below
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while _children_map().get(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _children_map().get(me, ()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def worker_has_c_lexer(spark) -> bool:
    """One-row pandas UDF: did the C lexer load inside a Python worker?"""
    from pyspark.sql import functions as F

    def probe(ids: pd.Series) -> pd.Series:
        from mycelium_spark.functions import clexer

        return pd.Series([clexer.get() is not None] * len(ids))

    udf = F.pandas_udf(probe, "boolean")
    return bool(spark.range(1).select(udf("id").alias("c")).collect()[0]["c"])


def _git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        )
        return out.stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (git unavailable)"


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
            timeout=30,
        )
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def provenance(spark, root: str, c_driver: bool, c_worker: bool) -> dict:
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.optimizer.windowGroupLimitThreshold",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
    ):
        try:
            conf[k] = spark.conf.get(k)
        except Exception:  # no value and no default on this Spark build
            conf[k] = None
    for k in ("spark.driver.port", "spark.app.id", "spark.app.startTime",
              "spark.app.submitTime", "spark.driver.host"):
        conf.pop(k, None)
    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "git_sha": _git_sha(root),
        "c_lexer_driver": c_driver,
        "c_lexer_worker": c_worker,
        "spark_conf": dict(sorted(conf.items())),
    }


# ---------------------------------------------------------------------------
# event log accounting
# ---------------------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks, executor run time, shuffle-write
    and spill bytes, from Spark's uncompressed JSON event log. Read after
    the session stopped, so every event is on disk."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    st = groups.setdefault(g, GroupStats())
                    st.jobs += 1
                    for s in ev.get("Stage Infos", []):
                        stage_group[s["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = stage_group.get(sid)
                    if g is not None and sid not in groups[g].stage_ids:
                        groups[g].stage_ids.add(sid)
                        groups[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    st = groups[g]
                    st.tasks += 1
                    st.executor_run_ms += int(m.get("Executor Run Time", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
                    st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                        m.get("Disk Bytes Spilled", 0)
                    )
    return groups


def sum_groups(groups: dict[str, GroupStats], prefix: str) -> GroupStats:
    total = GroupStats()
    for name, g in groups.items():
        if name.startswith(prefix):
            total.jobs += g.jobs
            total.stages += g.stages
            total.tasks += g.tasks
            total.executor_run_ms += g.executor_run_ms
            total.shuffle_write_bytes += g.shuffle_write_bytes
            total.spill_bytes += g.spill_bytes
    return total
