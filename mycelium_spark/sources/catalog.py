"""Snapshot-table catalog — the engine's Iceberg stand-in.

The production design targets Iceberg tables (append-only, snapshot
isolation, MERGE for the docs upsert). This sandbox has no Iceberg runtime
jar, so the same contract is provided over parquet directories with
manifest-file snapshots:

* every commit writes data under ``<root>/<table>/s<k>/`` then atomically
  publishes ``manifest-<k>.json`` (file list) and flips the ``_latest``
  pointer with ``os.replace`` — readers only ever see fully-committed
  snapshots, giving the checkpoint/resume semantics the north rule requires;
* ``append`` snapshots reference the previous snapshot's directories plus
  the new one — O(1) metadata, no rewrite (Iceberg-style);
* the crawl round loop commits one snapshot per table per round; resuming
  reads ``_latest`` and continues from the last committed round;
* the manifest records the snapshot's schema and ``read`` hands it to the
  parquet reader, which otherwise runs a Spark job per read to infer it
  from the file footers.

Replaces the reference's MongoDB doc store (Doc::save upsert,
/root/reference/src/common/Doc.cc:15-81) and its filesystem KV store
(bighash.cc). At 100 TB these tables are Iceberg on object storage,
partitioned as noted per table in plans/crawl.py.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- snapshot plumbing ---
    def _tdir(self, table: str) -> str:
        d = os.path.join(self.root, table)
        os.makedirs(d, exist_ok=True)
        return d

    def latest_snapshot(self, table: str) -> int:
        p = os.path.join(self.root, table, "_latest")
        try:
            with open(p) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def _manifest(self, table: str, snap: int) -> dict:
        with open(os.path.join(self.root, table, f"manifest-{snap}.json")) as f:
            return json.load(f)

    def _publish(
        self, table: str, snap: int, dirs: list[str], meta: dict | None,
        partition_spec: list[str] | None = None, schema: dict | None = None,
    ) -> None:
        tdir = self._tdir(table)
        manifest = {
            "snapshot": snap, "dirs": dirs, "meta": meta or {},
            "partition_spec": partition_spec or [], "schema": schema,
            "ts": time.time(),
        }
        mpath = os.path.join(tdir, f"manifest-{snap}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        lpath = os.path.join(tdir, "_latest")
        tmp = lpath + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(snap))
        os.replace(tmp, lpath)  # atomic commit point

    def commit(
        self,
        table: str,
        df: DataFrame | None,
        mode: str = "append",
        meta: dict | Callable[[], dict] | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot; returns the snapshot id.

        ``df=None`` commits a metadata-only snapshot (same data as before).
        A callable ``meta`` is called after the data write and before the
        manifest is published, so it can read what the write observed; if
        the write raises, it is not called and nothing is published.
        ``partition_by`` hive-partitions the snapshot's data directory so
        later reads prune on those columns (e.g. the frontier bucketed by
        host bucket — Iceberg's partition spec analog). The spec is
        recorded in the manifest; an ``append`` whose spec differs from
        the table's existing layout is REJECTED — mixing hive-partitioned
        and flat snapshot dirs under one table silently drops/nulls the
        partition columns at read time (Iceberg would call this an
        incompatible partition-spec evolution).
        """
        tdir = self._tdir(table)
        prev = self.latest_snapshot(table)
        snap = prev + 1
        spec = list(partition_by or [])
        dirs: list[str] = []
        schema = None
        if mode == "append" and prev >= 0:
            prev_manifest = self._manifest(table, prev)
            dirs = list(prev_manifest["dirs"])
            schema = prev_manifest.get("schema")
            prev_spec = prev_manifest.get("partition_spec", [])
            if dirs and spec != prev_spec:
                raise ValueError(
                    f"append to '{table}' with partition_by={spec} but existing "
                    f"layout is {prev_spec}; overwrite or compact() first"
                )
        if df is not None:
            data_dir = os.path.join(tdir, f"s{snap}")
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(data_dir)
            dirs.append(data_dir)
            schema = df.schema.jsonValue()
        if callable(meta):
            meta = meta()
        self._publish(table, snap, dirs, meta, partition_spec=spec, schema=schema)
        return snap

    # --- maintenance (the Iceberg MERGE/expire analogs) ---
    def compact(
        self,
        table: str,
        dedup_key: str | None = None,
        order_col: str | None = None,
    ) -> int:
        """Rewrite the table into one data directory and publish it as a new
        snapshot. With ``dedup_key``/``order_col`` the rewrite applies
        last-write-wins per key (highest ``order_col`` survives) — the
        materialized form of the reference's Mongo upsert (Doc.cc:79) /
        Iceberg MERGE INTO, so readers stop paying the window-on-read.
        Older snapshots stay readable until expire_snapshots()."""
        df = self.read(table)
        prev = self.latest_snapshot(table)
        if df is None or prev < 0:
            return -1
        if dedup_key is not None:
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            if order_col is None:
                raise ValueError("dedup_key requires order_col")
            w = Window.partitionBy(dedup_key).orderBy(F.desc(order_col))
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        meta = dict(self.meta(table))
        meta["compacted_from"] = prev
        return self.commit(table, df, mode="overwrite", meta=meta)

    def expire_snapshots(self, table: str, keep: int = 2) -> int:
        """Delete manifests + data dirs unreachable from the newest ``keep``
        snapshots. Returns the number of data dirs removed. Append
        snapshots share dirs, so only dirs referenced by NO kept manifest
        are deleted."""
        import shutil

        latest = self.latest_snapshot(table)
        if latest < 0:
            return 0
        tdir = self._tdir(table)
        kept = range(max(latest - keep + 1, 0), latest + 1)
        referenced: set[str] = set()
        for s in kept:
            try:
                referenced.update(self._manifest(table, s)["dirs"])
            except FileNotFoundError:
                pass
        removed = 0
        for name in os.listdir(tdir):
            full = os.path.join(tdir, name)
            if name.startswith("s") and os.path.isdir(full) and full not in referenced:
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
            elif name.startswith("manifest-"):
                s = int(name.split("-")[1].split(".")[0])
                if s not in kept:
                    os.remove(full)
        return removed

    def read(self, table: str) -> DataFrame | None:
        """Latest committed snapshot as a DataFrame; None if table absent/empty.

        Partitioned tables with multiple append dirs are read per-dir and
        unioned: Spark's multi-root partition discovery needs a shared
        basePath, and the snapshot dirs (s0, s1, ...) are sibling roots,
        not partition values. A manifest without a schema (written before
        manifests carried one) is read with schema inference."""
        snap = self.latest_snapshot(table)
        if snap < 0:
            return None
        manifest = self._manifest(table, snap)
        dirs = manifest["dirs"]
        if not dirs:
            return None
        reader = self.spark.read
        if manifest.get("schema"):
            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        if manifest.get("partition_spec") and len(dirs) > 1:
            from functools import reduce

            parts = [reader.parquet(d) for d in dirs]
            return reduce(lambda a, b: a.unionByName(b), parts)
        return reader.parquet(*dirs)

    def meta(self, table: str) -> dict:
        snap = self.latest_snapshot(table)
        if snap < 0:
            return {}
        return self._manifest(table, snap)["meta"]

    def exists(self, table: str) -> bool:
        return self.latest_snapshot(table) >= 0
