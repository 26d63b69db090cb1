"""Per-leg isolation harness for the optimization round (guide §1.4).

NOT the artifact of record — bench.py stays frozen. This file reuses
bench.py's session/config/jobs to time individual legs with the noop-sink
discipline, print plans, and A/B candidate optimizations without paying a
full bench run per data point.

Usage:
  python bench_extra.py gen            # generate inputs into /tmp/mycelium_bx
  python bench_extra.py schedule [N]   # schedule_dedup_job, N reps
  python bench_extra.py extract [N]    # extract_job, N reps
  python bench_extra.py plan_schedule  # explain("formatted") of the leg
  python bench_extra.py queries q1 q2  # time named oracle queries (noop sink)
  python bench_extra.py oneshots       # cluster/redirect/warc/boilerplate legs
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen module — reused, never edited)

DATA = os.environ.get("SPARK_GRAFT_BX_DIR", "/tmp/mycelium_bx")
CORES = int(os.environ.get("SPARK_GRAFT_BX_CORES", str(bench.CPUS)))


def session(name="bench-extra"):
    return bench._session(CORES, name)


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "help"
    if cmd == "gen":
        spark = session("bx-gen")
        t0 = time.time()
        bench.gen_inputs(spark, bench.N_FRONTIER, bench.N_PAGES, DATA)
        print("gen_inputs wall", round(time.time() - t0, 2))
        spark.stop()
        return
    spark = session(f"bx-{cmd}")
    bench._warmup(spark)
    if cmd in ("schedule", "extract"):
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        job = bench.schedule_dedup_job if cmd == "schedule" else bench.extract_job
        for i in range(reps):
            r = job(spark, DATA)
            print(cmd, i, r)
    elif cmd == "plan_schedule":
        from pyspark.sql import functions as F

        from mycelium_spark.operators.frontier import politeness_schedule

        frontier = spark.read.parquet(f"{DATA}/frontier")
        seen = spark.read.parquet(f"{DATA}/seen")
        scheduled, _ = politeness_schedule(frontier, 4096)
        joined = scheduled.select("url").join(
            seen.withColumn("_s", F.lit(1)), "url", "left"
        )
        agg = joined.agg(
            F.count(F.lit(1)).alias("sched"),
            F.sum(F.when(F.col("_s").isNull(), 1).otherwise(0)).alias("new"),
        )
        agg.explain("formatted")
    elif cmd == "queries":
        import __spark_entry__ as entry_mod

        queries = entry_mod.queries()
        sf_dir = bench.SF_DIR
        names = sys.argv[2:] or sorted(queries)
        for name in names:
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            print(f"{name}: cold {t1 - t0:.2f}s warm {time.time() - t1:.2f}s")
    elif cmd == "oneshots":
        print("cluster", bench.cluster_job(spark))
        print("redirect", bench.redirect_job(spark))
        print("warc", bench.warc_io_job(spark, DATA, "/tmp/mycelium_bx_wet"))
        bench.block_extract_job(spark, 10_000)
        print("boilerplate", bench.block_extract_job(spark, 100_000))
    spark.stop()


if __name__ == "__main__":
    main()
