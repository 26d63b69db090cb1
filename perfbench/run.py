"""Benchmark runner for the mycelium_spark crawl engine.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one local Spark session
(``local[<nproc>]``), one workload in a closed loop. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``). The line before it is a report with
provenance, the workload's own named figures (pages_per_s, round_s_p50,
resume_s, queries_s, query_s_p50, fail_ratio, ...) and every failure.
Every file the run writes stays under ``.perfbench_work/`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import os
import time

_T_START = time.monotonic()


def _process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    counts interpreter start-up too."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


_T0 = _T_START - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full",
                   help="toy: the smoke-test size")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "mycelium_spark")):
        print(f"error: no mycelium_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(work, "sf")
    cores = os.cpu_count() or 1
    spark = None
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with harness.RssSampler() as rss:
            cpu0 = harness.cpu_times()
            event_dir = os.path.join(work, "eventlog") if args.trace else None
            spark = harness.spark_session(work, cores, event_dir)

            import __spark_entry__ as entry
            from mycelium_spark.functions import clexer

            entry._ensure_workers_have_package(spark)
            c_driver = clexer.get() is not None
            c_worker = harness.worker_has_c_lexer(spark)
            prov = harness.provenance(spark, ROOT, c_driver, c_worker)
            degraded = [
                f"C lexer fell back to Python in the {where}"
                for where, ok in (("driver", c_driver), ("Spark Python workers", c_worker))
                if not ok
            ]
            for d in degraded:
                print(f"WARNING: {d}; figures are not comparable", file=sys.stderr)

            tracer = None
            if args.trace:
                import layers

                tracer = layers.Tracer(spark)
                tracer.install()
            setup = {}

            def setup_done():
                setup["s"] = time.monotonic() - _T0

            size = workloads.SIZES[args.workload][args.size]
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, size, tracer,
                                setup_done, cores)
            out = workloads.WORKLOADS[args.workload](ctx)
            if tracer:
                tracer.uninstall()
            steal = harness.steal_pct(cpu0, harness.cpu_times())
            harness.stop_session(spark)
            spark = None
        ops = out.ops
        failed = sum(not o.ok for o in ops)
        loop = [o for o in ops if o.looped]
        timed = sum(o.seconds for o in loop)
        kinds = {o.kind for o in loop}
        e2e = {
            "setup_s": setup.get("s", 0.0),
            # one pass over the workload's operation list, each at its median
            "pass_s": sum(harness.median([o.seconds for o in loop if o.kind == k])
                          for k in kinds),
            "items_per_s": sum(o.items for o in loop) / timed if timed else 0.0,
            "peak_rss_mb": rss.peak / 2**20,
        }
        if args.trace:
            groups = harness.read_event_log(event_dir)
            kernels = layers.kernel_runs(tracer.link_urls)
            trace_e2e = {"trace.setup_s": e2e["setup_s"], "trace.pass_s": e2e["pass_s"]}
            metrics = tracer.finish(groups, loop, cores, kernels, (c_driver, c_worker), trace_e2e)
            units = {k: v[0] for k, v in layers.PER_LAYER.items()}
            tags = {k: v[2] for k, v in layers.PER_LAYER.items()}
        else:
            metrics, tags = e2e, {}
            units = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s",
                     "peak_rss_mb": "MB"}
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "size": size,
            "cores": cores,
            "cpu_steal_pct": steal,
            "degraded": degraded,
            "provenance": prov,
            "named": out.named,
            "fail_ratio": failed / len(ops) if ops else 1.0,
            "ops": [o.__dict__ for o in ops],
            "failures": [o.__dict__ for o in ops if not o.ok],
            "notes": out.notes,
            "moves": tags,
        }
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({
            "correct": failed == 0 and len(ops) > 0,
            "attempted": max(len(ops), 1),
            "failed": failed if ops else 1,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
