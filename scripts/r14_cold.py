"""Cold-process per-query measurement (r13 verdict #6): reproduce the
driver bench's shape — fresh JVM, bench session config, untimed warmup
query + one scan of every table, then best-of-N noop-sink runs
per named query — so one-time costs (buffer-pool touches, checkpoint
writes, Arrow lane init) that a warm interleaved A/B hides are PAID and
measured, exactly as the driver's PERF comparison pays them.

    python scripts/r14_cold.py [--sf DIR] [--reps N] name [name ...]

Prints one JSON line: {"host_load": ..., "queries": {name: [per-rep
seconds...]}, "best": {name: sec}}.  Run once per code arm (old/new) in
separate processes; alternate arms across repetitions of the SCRIPT to
average ambient drift.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from market_insights_app_spark.plans.registry import QUERIES
    from market_insights_app_spark.session import get_spark
    from market_insights_app_spark.sources.tables import load_table

    spark = get_spark(app_name="mias-r14-cold", cpus=args.cpus)
    load_start = round(os.getloadavg()[0], 2)

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, args.sf)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # bench.py's untimed warmup: JVM + codegen + one scan per table
    run("prices_filter_range_limit")
    for t in ("events", "lineitem", "orders", "customer", "nation", "region",
              "documents", "embeddings"):
        load_table(spark, args.sf, t).count()

    out: dict = {}
    for name in args.names:
        spark.sparkContext._jvm.System.gc()
        out[name] = [round(run(name), 3) for _ in range(args.reps)]
    print(json.dumps({
        "host_load": {"start_1min": load_start,
                      "end_1min": round(os.getloadavg()[0], 2)},
        "queries": out,
        "best": {n: min(v) for n, v in out.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
