"""Best-of-N re-adjudication of named bench regressions on an idle
machine — the r6 standard: a committed BENCH_FULL delta that says
"query X got 40 % slower" must either reproduce under clean repeated
timing or be recorded as host noise in SCALE_NOTES.

Usage: python scripts/adjudicate_regressions.py q1 q2 ...  [N=5]
Prints one JSON line per query: {"query", "samples", "best",
"best_known"} — fold the verdicts into SCALE_NOTES by hand.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    n = int(next((a for a in sys.argv[1:] if a.isdigit()), "5"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from market_insights_app_spark.plans.registry import QUERIES
    from market_insights_app_spark.session import get_spark
    from market_insights_app_spark.sources.tables import load_table

    spark = get_spark(app_name="mias-adjudicate", cpus=cpus)

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return time.perf_counter() - t0

    # warm: JVM, codegen on an unrelated plan, one scan per table
    run("recent_n_tail")
    for t in ("events", "lineitem", "orders", "customer", "nation",
              "region", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()

    ref = {}
    ref_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_FULL.json",
    )
    if os.path.exists(ref_path):
        with open(ref_path) as fh:
            ref = json.load(fh).get("full_queries", {})
    for name in names:
        run(name)  # untimed per-plan codegen warmup
        spark.sparkContext._jvm.System.gc()  # same hygiene as bench.py
        samples = [round(run(name), 3) for _ in range(n)]
        print(json.dumps({
            "query": name,
            "samples": samples,
            "best": min(samples),
            "best_known": ref.get(name),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
