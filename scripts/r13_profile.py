"""r13 optimization-round profiler: per-query split of DataFrame
CONSTRUCTION time (plan build + any driver-side actions such as
centroid collects or scalar totals) vs EXECUTION time (noop sink),
best-of-N each, on the bench's own session/config.

    python scripts/r13_profile.py [query ...]      # default: top cost centers
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_insights_app_spark.plans.registry import QUERIES  # noqa: E402
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402

DEFAULT = [
    "semdedup", "ivf_topk", "decontaminate_bloom", "near_dedup_corpus_exact",
    "split_leakage", "interval_join_stream_replay", "kmeans_assign",
    "dsir_select", "session_stateful_replay", "semantic_decontaminate",
    "minhash_neardup_portable", "pairwise_corr", "ema_stateful_replay",
    "ewma_macd", "bigram_lm", "host_authority", "decontaminate",
    "rolling_corr_market", "table_profile", "beta_benchmark", "txn_merge",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="mias-r13-profile", cpus=cpus)
    # same warmup as bench.py: JVM + codegen + one scan per table
    QUERIES["prices_filter_range_limit"](spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()
    for t in ("events", "lineitem", "orders", "customer", "nation", "region",
              "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()

    print(f"{'query':34s} {'build_s':>8s} {'exec_s':>8s} {'total_s':>8s}")
    for name in names:
        spark.sparkContext._jvm.System.gc()
        best = None
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            if best is None or (t2 - t0) < best[2]:
                best = (t1 - t0, t2 - t1, t2 - t0)
        print(f"{name:34s} {best[0]:8.3f} {best[1]:8.3f} {best[2]:8.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
