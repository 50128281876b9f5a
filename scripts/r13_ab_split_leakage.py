"""Same-process interleaved A/B for the r13 split_leakage change
(exact-lane fingerprint+split in one projection vs the former
fingerprint.join(split_by_id) reunion join).  Captures
plans/r13/split_leakage_{before,after}.txt and prints interleaved
best-of-N timings — the measurement protocol OPTIMIZATION_r13.md pins
(cross-process A/B produced phantom results under ambient co-tenancy).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from market_insights_app_spark.operators.dedup import (  # noqa: E402
    minhash_near_dupes,
    split_leakage_report,
)
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def old_report(df: DataFrame, threshold: float = 0.5, **mk) -> DataFrame:
    """Pre-r13 body: exact lane reunites fingerprint and split label
    through a by-id join of two projections of the same table."""
    from market_insights_app_spark.functions.text import md5_fingerprint

    sp = df.select(
        F.col("doc_id").alias("__sid"), F.col("split").alias("__split")
    )
    fp = df.select(
        F.col("doc_id").alias("__sid"),
        md5_fingerprint(F.col("text")).alias("__fp"),
    ).join(sp, "__sid")
    x, y = fp.alias("x"), fp.alias("y")
    exact = x.join(
        y,
        (F.col("x.__fp") == F.col("y.__fp"))
        & (F.col("x.__sid") < F.col("y.__sid")),
    ).select(
        F.lit("exact").alias("rule"),
        F.col("x.__sid").alias("a"),
        F.col("y.__sid").alias("b"),
        F.col("x.__split").alias("sa"),
        F.col("y.__split").alias("sb"),
    )
    pairs = minhash_near_dupes(
        df, id_col="doc_id", text_col="text", threshold=threshold, **mk
    )
    near = (
        pairs.join(sp.withColumnRenamed("__sid", "a"), "a")
        .withColumnRenamed("__split", "sa")
        .join(sp.withColumnRenamed("__sid", "b"), "b")
        .withColumnRenamed("__split", "sb")
        .join(exact.select("a", "b"), ["a", "b"], "left_anti")
        .select(F.lit("near").alias("rule"), "a", "b", "sa", "sb")
    )
    both = exact.unionByName(near).filter(F.col("sa") != F.col("sb"))
    norm = both.select(
        "rule", "a", "b",
        F.least("sa", "sb").alias("split_a"),
        F.greatest("sa", "sb").alias("split_b"),
    )
    return norm.groupBy("rule", "split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.struct("a", "b")).getField("a").alias("example_a"),
        F.min(F.struct("a", "b")).getField("b").alias("example_b"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-split-leakage", cpus="32")
    from market_insights_app_spark.plans.textml import _docs
    from market_insights_app_spark.operators.sampling import hash_split

    for t in ("documents",):
        load_table(spark, sf_dir, t).count()

    docs = hash_split(_docs(spark, sf_dir), id_col="doc_id", salt="corpus-v1")
    new_df = split_leakage_report(docs, threshold=0.5, portable=True)
    old_df = old_report(docs, threshold=0.5, portable=True)

    # result equality (order-insensitive)
    new_rows = sorted(map(tuple, new_df.collect()))
    old_rows = sorted(map(tuple, old_df.collect()))
    print("rows equal:", new_rows == old_rows, f"({len(new_rows)} rows)")
    assert new_rows == old_rows

    os.makedirs("plans/r13", exist_ok=True)
    with open("plans/r13/split_leakage_before.txt", "w") as fh:
        fh.write(old_df._sc._jvm.PythonSQLUtils.explainString(
            old_df._jdf.queryExecution(), "formatted"))
    with open("plans/r13/split_leakage_after.txt", "w") as fh:
        fh.write(new_df._sc._jvm.PythonSQLUtils.explainString(
            new_df._jdf.queryExecution(), "formatted"))

    def run(df: DataFrame) -> float:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # warm both plans once (codegen), then interleave
    run(new_df)
    run(old_df)
    news, olds = [], []
    for _ in range(5):
        spark.sparkContext._jvm.System.gc()
        news.append(run(split_leakage_report(docs, threshold=0.5,
                                             portable=True)))
        spark.sparkContext._jvm.System.gc()
        olds.append(run(old_report(docs, threshold=0.5, portable=True)))
    print("new:", [round(x, 3) for x in news], "best", round(min(news), 3))
    print("old:", [round(x, 3) for x in olds], "best", round(min(olds), 3))
    spark.stop()


if __name__ == "__main__":
    main()
