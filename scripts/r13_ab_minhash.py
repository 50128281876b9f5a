"""Same-process interleaved A/B for the r13 minhash verify-stage
change (pre-shingled corpus joins vs post-join shingling of candidate
rows).  Checks exact output equality, then interleaves noop-sink runs;
captures plans/r13/minhash_neardup_portable_{before,after}.txt."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402
from pyspark import StorageLevel  # noqa: E402

from market_insights_app_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_near_dupes,
    minhash_signatures_df,
)
from market_insights_app_spark.functions.text import word_shingles  # noqa: E402
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def old_near_dupes(df, threshold=0.5, num_hashes=32, bands=8,
                   shingle_n=2, portable=True) -> DataFrame:
    """Pre-r13 verify stage: corpus pre-shingled on both join sides."""
    sig = minhash_signatures_df(
        df, "doc_id", "text", num_hashes, shingle_n, portable=portable
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(
        num_hashes=num_hashes, bands=bands, sig=sig, portable=portable
    )
    sig_a = sig.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    with_sigs = cands.join(sig_a, "a").join(sig_b, "b")
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est_floor = max(0.0, threshold - 0.25)
    cands = with_sigs.filter(matches / num_hashes >= est_floor).select("a", "b")
    sh = df.select(
        F.col("doc_id").alias("id"), word_shingles("text", shingle_n).alias("sh")
    )
    joined = (
        cands.join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-minhash", cpus="32")
    load_table(spark, sf_dir, "documents").count()
    from market_insights_app_spark.plans.textml import _docs

    docs = _docs(spark, sf_dir)
    new_df = minhash_near_dupes(docs, threshold=0.5, portable=True)
    old_df = old_near_dupes(docs, threshold=0.5, portable=True)
    new_rows = sorted(map(tuple, new_df.collect()))
    old_rows = sorted(map(tuple, old_df.collect()))
    print("rows equal:", new_rows == old_rows, f"({len(new_rows)} pairs)")
    assert new_rows == old_rows

    os.makedirs("plans/r13", exist_ok=True)
    for tag, df in (("before", old_df), ("after", new_df)):
        with open(f"plans/r13/minhash_neardup_portable_{tag}.txt", "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    def run(make):
        df = make()
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    mk_new = lambda: minhash_near_dupes(docs, threshold=0.5, portable=True)  # noqa: E731
    mk_old = lambda: old_near_dupes(docs, threshold=0.5, portable=True)  # noqa: E731
    run(mk_new); run(mk_old)
    news, olds = [], []
    for _ in range(5):
        spark.sparkContext._jvm.System.gc()
        news.append(run(mk_new))
        spark.sparkContext._jvm.System.gc()
        olds.append(run(mk_old))
    print("new:", [round(x, 3) for x in news], "best", round(min(news), 3))
    print("old:", [round(x, 3) for x in olds], "best", round(min(olds), 3))
    spark.stop()


if __name__ == "__main__":
    main()
