"""Same-process interleaved A/B for the r13 dsir_weights change
(eager .first() corpus totals at plan build vs broadcast 1-row
scalar-aggregate columns).  Checks exact output equality, then
interleaves noop-sink runs; captures
plans/r13/dsir_select_{before,after}.txt."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from market_insights_app_spark.operators.sampling import (  # noqa: E402
    dsir_select,
    hashed_ngram_buckets,
)
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def old_dsir_select(raw, target, k, id_col="doc_id", text_col="text",
                    n_buckets=1024) -> DataFrame:
    """Pre-r13 weighting: two eager .first() total jobs at build."""
    rb = raw.select(
        F.col(id_col), F.explode(hashed_ngram_buckets(text_col, n_buckets)).alias("b")
    )
    tb = target.select(F.explode(hashed_ngram_buckets(text_col, n_buckets)).alias("b"))
    doc_b = (
        rb.groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    t_counts = tb.groupBy("b").agg(F.count(F.lit(1)).alias("tc")).persist()
    r_counts = doc_b.groupBy("b").agg(F.sum("n").alias("rc"))
    t_total = t_counts.agg(F.sum("tc")).first()[0] or 0
    r_total = r_counts.agg(F.sum("rc")).first()[0] or 0
    lr = (
        r_counts.join(t_counts, "b", "left")
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / float(t_total + n_buckets))
                - F.log((F.col("rc") + 1.0) / float(r_total + n_buckets))
            ).alias("lr"),
        )
    )
    w = (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("n") * F.col("lr")), 6).alias("weight"))
    )
    return w.orderBy(F.col("weight").desc(), F.col(id_col).asc()).limit(k)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-dsir", cpus="32")
    load_table(spark, sf_dir, "documents").count()
    from market_insights_app_spark.plans.textml import _docs

    docs = _docs(spark, sf_dir)

    def mk_new():
        return dsir_select(docs, docs.filter(F.col("lang") == "en"), k=100)

    def mk_old():
        return old_dsir_select(docs, docs.filter(F.col("lang") == "en"), k=100)

    new_rows = [tuple(r) for r in mk_new().collect()]
    old_rows = [tuple(r) for r in mk_old().collect()]
    print("rows equal:", new_rows == old_rows, f"({len(new_rows)} rows)")
    assert new_rows == old_rows

    os.makedirs("plans/r13", exist_ok=True)
    for tag, df in (("before", mk_old()), ("after", mk_new())):
        with open(f"plans/r13/dsir_select_{tag}.txt", "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    def reset_cache():
        # both arms persist() intermediate tables under identical plans,
        # so a shared warm SQL cache would mask the build-time delta —
        # drop EVERYTHING, then re-scan the base table outside the
        # timer.
        spark._jsparkSession.sharedState().cacheManager().clearCache()
        load_table(spark, sf_dir, "documents").count()

    def run(make):
        reset_cache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df = make()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    run(mk_new); run(mk_old)
    news, olds = [], []
    for i in range(6):
        # ABBA ordering: a drifting ambient baseline must not always
        # tax the same arm (the first AB pass here measured a phantom
        # new-side pessimization purely from a cooling host)
        first, second = (news, olds) if i % 2 == 0 else (olds, news)
        fmk, smk = (mk_new, mk_old) if i % 2 == 0 else (mk_old, mk_new)
        first.append(run(fmk))
        second.append(run(smk))
    print("new:", [round(x, 3) for x in news], "best", round(min(news), 3))
    print("old:", [round(x, 3) for x in olds], "best", round(min(olds), 3))
    spark.stop()


if __name__ == "__main__":
    main()
