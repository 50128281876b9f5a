"""Interleaved same-process A/B for the bigram_lm single-tokenize
restructure (r13 §12): old = 4 regex tokenize passes over the corpus
(join side, bgc, w1c — recomputed because pushed-down null filters
break exchange reuse — and vocab), new = ONE tokenize pass into a lazy
localCheckpoint + bgc materialized once for w1c.

    python scripts/r13_ab_bigram.py [rounds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from market_insights_app_spark.operators.quality import (
    _lower_tokens,
    _bigrams_multiset,
    bigram_logprob,
)
from market_insights_app_spark.session import get_spark
from market_insights_app_spark.sources.tables import load_table


def bigram_logprob_old(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The pre-r13 shape, inlined for the A/B."""
    toks = _lower_tokens(text_col)
    pairs = df.select(
        F.col(id_col), F.explode(_bigrams_multiset(text_col)).alias("bg")
    )
    bgc = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    w1c = (
        bgc.select(F.split("bg", " ", 2).getItem(0).alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vocab_n = df.select(F.explode(toks).alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    lp = (
        pairs.join(bgc.hint("merge"), "bg")
        .withColumn("w1", F.split("bg", " ", 2).getItem(0))
        .join(F.broadcast(w1c), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            F.col(id_col),
            F.log(
                (F.col("c12") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    return lp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
    )


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-bigram", cpus="32")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(docs).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # output equality first (order-insensitive)
    a = sorted(map(tuple, bigram_logprob_old(docs).collect()))
    b = sorted(map(tuple, bigram_logprob(docs).collect()))
    assert a == b, f"OUTPUT MISMATCH: {len(a)} vs {len(b)} rows"
    print(f"outputs identical: {len(a)} rows")

    olds, news = [], []
    for i in range(rounds):
        spark.sparkContext._jvm.System.gc()
        news.append(run(bigram_logprob))
        spark.sparkContext._jvm.System.gc()
        olds.append(run(bigram_logprob_old))
    print("new:", " ".join(f"{t:.3f}" for t in news),
          f"best {min(news):.3f} med {sorted(news)[len(news)//2]:.3f}")
    print("old:", " ".join(f"{t:.3f}" for t in olds),
          f"best {min(olds):.3f} med {sorted(olds)[len(olds)//2]:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
