"""Interleaved same-process A/B for the r13 single-tokenize
restructures of repetition_features (doc_repetition) and
unigram_logprob (lm_quality) — old shapes inlined, output equality
asserted before timing.

    python scripts/r13_ab_quality.py [rounds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from market_insights_app_spark.operators.quality import (
    _bigrams_multiset,
    _lower_tokens,
    repetition_features,
    unigram_logprob,
)
from market_insights_app_spark.session import get_spark
from market_insights_app_spark.sources.tables import load_table


def repetition_features_old(df: DataFrame) -> DataFrame:
    base = df.select(F.col("doc_id").alias("id"), F.col("text").alias("__t"))
    tok = base.select("id", F.explode(_lower_tokens("__t")).alias("tok"))
    tok_counts = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_tok = tok_counts.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )
    big = base.select("id", F.explode(_bigrams_multiset("__t")).alias("g"))
    big_counts = big.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_big = big_counts.groupBy("id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_big")
    )
    return per_tok.join(per_big, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens"),
        (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
        (F.col("top_tok") / F.col("n_tokens")).alias("top_token_share"),
        (F.col("top_big") / F.col("n_bigrams")).alias("top_bigram_share"),
    )


def unigram_logprob_old(df: DataFrame) -> DataFrame:
    toks = df.select(
        F.col("doc_id"), F.explode(_lower_tokens("text")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lp = (
        toks.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("doc_id"),
            F.log(F.col("cnt").cast("double") / F.col("total")).alias("lp"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-quality", cpus="32")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()

    pairs = [
        ("repetition", lambda: repetition_features(docs),
         lambda: repetition_features_old(docs)),
        ("unigram_lm", lambda: unigram_logprob(docs),
         lambda: unigram_logprob_old(docs)),
    ]
    for name, new_fn, old_fn in pairs:
        a = sorted(map(tuple, old_fn().collect()))
        b = sorted(map(tuple, new_fn().collect()))
        assert a == b, f"{name}: OUTPUT MISMATCH ({len(a)} vs {len(b)})"
        print(f"{name}: outputs identical ({len(a)} rows)")

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn().write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    for name, new_fn, old_fn in pairs:
        olds, news = [], []
        for _ in range(rounds):
            spark.sparkContext._jvm.System.gc()
            news.append(run(new_fn))
            spark.sparkContext._jvm.System.gc()
            olds.append(run(old_fn))
        print(f"{name} new:", " ".join(f"{t:.3f}" for t in news),
              f"best {min(news):.3f}")
        print(f"{name} old:", " ".join(f"{t:.3f}" for t in olds),
              f"best {min(olds):.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
