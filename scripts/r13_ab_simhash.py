"""Same-process interleaved A/B for the r13 simhash_df change
(per-bit agg Columns + bitwiseOR chain built through py4j vs one
parsed SQL expression).  Checks exact output equality, then ABBA
noop-sink runs; captures
plans/r13/simhash_neardup_portable_{before,after}.txt."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402

from market_insights_app_spark.functions.text import word_shingles  # noqa: E402
from market_insights_app_spark.operators.dedup import (  # noqa: E402
    hamming64,
    simhash_near_dupes,
)
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def old_simhash_df(df, id_col="doc_id", text_col="text", bits=64,
                   shingle_n=1, portable=False) -> DataFrame:
    """Pre-r13: 32 agg Columns + 32-term bitwiseOR chain via py4j."""
    if portable:
        gh = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    else:
        gh = F.xxhash64(F.col("g"), F.lit(1234567))
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    ).select("id", gh.alias("gh"))
    votes = grams.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("gh"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )

    def bit_value(b: int) -> Column:
        mask = (1 << b) if b < 63 else -(1 << 63)
        return F.when(F.col(f"v{b}") > 0, F.lit(mask).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    out = bit_value(0)
    for b in range(1, bits):
        out = out.bitwiseOR(bit_value(b))
    return votes.select("id", out.alias("h"))


def old_simhash_near_dupes(df, max_hamming=3, bits=64, portable=False):
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    sh = old_simhash_df(df, bits=bits, portable=portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    mask = (1 << chunk_bits) - 1
    exploded = sh.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("h"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "h", "c.ci", "c.cv")
    l, r = exploded.alias("l"), exploded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.ci") == F.col("r.ci"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            hamming64(F.col("l.h"), F.col("r.h")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-simhash", cpus="32")
    load_table(spark, sf_dir, "documents").count()
    from market_insights_app_spark.plans.textml import _docs

    docs = _docs(spark, sf_dir)

    def mk_new():
        return simhash_near_dupes(docs, max_hamming=3, bits=32, portable=True)

    def mk_old():
        return old_simhash_near_dupes(docs, max_hamming=3, bits=32, portable=True)

    new_rows = sorted(map(tuple, mk_new().collect()))
    old_rows = sorted(map(tuple, mk_old().collect()))
    print("rows equal:", new_rows == old_rows, f"({len(new_rows)} pairs)")
    assert new_rows == old_rows

    os.makedirs("plans/r13", exist_ok=True)
    for tag, df in (("before", mk_old()), ("after", mk_new())):
        with open(f"plans/r13/simhash_neardup_portable_{tag}.txt", "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    def run(make):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        make().write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    run(mk_new); run(mk_old)
    news, olds = [], []
    for i in range(6):
        first, second = (news, olds) if i % 2 == 0 else (olds, news)
        fmk, smk = (mk_new, mk_old) if i % 2 == 0 else (mk_old, mk_new)
        first.append(run(fmk))
        second.append(run(smk))
    print("new:", [round(x, 3) for x in news], "best", round(min(news), 3))
    print("old:", [round(x, 3) for x in olds], "best", round(min(olds), 3))
    spark.stop()


if __name__ == "__main__":
    main()
