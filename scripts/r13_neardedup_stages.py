"""Stage-level timing for near_dedup_corpus_exact's dense lane at
sf0.1 — splits the build into vocab probe / mask checkpoint / mask
census / driver CC / label-plan build, plus the noop exec, best-of-N
each pass, to localize drift (r12 verdict #4 discipline: stage
timeline, not wall re-time)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from market_insights_app_spark.operators.dedup import (  # noqa: E402
    _DENSE_CC_DRIVER_CAP,
    _mask_components_numpy,
)
from market_insights_app_spark.functions.text import word_shingles  # noqa: E402
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-neardedup-stages", cpus="32")
    from market_insights_app_spark.plans.registry import QUERIES

    QUERIES["prices_filter_range_limit"](spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()
    load_table(spark, sf_dir, "documents").count()
    from market_insights_app_spark.plans.textml import _docs

    for rep in range(3):
        t = {}
        t0 = time.perf_counter()
        df = _docs(spark, sf_dir)
        sets = df.select(
            F.col("doc_id").alias("id"),
            word_shingles("text", 1).alias("gs"),
        )
        vocab_rows = (
            sets.select(F.explode("gs").alias("g"))
            .distinct().limit(65).collect()
        )
        t["vocab_probe"] = time.perf_counter() - t0
        vocab = sorted(r["g"] for r in vocab_rows)
        vsql = "array(" + ",".join(
            "'" + g.replace("'", "''") + "'" for g in vocab) + ")"
        t0 = time.perf_counter()
        dm = (
            sets.filter(F.size("gs") > 0)
            .select(
                "id",
                F.expr(
                    "aggregate(gs, 0L, (acc, g) -> acc | "
                    f"shiftleft(1L, int(array_position({vsql}, g) - 1)))"
                ).alias("mask"),
            )
            .localCheckpoint(eager=True)
        )
        t["mask_ckpt"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        masks = dm.select("mask").distinct()
        n_masks = masks.count()
        t["mask_census"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        vals = [r["mask"] for r in masks.collect()]
        t["mask_collect"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        pairs = _mask_components_numpy(vals, 0.5)
        t["numpy_cc"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        mlab = spark.createDataFrame(pairs, "mask long, mcomp long")
        cnt = dm.groupBy("mask").agg(F.count(F.lit(1)).alias("n_docs"))
        labeled = (
            dm.join(F.broadcast(mlab), "mask", "left")
            .join(F.broadcast(cnt), "mask")
            .filter(F.col("mcomp").isNotNull() | (F.col("n_docs") >= 2))
            .select(
                "id", F.coalesce(F.col("mcomp"), F.col("mask")).alias("comp")
            )
        )
        rep_df = labeled.groupBy("comp").agg(F.min("id").alias("cluster"))
        out = labeled.join(F.broadcast(rep_df), "comp").select("id", "cluster")
        t["label_plan"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        out.write.mode("overwrite").format("noop").save()
        t["exec"] = time.perf_counter() - t0
        dm.unpersist()
        print(
            f"rep{rep}: n_masks={n_masks} cc_pairs={len(pairs)} "
            + " ".join(f"{k}={v:.3f}" for k, v in t.items())
            + f" total={sum(t.values()):.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
