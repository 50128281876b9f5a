"""Same-process interleaved A/B for an ewma rewrite: per-row
collect_list + reverse + interpreted zip_with/aggregate fold (old) vs
an explicit lag-chain whose additions replay the exact fold order
(new).  Checks bit-level output equality (unrounded doubles) before
timing; captures before/after formatted plans for ewma_macd."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, functions as F  # noqa: E402
from pyspark.sql.window import WindowSpec  # noqa: E402

from market_insights_app_spark.operators import windows as W  # noqa: E402
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def ewma_lag(value, w: WindowSpec, span: int) -> Column:
    """lag-chain form: num = ((0 + t0) + t1) + ... with t_k =
    coalesce(lag(v,k),0)*w_k — the same IEEE addition order as the
    fold (acc starts at 0.0; missing-history terms contribute +0.0,
    which is an exact no-op on every reachable partial sum)."""
    v = F.col(value) if isinstance(value, str) else value
    v = F.coalesce(v.cast("double"), F.lit(0.0))
    wts = W.ewma_weights(span)
    dens, acc = [], 0.0
    for x in wts:
        acc += x
        dens.append(acc)
    den_lits = F.array(*[F.lit(x) for x in dens])
    num = F.lit(0.0)
    for k, wk in enumerate(wts):
        vk = v if k == 0 else F.coalesce(F.lag(v, k).over(w), F.lit(0.0))
        num = num + vk * F.lit(wk)
    m = F.least(F.row_number().over(w), F.lit(span))
    return num / F.element_at(den_lits, m)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-ewma", cpus="32")
    load_table(spark, sf_dir, "events").count()
    from market_insights_app_spark.plans.core import _events, EVENTS_W, ts_us

    ev = _events(spark, sf_dir)
    w = EVENTS_W()

    def q(ewma_fn):
        e12 = ewma_fn("value", w, 12)
        e26 = ewma_fn("value", w, 26)
        return ev.select(
            "user_id",
            "event_id",
            ts_us("ts").alias("ts_us"),
            F.round(e12, 6).alias("ewma12"),
            F.round(e26, 6).alias("ewma26"),
            F.round(e12 - e26, 6).alias("macd"),
        )

    old_df, new_df = q(W.ewma), q(ewma_lag)
    # bit-level equality on the UNROUNDED doubles too
    def unrounded(ewma_fn):
        e12 = ewma_fn("value", w, 12)
        e26 = ewma_fn("value", w, 26)
        return ev.select("event_id", e12.alias("a"), e26.alias("b"))

    import math

    def key(rows):
        return sorted(
            (r[0], repr(r[1]), repr(r[2])) for r in rows
        )

    ur_old = key(unrounded(W.ewma).collect())
    ur_new = key(unrounded(ewma_lag).collect())
    print("unrounded bit-equal:", ur_old == ur_new, f"({len(ur_old)} rows)")
    if ur_old != ur_new:
        diff = [(a, b) for a, b in zip(ur_old, ur_new) if a != b][:5]
        print("first diffs:", diff)
        sys.exit(1)

    os.makedirs("plans/r13", exist_ok=True)
    for tag, df in (("before", old_df), ("after", new_df)):
        with open(f"plans/r13/ewma_macd_{tag}.txt", "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    def run(df):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    run(old_df); run(new_df)
    olds, news = [], []
    for _ in range(5):
        spark.sparkContext._jvm.System.gc()
        news.append(run(q(ewma_lag)))
        spark.sparkContext._jvm.System.gc()
        olds.append(run(q(W.ewma)))
    print("new:", [round(x, 3) for x in news], "best", round(min(news), 3))
    print("old:", [round(x, 3) for x in olds], "best", round(min(olds), 3))
    spark.stop()


if __name__ == "__main__":
    main()
