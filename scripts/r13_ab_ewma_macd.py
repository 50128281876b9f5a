"""Same-process interleaved A/B for the r13 ewma_macd change (two
collect_list windows + per-reference fold re-evaluation vs one fused
window + staged folds).  Checks exact output equality, then ABBA
noop-sink runs; captures plans/r13/ewma_macd_{before,after}.txt."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from market_insights_app_spark.operators import windows as W  # noqa: E402
from market_insights_app_spark.functions.scalars import ts_us  # noqa: E402
from market_insights_app_spark.session import get_spark  # noqa: E402
from market_insights_app_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r13-ab-ewma", cpus="32")
    load_table(spark, sf_dir, "events").count()
    from market_insights_app_spark.plans.core import EVENTS_W, _events
    from market_insights_app_spark.plans.registry import QUERIES

    ev = _events(spark, sf_dir)

    def mk_old():
        w = EVENTS_W()
        e12 = W.ewma("value", w, 12)
        e26 = W.ewma("value", w, 26)
        return ev.select(
            "user_id",
            "event_id",
            ts_us("ts").alias("ts_us"),
            F.round(e12, 6).alias("ewma12"),
            F.round(e26, 6).alias("ewma26"),
            F.round(e12 - e26, 6).alias("macd"),
        )

    def mk_new():
        return QUERIES["ewma_macd"](spark, sf_dir)

    new_rows = sorted(map(tuple, mk_new().collect()))
    old_rows = sorted(map(tuple, mk_old().collect()))
    print("rows equal:", new_rows == old_rows, f"({len(new_rows)} rows)")
    assert new_rows == old_rows

    os.makedirs("plans/r13", exist_ok=True)
    for tag, df in (("before", mk_old()), ("after", mk_new())):
        with open(f"plans/r13/ewma_macd_{tag}.txt", "w") as fh:
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
