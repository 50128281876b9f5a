"""``dashboard`` workload: interactive reads over the quote table.

A closed loop of ``clients`` threads on one SparkSession; each sends its
next request when the previous one returns.  Six request types mirror
the app's dashboard panels.  The events table plays the quote table
(user_id = symbol, value = price, ts = as_of, event_id = id), as in the
query registry.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import functions as F

from market_insights_app_spark.llm.insights import (
    build_insights_prompt,
    generate_insights,
)
from market_insights_app_spark.operators.filters import prices_filter
from market_insights_app_spark.operators.ict import analyze_ict
from market_insights_app_spark.operators.journal import (
    equity_curve,
    histogram,
    journal_stats,
    with_trade_scalars,
)
from market_insights_app_spark.operators.pagination import keyset_page
from market_insights_app_spark.operators.positions import compute_positions
from market_insights_app_spark.operators.windows import latest_per_key
from market_insights_app_spark.sources.tables import load_table

import checks
import gen
import sparkstats

TYPES = ("prices_page", "latest", "positions", "journal", "ict", "insights")


def _trades(ev):
    """Journal view of quote events: one trade per event."""
    long_ = F.col("event_type").isin("purchase", "view", "signup")
    entry = F.col("value")
    return ev.select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("symbol"),
        F.col("ts").alias("date"),
        F.when(long_, "Long").otherwise("Short").alias("direction"),
        (F.lit(1.0) + F.col("event_id") % 5).alias("qty"),
        entry.alias("entry"),
        F.when(long_, entry * 0.98).otherwise(entry * 1.02).alias("stop"),
        (entry * (F.lit(1.0) + (F.col("event_id") % 7 - 3) * 0.01)).alias("exit"),
        F.lit(0.5).alias("fees"),
    )


def _ict(ev, req):
    scoped = prices_filter(ev, start=req["start"], end=req["end"],
                           symbol_col="user_id", ts_col="ts")
    scoped = scoped.filter(F.col("user_id").isin(req["symbols"]))
    out = analyze_ict(scoped, ["user_id"], "ts", "event_id")
    return out.select(
        "user_id", "hi", "lo", F.round("mid", 6).alias("mid"), "last", "pd", "bias",
        F.col("equal_highs").cast("int").alias("equal_highs"),
        F.col("equal_lows").cast("int").alias("equal_lows"),
        F.round("ote_lo", 6).alias("ote_lo"), F.round("ote_hi", 6).alias("ote_hi"),
    )


def build(ev, req, tr, traced: bool):
    """The request's result frames by part name.  Each part is
    collected separately, as the app renders each panel separately.
    Traced, the insights request checkpoints its ICT input first, so
    the LLM step is timed on its own."""
    t = req["type"]
    if t == "prices_page":
        f = prices_filter(ev, symbol=req["symbol"], start=req["start"], end=req["end"],
                          symbol_col="user_id", ts_col="ts")
        page = keyset_page(f, "ts", "event_id", req["limit"],
                           after_ts=req["after_ts"], after_id=req["after_id"])
        return {"page": page.select("event_id", "ts", "user_id", "value")}
    if t == "latest":
        f = prices_filter(ev, end=req["end"], symbol_col="user_id", ts_col="ts")
        f = f.filter(F.col("user_id").isin(req["watchlist"]))
        out = latest_per_key(f, ["user_id"], "ts", "event_id")
        return {"latest": out.select("user_id", "event_id", "ts", "value")}
    if t == "positions":
        tx = prices_filter(ev, start=req["start"], end=req["end"],
                           symbol_col="user_id", ts_col="ts").select(
            "user_id",
            F.when(F.col("event_type") == "purchase", "BUY")
            .when(F.col("event_type") == "click", "sell")
            .otherwise("DIV").alias("type"),
            F.col("value").alias("qty"),
            (F.col("value") / 10).alias("price"),
            F.lit(0.5).alias("fees"),
        )
        prices = prices_filter(ev, end=req["end"], symbol_col="user_id", ts_col="ts")
        pos = compute_positions(tx, prices.withColumnRenamed("value", "price"),
                                symbol_col="user_id", price_ts_col="ts",
                                price_id_col="event_id")
        return {"positions": pos.select("user_id", "qty", "cost", "fees", "buys",
                                        "avg_cost", "last", "market_value")}
    if t == "journal":
        trades = _trades(ev).filter(F.col("symbol") == req["symbol"])
        trades = trades.filter(F.col("date").between(req["start"], req["end"]))
        scored = with_trade_scalars(trades)
        return {
            "stats": journal_stats(scored),
            "curve": equity_curve(scored).select("id", "pnl", "r", "equity"),
            # histogram collects min/max itself: one job inside the build
            "hist": histogram(scored, "pnl", bins=10),
        }
    if t == "ict":
        return {"ict": _ict(ev, req)}
    if t == "insights":
        ict = _ict(ev, req)
        if traced:
            with tr.span("plans.exec"):
                ict = ict.localCheckpoint(eager=True)
        with tr.span("llm.insights"):
            prompts = ict.select(
                F.col("user_id").cast("string").alias("key"),
                build_insights_prompt(F.col("user_id").cast("string"), "bias", "pd",
                                      "hi", "lo", "last").alias("prompt"),
            )
            out = generate_insights(prompts)
        return {"insights": out}
    raise ValueError(f"unknown request type {t!r}")


class Dashboard:
    def __init__(self, ctx):
        self.ctx = ctx
        self.p = ctx.params["dashboard"]
        self.sf = ctx.path("dashboard_sf")
        gen.write_events(ctx.seed, self.p, self.sf)
        self.lock = threading.Lock()
        self.rtype: dict[str, str] = {}  # request id -> type, for per-type spans

    def request(self, req, layer: dict | None):
        """Run one request; returns {part: rows}.  With ``layer`` set
        (traced phase) also plan-force each part and record counts."""
        ctx, tr = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        rid = req["id"]
        self.rtype[rid] = req["type"]
        if layer is not None:
            sc.setJobGroup(rid, req["type"])
        out = {}
        with tr.span("request", rid):
            with tr.span("sources.load"):
                ev = load_table(ctx.spark, self.sf, "events")
            with tr.span("operators.build"):
                frames = build(ev, req, tr, layer is not None)
            for part, df in frames.items():
                if layer is not None:
                    with tr.span("plans.plan"):
                        sparkstats.force_plan(df)
                with tr.span("llm.insights" if req["type"] == "insights" else "plans.exec"):
                    out[part] = [tuple(r) for r in df.collect()]
                if layer is not None:
                    c = sparkstats.plan_counts(df)
                    for k in ("exchanges", "rows_scanned"):
                        layer[k] += c[k]
                    layer["rows_returned"] += len(out[part])
        if layer is not None:
            jobs, tasks = sparkstats.job_counts(sc, rid)
            layer["jobs"] += jobs
            layer["tasks"] += tasks
            sc.setJobGroup("", "")
        return out

    def loop(self, traced: bool, seconds: float, stream: int = 0) -> dict:
        """Closed loop of ``clients`` threads for ``seconds``, taking
        requests in turn from one seeded stream, so the requests done in
        a window are always a prefix of it.  Returns latencies (all and
        per type), attempted/failed counts, sampled answers and, when
        traced, per-type layer counts."""
        requests = gen.iter_requests(self.ctx.seed, self.p, stream)
        seen = {t: 0 for t in TYPES}
        results = {"lat": [], "by_type": {t: [] for t in TYPES}, "attempted": 0, "failed": 0,
                   "samples": [], "errors": [],
                   "layer": {t: {"n": 0, "exchanges": 0, "rows_scanned": 0, "rows_returned": 0,
                                 "jobs": 0, "tasks": 0} for t in TYPES}}

        def client() -> None:
            while True:
                with self.lock:
                    if time.perf_counter() >= deadline:
                        return
                    req = next(requests)
                layer = None
                if traced:
                    layer = {k: 0 for k in ("exchanges", "rows_scanned", "rows_returned", "jobs", "tasks")}
                t0 = time.perf_counter()
                try:
                    ans = self.request(req, layer)
                    err = None
                except Exception as e:  # a failed request is counted, not fatal
                    ans, err = None, f"{req['id']}: {type(e).__name__}: {e}"
                dt = time.perf_counter() - t0
                with self.lock:
                    results["attempted"] += 1
                    if err is not None:
                        results["failed"] += 1
                        results["errors"].append(err)
                        continue
                    results["lat"].append(dt)
                    results["by_type"][req["type"]].append(dt)
                    if seen[req["type"]] < self.p["checks_per_type"]:
                        seen[req["type"]] += 1
                        results["samples"].append((req, ans))
                    if layer is not None:
                        agg = results["layer"][req["type"]]
                        agg["n"] += 1
                        for k, v in layer.items():
                            agg[k] += v

        threads = [threading.Thread(target=client) for _ in range(self.p["clients"])]
        t0 = time.perf_counter()
        deadline = t0 + seconds
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        results["elapsed"] = time.perf_counter() - t0
        return results

    def warm_up(self) -> None:
        """One request of each type, spread over the clients, then
        ``warm_up_s`` of closed-loop traffic from another stream, so code
        generation, JIT compilation and lazy set-up finish before
        timing."""
        stream = gen.dashboard_requests(self.ctx.seed, self.p, 99, 40)
        reqs = [next(r for r in stream if r["type"] == t) for t in TYPES]
        clients = self.p["clients"]

        def run(c: int) -> None:
            for r in reqs[c::clients]:
                self.request(r, None)

        threads = [threading.Thread(target=run, args=(c,)) for c in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        warm = self.loop(False, self.p["warm_up_s"], stream=98)
        if warm["errors"]:
            raise RuntimeError(f"warm-up failed: {warm['errors'][:3]}")

    def check(self, samples) -> list[str]:
        return checks.check_dashboard(self.sf, samples)
