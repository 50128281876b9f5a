"""``ingest_merge`` workload: writes beside reads on one TxnTable.

One writer thread parses raw Alpha Vantage and Yahoo payloads through
``sources.http_quotes`` and commits each micro-batch with
``streaming_merge_sink(..., app=...)``; every ``optimize_every``-th
commit is followed by ``optimize()``.  One reader thread meanwhile runs
fresh reads in a closed loop: ``read()``, then ``latest_per_key`` per
symbol, collected.

A traced window also keeps a per-symbol (sum of price, count) view with
``pipelines.incremental_ingest``: materialised before the window and
rolled forward over every version it committed afterwards, so the
pipeline's cost per version is measured without adding a third actor
to the timed traffic.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import functions as F

from market_insights_app_spark.operators.windows import latest_per_key
from market_insights_app_spark.pipelines.incremental_ingest import maintain_agg_over_versions
from market_insights_app_spark.sources.http_quotes import (
    parse_alpha_vantage_quote,
    parse_yahoo_chart,
)
from market_insights_app_spark.storage.txnlog import TxnTable, streaming_merge_sink

import checks
import gen

KEY = ["symbol", "as_of", "source"]


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Ingest:
    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.p = ctx.params["ingest_merge"]
        self.stream = gen.QuoteStream(ctx.seed, self.p)
        self.oracle = checks.QuoteOracle()
        self.table = TxnTable(ctx.spark, ctx.path(name),
                              checkpoint_interval=self.p["checkpoint_interval"])
        self.sink = streaming_merge_sink(self.table, KEY, app="perfbench")
        self.started = self.done = 0  # batches whose merge began / returned
        self.sent_rows: list = []
        self.lock = threading.Lock()

    def _parse(self, payloads: dict):
        spark = self.ctx.spark
        frames = []
        for src, parse in ((gen.AV, parse_alpha_vantage_quote), (gen.YAHOO, parse_yahoo_chart)):
            if payloads[src]:
                raw = spark.createDataFrame([(s,) for s in payloads[src]], "payload string")
                frames.append(parse(raw))
        parsed = frames[0]
        for f in frames[1:]:
            parsed = parsed.unionByName(f)
        return parsed

    def commit_next(self, layer: dict | None) -> tuple[float, int]:
        """Generate, parse and merge the next micro-batch (plus the
        scheduled optimize); returns (seconds, rows committed)."""
        tr = self.ctx.tracer
        i = self.stream.n
        b = self.stream.batch(i)
        self.oracle.add_batch(i, b["rows"])
        self.sent_rows.extend(b["rows"])
        if layer is not None:
            layer["planted"] += b["malformed"]
        t0 = time.perf_counter()
        with tr.span("commit", f"b{i}"):
            with tr.span("sources.parse"):
                parsed = self._parse(b["payloads"])
                if layer is not None:
                    parsed = parsed.localCheckpoint(eager=True)
                    layer["rejected"] += parsed.filter(F.col("error").isNotNull()).count()
                good = parsed.filter(F.col("error").isNull()).drop("error")
            with self.lock:
                self.started = i + 1
            with tr.span("storage.merge"):
                self.sink(good, i)
            with self.lock:
                self.done = i + 1
            if (i + 1) % self.p["optimize_every"] == 0:
                with tr.span("storage.optimize"):
                    self.table.optimize("symbol")
        return time.perf_counter() - t0, len(b["rows"])

    def fresh_read(self, layer: dict | None) -> tuple[float, tuple]:
        tr = self.ctx.tracer
        with self.lock:
            lo = self.done
        t0 = time.perf_counter()
        with tr.span("read"):
            if layer is not None:
                with tr.span("storage.snapshot"):
                    snap = self.table.snapshot()
                layer["replayed"] += self._replayed(snap.version)
                layer["live_dirs"] += len(snap.files)
            with tr.span("storage.read"):
                df = self.table.read()
            with tr.span("operators.build"):
                latest = latest_per_key(df, ["symbol"], "as_of", "source").select(
                    "symbol", F.unix_micros("as_of").alias("as_of_us"), "source", "price")
            with tr.span("plans.exec"):
                rows = [tuple(r) for r in latest.collect()]
        dt = time.perf_counter() - t0
        with self.lock:
            hi = self.started
        return dt, (lo, hi, rows)

    def start_view(self) -> None:
        """Materialise the view at the newest version: the base that
        maintenance rolls forward."""
        v = self.table.snapshot().version
        agg = self.table.read(v).groupBy("symbol").agg(
            F.sum("price").alias("sum_price"), F.count(F.lit(1)).alias("cnt"))
        self.view, self.view_version = agg.localCheckpoint(eager=True), v

    def refresh_view(self) -> int:
        """Roll the view forward to the newest committed version; returns
        how many versions it advanced (0: already current)."""
        target = self.table.snapshot().version
        if target <= self.view_version:
            return 0
        agg = maintain_agg_over_versions(
            self.table, "symbol", "price", self.view_version, target, self.view, KEY)
        self.view = agg.localCheckpoint(eager=True)
        advanced, self.view_version = target - self.view_version, target
        return advanced

    def view_rows(self) -> list[tuple]:
        return [tuple(r) for r in self.view.select("symbol", "sum_price", "cnt").collect()]

    def _replayed(self, version: int) -> int:
        """Log entries a snapshot at ``version`` replays after its
        newest checkpoint."""
        names = os.listdir(os.path.join(self.table.path, "_txn_log"))
        cps = [int(n[len("checkpoint-"):-5]) for n in names
               if n.startswith("checkpoint-") and n.endswith(".json")]
        base = max((c for c in cps if c <= version), default=-1)
        return version - base

    def run(self, seconds: float, traced: bool, commits: int = 0) -> dict:
        """Writer and reader threads for ``seconds``, or, with
        ``commits`` set, until the writer has made that many commits."""
        res = {"commit": [], "rows": 0, "reads": [], "read_lat": [], "errors": [],
               "attempted": 0, "failed": 0,
               "wlayer": {"rejected": 0, "planted": 0}, "rlayer": {"replayed": 0, "live_dirs": 0}}
        stop = threading.Event()

        def guarded(fn, kind):
            try:
                fn()
            except Exception as e:  # counted as a failed operation, then stop
                with self.lock:
                    res["failed"] += 1
                    res["attempted"] += 1
                    res["errors"].append(f"{kind}: {type(e).__name__}: {e}")
                stop.set()

        def writer():
            while not stop.is_set() and (len(res["commit"]) < commits if commits
                                         else time.perf_counter() < deadline):
                dt, n = self.commit_next(res["wlayer"] if traced else None)
                with self.lock:
                    res["commit"].append(dt)
                    res["rows"] += n
                    res["attempted"] += 1
            stop.set()

        def reader():
            while not stop.is_set():
                dt, read = self.fresh_read(res["rlayer"] if traced else None)
                with self.lock:
                    res["read_lat"].append(dt)
                    res["reads"].append(read)
                    res["attempted"] += 1

        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [threading.Thread(target=guarded, args=(writer, "commit")),
                   threading.Thread(target=guarded, args=(reader, "read"))]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        res["elapsed"] = time.perf_counter() - t0
        return res

    def final_rows(self) -> list[tuple]:
        df = self.table.read().select(
            "symbol", F.unix_micros("as_of").alias("as_of_us"), "source", "price", "currency")
        return [tuple(r) for r in df.collect()]

    def close(self) -> None:
        self.oracle.close()

    def storage_counts(self) -> dict:
        """Space and rewrite figures from the table's own log and files."""
        snap = self.table.snapshot()
        hist = self.table.history()
        merges = [c for c in hist if c.get("op") == "merge"]
        live = sum(_du(os.path.join(self.table.path, d)) for d in snap.files)
        written = _du(os.path.join(self.table.path, "data"))
        final_user = gen.user_bytes(self.oracle.state(self.done))
        return {
            "dirs_rewritten_per_merge": sum(len(c.get("remove", [])) for c in merges) / max(1, len(merges)),
            "commit_retries": sum(c["version"] - c["read_version"] - 1 for c in hist
                                  if c.get("read_version") is not None),
            "stored_bytes_per_user_byte": live / max(1, final_user),
            "bytes_written_per_user_byte": written / max(1, gen.user_bytes(self.sent_rows)),
        }
