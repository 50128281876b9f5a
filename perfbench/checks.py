"""Correctness checks, run outside the timed window.

Each check returns a list of mismatch descriptions (empty = correct).
The dashboard and ingest answers are compared with DuckDB over the same
inputs.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

from market_insights_app_spark.llm.insights import DEMO_FALLBACK
from market_insights_app_spark.plans.core_oracles import CORE_ORACLES

_NUM = (int, float, decimal.Decimal)


def _num(v) -> bool:
    return isinstance(v, _NUM) and not isinstance(v, bool)


def _close(a, b, tol: float) -> bool:
    if _num(a) and _num(b):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= tol + 1e-9 * max(abs(a), abs(b))
    return a == b


def _key(row) -> tuple:
    return tuple((1, round(float(v), 3)) if _num(v) else (0, str(v)) for v in row)


def diff_rows(got, want, ordered: bool = False, tol=1e-6) -> str | None:
    """None if the row lists match, else why not.  Numbers match within
    ``tol``: one value for every column, or a sequence with one per
    column."""
    got, want = [tuple(r) for r in got], [tuple(r) for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    for g, w in zip(got, want):
        tols = tol if isinstance(tol, (tuple, list)) else [tol] * len(w)
        if len(g) != len(w) or not all(_close(a, b, t) for a, b, t in zip(g, w, tols)):
            return f"row {g} != expected {w}"
    return None


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

_TRADES = """
    WITH t AS (
      SELECT event_id AS id, ts AS date,
             CASE WHEN event_type IN ('purchase', 'view', 'signup') THEN 'Long' ELSE 'Short' END AS direction,
             1.0::DOUBLE + event_id % 5 AS qty, value AS entry,
             CASE WHEN event_type IN ('purchase', 'view', 'signup') THEN value * 0.98::DOUBLE
                  ELSE value * 1.02::DOUBLE END AS stop,
             value * (1.0::DOUBLE + (event_id % 7 - 3) * 0.01::DOUBLE) AS exit,
             0.5::DOUBLE AS fees
      FROM ev WHERE user_id = $sym AND ts BETWEEN $start AND $end),
    p AS (SELECT *, CASE WHEN direction = 'Long' THEN exit - entry ELSE entry - exit END * qty - fees AS pnl FROM t),
    s AS (SELECT *, coalesce(pnl / nullif(abs(entry - stop) * abs(qty), 0), 0) AS r FROM p)
"""


def _ts(v: dt.datetime) -> str:
    return f"TIMESTAMP '{v.isoformat(sep=' ')}'"


def expected_dashboard(con, req) -> dict:
    """The answer to ``req`` computed by DuckDB over view ``ev``."""
    t = req["type"]
    prm = {"start": req["start"], "end": req["end"]}
    if t == "prices_page":
        rows = con.execute(
            """SELECT event_id, ts, user_id, value FROM ev
               WHERE user_id = $sym AND ts BETWEEN $start AND $end
                 AND (ts < $ats OR (ts = $ats AND event_id < $aid))
               ORDER BY ts DESC, event_id DESC LIMIT $lim""",
            {**prm, "sym": req["symbol"], "ats": req["after_ts"], "aid": req["after_id"],
             "lim": req["limit"]}).fetchall()
        return {"page": rows}
    if t == "latest":
        return {"latest": con.execute(
            """SELECT user_id, event_id, ts, value FROM ev
               WHERE ts <= $end AND list_contains($wl, user_id)
               QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
            {"end": req["end"], "wl": req["watchlist"]}).fetchall()}
    if t == "positions":
        return {"positions": con.execute(
            """WITH tx AS (
                 SELECT user_id,
                        CASE event_type WHEN 'purchase' THEN 'BUY' WHEN 'click' THEN 'SELL' ELSE 'DIV' END AS type,
                        value AS qty, value / 10 AS price, 0.5::DOUBLE AS fees
                 FROM ev WHERE ts BETWEEN $start AND $end),
               agg AS (
                 SELECT user_id,
                        sum(CASE type WHEN 'BUY' THEN qty WHEN 'SELL' THEN -qty ELSE 0 END) AS qty,
                        sum(CASE WHEN type = 'BUY' THEN qty * price ELSE 0 END) AS cost,
                        sum(CASE WHEN type IN ('BUY', 'SELL') THEN fees ELSE 0 END) AS fees,
                        sum(CASE WHEN type = 'BUY' THEN qty ELSE 0 END) AS buys
                 FROM tx GROUP BY user_id),
               lp AS (
                 SELECT user_id, value AS last FROM ev WHERE ts <= $end
                 QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
               SELECT a.user_id, qty, cost, fees, buys, coalesce(cost / nullif(buys, 0), 0),
                      last, last * qty
               FROM agg a LEFT JOIN lp USING (user_id)""", prm).fetchall()}
    if t == "journal":
        prm["sym"] = req["symbol"]
        stats = con.execute(_TRADES + """
            SELECT count(*), sum((pnl > 0)::BIGINT), round(100.0 * sum((pnl > 0)::BIGINT) / count(*), 0),
                   round(sum(pnl), 2), round(avg(r), 4) FROM s""", prm).fetchall()
        curve = con.execute(_TRADES + """
            SELECT id, pnl, r, sum(pnl) OVER (ORDER BY date, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            FROM s""", prm).fetchall()
        pnls = [r[1] for r in curve]
        hist = []
        if pnls:
            lo, hi = min(pnls), max(pnls)
            step = (hi - lo) / 10 if hi > lo else 1.0
            counts: dict[int, int] = {}
            for v in pnls:
                b = int(min(9, max(0, math.floor((v - lo) / step))))
                counts[b] = counts.get(b, 0) + 1
            hist = [(b, n, round(lo + b * step, 6), round(lo + (b + 1) * step, 6))
                    for b, n in counts.items()]
        return {"stats": stats, "curve": curve, "hist": hist}
    if t in ("ict", "insights"):
        syms = ", ".join(str(int(s)) for s in req["symbols"])
        con.execute(
            f"""CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM ev
                WHERE user_id IN ({syms}) AND ts BETWEEN {_ts(req['start'])} AND {_ts(req['end'])}""")
        ict = con.execute(CORE_ORACLES["ict_analysis"]).fetchall()
        if t == "ict":
            return {"ict": ict}
        return {"insights": [
            (str(r[0]),
             "Analyze %s: bias=%s zone=%s range=[%.4f, %.4f] last=%.4f. "
             "Give entry plan with entry/stop/target levels." % (r[0], r[6], r[5], r[1], r[2], r[4]),
             DEMO_FALLBACK)
            for r in ict]}
    raise ValueError(f"unknown request type {t!r}")


# journal stats are rounded (total_pnl to 2 dp, avg_r to 4 dp): compare
# those to one unit of their rounding, since the sums' order differs
_TOL = {"stats": (0, 0, 1e-6, 0.011, 0.00011)}


def check_dashboard(sf_dir: str, samples) -> list[str]:
    """``samples``: (request, {part: rows}) pairs recorded in the loop."""
    con = duckdb.connect()
    try:
        path = f"{sf_dir}/events.parquet".replace("'", "''")
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{path}')")
        errors = []
        for req, got in samples:
            want = expected_dashboard(con, req)
            if set(got) != set(want):
                errors.append(f"{req['id']} ({req['type']}): parts {sorted(got)} != {sorted(want)}")
                continue
            for part in want:
                d = diff_rows(got[part], want[part], ordered=(part == "page"),
                              tol=_TOL.get(part, 1e-6))
                if d is not None:
                    errors.append(f"{req['id']} ({req['type']}/{part}): {d}")
        return errors
    finally:
        con.close()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class QuoteOracle:
    """DuckDB latest-wins over the committed batches: the expected table
    after the first k batches, and its newest quote per symbol."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE rows (batch INT, symbol VARCHAR, as_of_us BIGINT, source VARCHAR, "
            "price DOUBLE, currency VARCHAR)")
        self._latest: dict[int, list] = {}

    def add_batch(self, i: int, rows) -> None:
        self.con.executemany("INSERT INTO rows VALUES (?, ?, ?, ?, ?, ?)",
                             [(i, *r) for r in rows])

    def state(self, k: int) -> list[tuple]:
        return self.con.execute(
            """SELECT symbol, as_of_us, source, price, currency FROM rows WHERE batch < $k
               QUALIFY row_number() OVER (PARTITION BY symbol, as_of_us, source ORDER BY batch DESC) = 1""",
            {"k": k}).fetchall()

    def latest(self, k: int) -> list[tuple]:
        if k not in self._latest:
            self._latest[k] = self.con.execute(
                """WITH s AS (
                     SELECT symbol, as_of_us, source, price FROM rows WHERE batch < $k
                     QUALIFY row_number() OVER (PARTITION BY symbol, as_of_us, source ORDER BY batch DESC) = 1)
                   SELECT * FROM s
                   QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY as_of_us DESC, source DESC) = 1""",
                {"k": k}).fetchall()
        return self._latest[k]

    def view(self, k: int) -> list[tuple]:
        """Per-symbol (sum of price, count) of the table after k batches."""
        return self.con.execute(
            """WITH s AS (
                 SELECT symbol, as_of_us, source, price FROM rows WHERE batch < $k
                 QUALIFY row_number() OVER (PARTITION BY symbol, as_of_us, source ORDER BY batch DESC) = 1)
               SELECT symbol, sum(price), count(*) FROM s GROUP BY symbol""",
            {"k": k}).fetchall()

    def close(self) -> None:
        self.con.close()


def check_ingest(oracle: QuoteOracle, final_rows, view_rows, committed: int, reads) -> list[str]:
    """``final_rows``: the table after ``committed`` batches;
    ``view_rows``: the incrementally maintained per-symbol view then
    (None when the run kept no view);
    ``reads``: (k_lo, k_hi, rows) per fresh read — a read is whole iff
    it equals the newest-per-symbol view of some k in [k_lo, k_hi]."""
    errors = []
    d = diff_rows(final_rows, oracle.state(committed))
    if d is not None:
        errors.append(f"final snapshot after {committed} batches: {d}")
    d = None if view_rows is None else diff_rows(view_rows, oracle.view(committed))
    if d is not None:
        errors.append(f"maintained view after {committed} batches: {d}")
    for n, (lo, hi, rows) in enumerate(reads):
        if not any(diff_rows(rows, oracle.latest(k)) is None for k in range(lo, hi + 1)):
            errors.append(f"fresh read {n} matches no committed version in batches [{lo}, {hi}]")
    return errors
