"""Seeded input generator for the benchmark.

Everything here is a pure function of ``(seed, params)``: the same seed
gives byte-identical parquet files and payload strings.  Nothing imports
Spark, so the generator runs (and is tested) without a JVM.

- ``write_events``     events parquet in the ``schemas.TESTDATA["events"]``
                       shape (user_id = symbol, value = price, ts = as_of)
- ``iter_requests``    the seeded request stream of the dashboard loop
- ``QuoteStream``      raw Alpha Vantage / Yahoo micro-batches with planted
                       malformed payloads and recency-skewed updates
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

# independent random streams per use, so adding draws to one never
# shifts another
_EVENTS, _REQUESTS, _QUOTES = 1, 2, 4


def load_params() -> dict:
    with open(os.path.join(HERE, "params.json")) as fh:
        raw = json.load(fh)
    return {w: {k: v["value"] for k, v in ps.items()} for w, ps in raw.items()}


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


# ---------------------------------------------------------------------------
# events (dashboard quote table)
# ---------------------------------------------------------------------------


def events_table(seed: int, p: dict) -> pa.Table:
    rng = _rng(seed, _EVENTS)
    n, n_sym = p["events_rows"], p["symbols"]
    span_us = p["days"] * 86_400_000_000
    ts_us = np.sort(rng.integers(0, span_us, n))
    sym = rng.choice(n_sym, size=n, p=zipf_probs(n_sym, p["zipf_s"]))
    # per-symbol multiplicative random walk, 2-dp prices like a quote feed
    steps = rng.normal(0.0, 0.004, n)
    order = np.argsort(sym, kind="stable")  # grouped by symbol, ts order within
    s_sorted, st = sym[order], steps[order]
    cum = np.cumsum(st)
    first = np.searchsorted(s_sorted, s_sorted)
    walk = cum - (cum[first] - st[first])
    base = rng.uniform(20.0, 400.0, n_sym)
    value = np.empty(n)
    value[order] = np.round(base[s_sorted] * np.exp(walk), 2)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    props = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(
                (np.datetime64(EPOCH, "us") + ts_us.astype("timedelta64[us]")),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(sym.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in props], pa.string()),
        }
    )


def write_events(seed: int, p: dict, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events_table(seed, p), path, row_group_size=16384)
    return path


def _zipf_day_back(rng, p) -> int:
    """Days back from the end of history, Zipf-skewed toward recent."""
    return int(rng.choice(p["days"], p=zipf_probs(p["days"], p["zipf_s"])))


def dashboard_requests(seed: int, p: dict, stream: int, n: int) -> list[dict]:
    """The first ``n`` requests of a stream."""
    return list(itertools.islice(iter_requests(seed, p, stream), n))


def iter_requests(seed: int, p: dict, stream: int):
    """An endless request stream.  Each request is a plain dict (type +
    parameters); the stream is a pure function of (seed, stream), so the
    answer to any request is checkable later.  Types are dealt from
    seeded shuffles of a 20-card deck that holds the mix exactly, so
    every prefix of 20 requests has the same mix."""
    rng = _rng(seed, _REQUESTS, stream)
    deck = [t for t, share in p["mix"].items() for _ in range(round(share * 20))]
    sym_p = zipf_probs(p["symbols"], p["zipf_s"])
    i = 0
    while True:
        for t in rng.permutation(deck):
            yield _request(rng, p, sym_p, f"s{stream}-{i}", str(t))
            i += 1


def _request(rng, p: dict, sym_p, rid: str, t: str) -> dict:
    back = _zipf_day_back(rng, p)
    length = int(rng.integers(1, 8))
    end_day = p["days"] - back
    start_day = max(0, end_day - length)
    start = EPOCH + dt.timedelta(days=start_day)
    end = EPOCH + dt.timedelta(days=end_day) - dt.timedelta(microseconds=1)
    k = 1 + int(rng.integers(0, 4))
    syms = sorted({int(s) for s in rng.choice(p["symbols"], size=k, p=sym_p)})
    req = {"id": rid, "type": t, "start": start, "end": end,
           "symbol": syms[0], "symbols": syms}
    if t == "latest":
        wl = rng.choice(p["symbols"], size=p["watchlist"], replace=False, p=sym_p)
        req["watchlist"] = sorted(int(s) for s in wl)
    if t == "prices_page":
        frac = float(rng.uniform(0.2, 1.0))
        req["after_ts"] = start + (end - start) * frac
        req["after_id"] = 1 << 62
        req["limit"] = p["page_limit"]
    return req


# ---------------------------------------------------------------------------
# raw connector payloads (ingest)
# ---------------------------------------------------------------------------

AV, YAHOO = "alpha_vantage", "yahoo"
AV_DAY0 = dt.date(2018, 1, 1)
YAHOO_T0 = 1_600_000_000


def _malformed(rng, kind: str) -> str:
    if kind == AV:
        choices = [
            '{"Note": "Thank you for using Alpha Vantage! Our standard API call frequency is 5 calls per minute."}',
            '{"Error Message": "Invalid API call. Please retry or visit the documentation."}',
            '{"Global Quote": {}}',
            '{"Global Quote": {"01. symbol": "IBM", "05. pri',
        ]
    else:
        choices = [
            '{"chart": {"result": [{"meta": {"symbol": "IBM", "currency": "USD"}, '
            '"timestamp": [1700000000, 1700000060], "indicators": {"quote": [{"close": [null, null]}]}}]}}',
            '{"chart": {"result": null, "error": {"code": "Not Found", "description": "No data found"}}}',
            '{"chart": {"result": [{"meta": {"symbol": "IBM"',
        ]
    return choices[int(rng.integers(0, len(choices)))]


class QuoteStream:
    """Deterministic sequence of micro-batches of raw quote payloads.

    ``batch(i)`` must be called for i = 0, 1, 2, ... in order (the
    stream remembers the keys it has inserted, so updates can target
    them).  Each batch returns the raw payloads per source, the rows a
    correct parser must produce (``rows``: symbol, as_of epoch µs,
    source, price, currency) and the number of planted malformed
    payloads.  No key appears twice within a batch."""

    def __init__(self, seed: int, p: dict):
        self.seed, self.p = seed, p
        self.symbols = [f"S{i:03d}" for i in range(p["symbols"])]
        self.next_slot = {(s, src): 0 for s in self.symbols for src in (AV, YAHOO)}
        self.keys: list[tuple[str, int, str]] = []  # insertion order
        self.n = 0

    def _as_of_us(self, src: str, slot: int) -> int:
        if src == AV:
            day = AV_DAY0 + dt.timedelta(days=slot)
            return int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        return (YAHOO_T0 + 60 * slot) * 1_000_000

    def _payload(self, rng, sym: str, src: str, as_of_us: int, price: float, variant: int) -> str:
        if src == AV:
            day = dt.datetime.fromtimestamp(as_of_us / 1e6, dt.timezone.utc).date().isoformat()
            if variant:
                q = {"01_symbol": sym.lower(), "05_price": f"{price:.4f}", "07_latest_trading_day": day}
            else:
                q = {"01. symbol": sym, "05. price": f"{price:.4f}", "07. latest trading day": day}
            return json.dumps({"Global Quote": q})
        t = as_of_us // 1_000_000
        n_pts = 1 + int(rng.integers(0, 4))
        stamps = [t - 60 * (n_pts - 1 - j) for j in range(n_pts)]
        closes = [round(price * (1 + 0.001 * (j - n_pts)), 4) for j in range(n_pts)]
        closes[-1] = price
        if variant and n_pts > 1:
            closes[0] = None
        return json.dumps(
            {"chart": {"result": [{"meta": {"symbol": sym, "currency": "USD"},
                                   "timestamp": stamps,
                                   "indicators": {"quote": [{"close": closes}]}}]}}
        )

    def batch(self, i: int) -> dict:
        if i != self.n:
            raise ValueError(f"batches are generated in order: expected {self.n}, got {i}")
        self.n += 1
        p = self.p
        rng = _rng(self.seed, _QUOTES, i)
        payloads = {AV: [], YAHOO: []}
        rows, seen, malformed = [], set(), 0
        prior = len(self.keys)  # updates target keys of earlier batches
        for _ in range(p["payloads_per_batch"]):
            if rng.random() < p["malformed_share"]:
                src = YAHOO if rng.random() < p["yahoo_share"] else AV
                payloads[src].append(_malformed(rng, src))
                malformed += 1
                continue
            key = None
            if prior and rng.random() < p["update_share"]:
                age = int(rng.geometric(p["update_recency_p"])) - 1
                cand = self.keys[max(0, prior - 1 - age)]
                if cand not in seen:
                    key = cand
            if key is None:
                src = YAHOO if rng.random() < p["yahoo_share"] else AV
                sym = self.symbols[int(rng.integers(0, len(self.symbols)))]
                slot = self.next_slot[(sym, src)]
                self.next_slot[(sym, src)] = slot + 1
                key = (sym, self._as_of_us(src, slot), src)
                self.keys.append(key)
            src = key[2]
            seen.add(key)
            price = round(float(rng.uniform(10.0, 500.0)), 4)
            payloads[src].append(self._payload(rng, key[0], src, key[1], price, int(rng.integers(0, 2))))
            rows.append((key[0], key[1], src, price, "USD" if src == YAHOO else None))
        return {"payloads": payloads, "rows": rows, "malformed": malformed}


def user_bytes(rows) -> int:
    """Logical size of quote rows as a user would count it: the symbol
    and source strings, the currency, and 8 bytes each for price and
    timestamp."""
    return sum(len(s) + 8 + 8 + len(src) + len(c or "") for s, _, src, _, c in rows)
