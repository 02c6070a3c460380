"""Seeded input generators for the benchmark workloads.

Everything the package under test receives is made here from one seed:

- ``Market``: a minute-level price path per spot symbol plus a stream of
  Deribit-shape option trades. It backs two fake exchange transports
  (``KlinesTransport`` and ``TradesTransport``) that are handed to
  ``sources.rest`` as ``transport=``; the DuckDB gate recomputes the
  expected tables from the same minute path and trade list.
- ``write_history``: the pre-loaded bronze candle and trade tables.
- ``write_events``: the ``events`` table the gold queries read.
- ``tick_files``: the tick files the streaming workload lands, with a
  seeded share of late files that carry ticks for earlier days.

The same seed gives the same inputs; any seed gives a valid workload.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT")
_BASE_PRICE = {"BTCUSDT": 42000.0, "ETHUSDT": 2500.0, "SOLUSDT": 100.0}
_MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()
MINUTE_MS = 60_000
HOUR_MS = 3_600_000


def to_ms(t: datetime) -> int:
    return int(t.replace(tzinfo=timezone.utc).timestamp() * 1000)


def last_friday(year: int, month: int) -> datetime:
    nxt = datetime(year + month // 12, month % 12 + 1, 1)
    d = nxt - timedelta(days=1)
    return d - timedelta(days=(d.weekday() - 4) % 7)


class TransientError(ConnectionError):
    """A recoverable exchange error (the collector's retry absorbs it)."""


class Market:
    """Seeded minute path per symbol and option trades over ``[t0, t1)``.

    Prices are rounded to cents and volumes and amounts are whole or
    tenth units, so every sum the pipeline takes is exact and the DuckDB
    recomputation can be compared bit for bit.
    """

    def __init__(self, seed: int, t0: datetime, t1: datetime,
                 trades_per_hour: float = 20.0) -> None:
        rng = np.random.default_rng(seed)
        self.t0 = t0
        self.t0_ms = to_ms(t0)
        n = int((t1 - t0).total_seconds() // 60)
        self.n_minutes = n
        self.prices: dict[str, np.ndarray] = {}
        self.volumes: dict[str, np.ndarray] = {}
        for sym in SYMBOLS:
            steps = rng.normal(0.0, 0.0008, n)
            path = _BASE_PRICE[sym] * np.exp(np.cumsum(steps))
            # whole cents / 100 is the double nearest the decimal price,
            # the same double the collector parses from the kline string
            self.prices[sym] = np.round(path * 100.0) / 100.0
            self.volumes[sym] = rng.integers(1, 50, n).astype(np.float64)
        self._hourly = {s: self._hour_table(s) for s in SYMBOLS}
        self.trades = self._make_trades(rng, n, trades_per_hour)
        self.trade_ms = self.trades["timestamp"]

    def _hour_table(self, sym: str) -> np.ndarray:
        p, v = self.prices[sym], self.volumes[sym]
        nh = self.n_minutes // 60
        p2, v2 = p[: nh * 60].reshape(nh, 60), v[: nh * 60].reshape(nh, 60)
        return np.stack(
            [p2[:, 0], p2.max(1), p2.min(1), p2[:, -1], v2.sum(1)], axis=1
        )

    def _make_trades(self, rng, n_minutes: int, per_hour: float) -> dict:
        counts = rng.poisson(per_hour / 60.0, n_minutes)
        minute = np.repeat(np.arange(n_minutes), counts)
        k = len(minute)
        ts = self.t0_ms + minute * MINUTE_MS + rng.integers(0, MINUTE_MS, k)
        ts.sort()
        # a chain of 3 expiries x 6 strikes x C/P around the BTC path
        first = (self.t0 + timedelta(days=10)).date()
        expiries = [first + timedelta(days=7 * i) for i in range(3)]
        spot = self.prices["BTCUSDT"][minute]
        strikes = np.array([38000, 40000, 41000, 42000, 43000, 45000])
        e_idx = rng.integers(0, len(expiries), k)
        s_idx = rng.integers(0, len(strikes), k)
        is_call = rng.random(k) < 0.5
        names = np.array([
            f"BTC-{e.day}{_MONTHS[e.month - 1]}{e.year % 100}-{s}-{t}"
            for e in expiries for s in strikes for t in ("C", "P")
        ])
        name_idx = (e_idx * len(strikes) + s_idx) * 2 + np.where(is_call, 0, 1)
        intrinsic = np.where(is_call, spot - strikes[s_idx], strikes[s_idx] - spot)
        price = np.round(np.maximum(intrinsic, 0.0) / spot * 0.1
                         + rng.uniform(0.0005, 0.05, k), 4)
        return {
            "trade_id": np.arange(1, k + 1) + 10_000_000,
            "timestamp": ts,
            "instrument_name": names[name_idx],
            "price": price,
            "amount": rng.integers(1, 100, k) / 10.0,
            "iv": np.where(rng.random(k) < 0.1, np.nan,
                           np.round(rng.uniform(30, 120, k), 2)),
            "mark_price": np.where(rng.random(k) < 0.05, np.nan,
                                   np.round(price * rng.uniform(0.97, 1.03, k), 4)),
            "index_price": np.where(rng.random(k) < 0.05, np.nan, spot),
            "direction": np.where(rng.random(k) < 0.5, "buy", "sell"),
            "tick_direction": rng.integers(0, 4, k),
        }

    # -- candles -----------------------------------------------------------
    def kline(self, sym: str, hour_ms: int, now_ms: int) -> list | None:
        """The kline a fetch at ``now_ms`` sees for the hour opening at
        ``hour_ms``: closed hours are final, the open hour is partial."""
        h = (hour_ms - self.t0_ms) // HOUR_MS
        if h < 0 or hour_ms >= now_ms:
            return None
        if hour_ms + HOUR_MS <= now_ms:
            o, hi, lo, c, v = self._hourly[sym][h]
        else:
            m0 = h * 60
            m1 = m0 + (now_ms - hour_ms + MINUTE_MS - 1) // MINUTE_MS
            p, vol = self.prices[sym][m0:m1], self.volumes[sym][m0:m1]
            o, hi, lo, c, v = p[0], p.max(), p.min(), p[-1], vol.sum()
        return [int(hour_ms), f"{o:.2f}", f"{hi:.2f}", f"{lo:.2f}", f"{c:.2f}",
                f"{v:.1f}", int(hour_ms + HOUR_MS - 1)]

    def minute_table(self, until_ms: int) -> pa.Table:
        """The minute path up to ``until_ms``, for the DuckDB gate."""
        n = (until_ms - self.t0_ms + MINUTE_MS - 1) // MINUTE_MS
        ts = self.t0_ms + np.arange(n) * MINUTE_MS
        cols = {"symbol": [], "ts_ms": [], "price": [], "volume": []}
        for sym in SYMBOLS:
            cols["symbol"].append(np.full(n, sym))
            cols["ts_ms"].append(ts)
            cols["price"].append(self.prices[sym][:n])
            cols["volume"].append(self.volumes[sym][:n])
        return pa.table({k: np.concatenate(v) for k, v in cols.items()})

    # -- trades ------------------------------------------------------------
    def trade_rows(self, lo: int, hi: int) -> list[dict]:
        """Deribit-shape dicts for trades with lo <= timestamp <= hi."""
        t = self.trades
        a = int(np.searchsorted(self.trade_ms, lo, "left"))
        b = int(np.searchsorted(self.trade_ms, hi, "right"))
        out = []
        for i in range(a, b):
            row = {
                "trade_id": str(t["trade_id"][i]),
                "timestamp": int(t["timestamp"][i]),
                "instrument_name": str(t["instrument_name"][i]),
                "price": float(t["price"][i]),
                "amount": float(t["amount"][i]),
                "direction": str(t["direction"][i]),
                "tick_direction": int(t["tick_direction"][i]),
            }
            for col in ("iv", "mark_price", "index_price"):
                v = float(t[col][i])
                row[col] = None if np.isnan(v) else v
            out.append(row)
        return out

    def trade_table(self, until_ms: int) -> pa.Table:
        """Every trade with timestamp <= ``until_ms``, for the DuckDB gate."""
        b = int(np.searchsorted(self.trade_ms, until_ms, "right"))
        t = {k: v[:b] for k, v in self.trades.items()}
        return pa.table({
            "trade_id": pa.array([str(x) for x in t["trade_id"]]),
            "trade_seq": pa.array(t["trade_id"], pa.int64()),
            "timestamp": pa.array(t["timestamp"] * 1000, pa.timestamp("us")),
            "instrument_name": pa.array(t["instrument_name"].astype(str)),
            "price": t["price"],
            "amount": t["amount"],
            "iv": pa.array(t["iv"], from_pandas=True),
            "mark_price": pa.array(t["mark_price"], from_pandas=True),
            "index_price": pa.array(t["index_price"], from_pandas=True),
        })


class KlinesTransport:
    """Binance ``/klines`` fake. A seeded share of responses omits one
    interior candle, which leaves a gap for ``repair_gaps`` to find."""

    def __init__(self, market: Market, seed: int, drop_share: float = 0.1) -> None:
        self.market = market
        self.rng = np.random.default_rng(seed + 101)
        self.drop_share = drop_share
        self.now_ms = market.t0_ms
        self.requests = 0
        self.delivered: set[tuple[str, int]] = set()

    def __call__(self, url: str, payload=None) -> list:
        self.requests += 1
        q = {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}
        sym, limit = q["symbol"], int(q.get("limit", 1000))
        lo = -(-int(q["startTime"]) // HOUR_MS) * HOUR_MS
        hi = min(int(q.get("endTime", self.now_ms)), self.now_ms)
        out = []
        for h in range(lo, hi + 1, HOUR_MS):
            k = self.market.kline(sym, h, self.now_ms)
            if k is None:
                break
            out.append(k)
            if len(out) == limit:
                break
        if len(out) > 2 and self.rng.random() < self.drop_share:
            del out[int(self.rng.integers(1, len(out) - 1))]
        self.delivered.update((sym, k[0]) for k in out)
        return out


class TradesTransport:
    """Deribit ``get_last_trades_by_currency_and_time`` fake with
    ``has_more`` paging. A seeded share of calls raises a transient
    error; never twice in a row, so three retries always recover."""

    def __init__(self, market: Market, seed: int, error_share: float = 0.05) -> None:
        self.market = market
        self.rng = np.random.default_rng(seed + 202)
        self.error_share = error_share
        self.now_ms = market.t0_ms
        self.requests = 0
        self.errors = 0
        self._failed_last = False

    def __call__(self, url: str, payload=None) -> dict:
        self.requests += 1
        if not self._failed_last and self.rng.random() < self.error_share:
            self._failed_last = True
            self.errors += 1
            raise TransientError("exchange returned 502")
        self._failed_last = False
        q = {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}
        lo = int(q["start_timestamp"])
        hi = min(int(q["end_timestamp"]), self.now_ms)
        rows = self.market.trade_rows(lo, hi)
        count = int(q.get("count", 1000))
        return {"result": {"trades": rows[:count], "has_more": len(rows) > count}}


CANDLE_SCHEMA = pa.schema([
    ("open_time", pa.timestamp("us", tz="UTC")),
    ("open", pa.float64()), ("high", pa.float64()), ("low", pa.float64()),
    ("close", pa.float64()), ("volume", pa.float64()), ("symbol", pa.string()),
])

TRADE_SCHEMA = pa.schema([
    ("trade_id", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ("instrument_name", pa.string()), ("price", pa.float64()),
    ("amount", pa.float64()), ("iv", pa.float64()),
    ("mark_price", pa.float64()), ("index_price", pa.float64()),
    ("direction", pa.string()), ("tick_direction", pa.int32()),
])


def write_history(market: Market, until: datetime, candles_dir: str,
                  trades_dir: str) -> dict:
    """Pre-load the bronze candle and trade tables with every closed hour
    and every trade before ``until``. Returns the rows and bytes written."""
    until_ms = to_ms(until)
    nh = (until_ms - market.t0_ms) // HOUR_MS
    hours = market.t0_ms + np.arange(nh) * HOUR_MS
    parts = []
    for sym in SYMBOLS:
        h = market._hourly[sym][:nh]
        parts.append(pa.table({
            "open_time": pa.array(hours * 1000, pa.timestamp("us", tz="UTC")),
            "open": h[:, 0], "high": h[:, 1], "low": h[:, 2], "close": h[:, 3],
            "volume": h[:, 4], "symbol": pa.array(np.full(nh, sym)),
        }, schema=CANDLE_SCHEMA))
    candles = pa.concat_tables(parts)
    t = market.trades
    b = int(np.searchsorted(market.trade_ms, until_ms, "left"))
    trades = pa.table({
        "trade_id": pa.array([str(x) for x in t["trade_id"][:b]]),
        "ts": pa.array(t["timestamp"][:b] * 1000, pa.timestamp("us", tz="UTC")),
        "instrument_name": pa.array(t["instrument_name"][:b].astype(str)),
        "price": t["price"][:b], "amount": t["amount"][:b],
        "iv": pa.array(t["iv"][:b], from_pandas=True),
        "mark_price": pa.array(t["mark_price"][:b], from_pandas=True),
        "index_price": pa.array(t["index_price"][:b], from_pandas=True),
        "direction": pa.array(t["direction"][:b].astype(str)),
        "tick_direction": pa.array(t["tick_direction"][:b], pa.int32()),
    }, schema=TRADE_SCHEMA)
    for tbl, d in ((candles, candles_dir), (trades, trades_dir)):
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, "part-00000-history.parquet"))
    return {"candles": candles.num_rows, "trades": trades.num_rows}


# -- gold-query input -----------------------------------------------------
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def write_events(seed: int, rows: int, path: str) -> None:
    """An ``events`` table with the schema and value ranges of the
    generic benchmark table the gold queries are written against:
    30 days of January 2024, 1500 users, five event types. ``ts`` has
    nanosecond precision, the form ``sources.tables.load_table`` is
    written for, so the queries read it through its conversion."""
    rng = np.random.default_rng(seed + 303)
    start = to_ms(datetime(2024, 1, 1)) * 1000
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, rows))
    tbl = pa.table({
        "event_id": pa.array(np.arange(rows), pa.int64()),
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, rows), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, rows)]),
        "value": np.round(rng.lognormal(3.5, 0.9, rows), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })
    pq.write_table(tbl, path)


# -- streaming input ------------------------------------------------------
TICK_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("event_type", pa.string()), ("value", pa.float64()),
])


def tick_files(seed: int, n_files: int, ticks_per_file: int,
               late_share: float, t0: datetime) -> list[pa.Table]:
    """``n_files`` tick tables that land mostly in time order: file i
    covers hour i after ``t0``. A seeded ``late_share`` of files also
    carries a quarter of its ticks for an hour 1-5 days before its slot,
    so the stream has to rewrite an earlier day partition too."""
    rng = np.random.default_rng(seed + 404)
    t0_us = to_ms(t0) * 1000
    hour_us = HOUR_MS * 1000
    out, next_id = [], 0
    for i in range(n_files):
        slot = np.full(ticks_per_file, i + 5 * 24)
        if rng.random() < late_share:
            late = rng.random(ticks_per_file) < 0.25
            slot[late] -= int(rng.integers(24, 5 * 24))
        ts = t0_us + slot * hour_us + rng.integers(0, hour_us, ticks_per_file)
        ids = np.arange(next_id, next_id + ticks_per_file)
        next_id += ticks_per_file
        out.append(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, ticks_per_file)]),
            "value": np.round(rng.uniform(10, 500, ticks_per_file), 2),
        }, schema=TICK_SCHEMA))
    return out
