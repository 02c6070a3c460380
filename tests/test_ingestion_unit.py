"""REST adapter + incremental harness tests (fake transports, no network)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.jobs.incremental import (
    backfill,
    high_watermark,
    incremental_sync,
    repair_gaps,
)
from options_data_pipeline_spark.sources.rest import (
    CandleSnapshotSource,
    KlinesSource,
    OptionTradesSource,
    with_parsed_instrument,
)

EPOCH = datetime(2024, 1, 1)


def _ms(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1000)


def synth_candle(i: int, symbol: str = "BTCUSDT") -> dict:
    return {
        "open_time": EPOCH + timedelta(hours=i),
        "open": 100.0 + i, "high": 101.0 + i, "low": 99.0 + i,
        "close": 100.5 + i, "volume": 10.0, "symbol": symbol,
    }


# --- adapters ---------------------------------------------------------------

def test_klines_source_parses_positional_arrays(spark):
    def transport(url, payload):
        assert "symbol=BTCUSDT" in url and payload is None
        return [[_ms(EPOCH + timedelta(hours=i)),
                 "100.0", "101.0", "99.0", "100.5", "10.0", 0, 0] for i in range(3)]

    src = KlinesSource(transport=transport)
    rows = src.fetch("BTCUSDT", 0)
    assert len(rows) == 3 and rows[0]["open"] == 100.0
    df = src.to_df(spark, rows)
    assert df.schema["open_time"].dataType.typeName() == "timestamp"
    assert df.count() == 3


def test_candle_snapshot_backward_walk_dedups(spark):
    calls = []

    def transport(url, payload):
        req = payload["req"]
        calls.append((req["startTime"], req["endTime"]))
        # overlapping row at each boundary to exercise O5 dedup
        lo_h = req["startTime"] // 3600000
        hi_h = req["endTime"] // 3600000
        return [{"t": h * 3600000, "o": h, "h": h, "l": h, "c": h}
                for h in range(lo_h, hi_h + 1)]

    src = CandleSnapshotSource(transport=transport)
    # 6-hour span, 2-hour steps
    rows = src.fetch_full_history(0, 6 * 3600000, 2 * 3600000)
    times = [r["open_time"] for r in rows]
    assert len(times) == len(set(times))  # dedup by open_time
    assert len(calls) >= 3  # walked in chunks


def test_trades_source_pagination_and_retry(spark):
    attempts = {"n": 0}

    def transport(url, payload):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise OSError("flaky network")
        # two pages: has_more on the first
        start = int(url.split("start_timestamp=")[1].split("&")[0])
        if start == 0:
            trades = [{"trade_id": i, "timestamp": i * 1000,
                       "instrument_name": "BTC-4JAN25-3500-P", "price": 1.0,
                       "amount": 2.0, "iv": None, "direction": "buy"}
                      for i in range(1, 4)]
            return {"result": {"trades": trades, "has_more": True}}
        trades = [{"trade_id": 9, "timestamp": 9000,
                   "instrument_name": "garbage", "price": 1.0, "amount": 2.0}]
        return {"result": {"trades": trades, "has_more": False}}

    src = OptionTradesSource(transport=transport)
    rows = src.fetch_range(0, 10_000)
    assert [r["trade_id"] for r in rows] == ["1", "2", "3", "9"]
    df = with_parsed_instrument(src.to_df(spark, rows))
    parsed = {r.trade_id: r for r in df.collect()}
    assert parsed["1"].strike == 3500 and parsed["1"].option_type == "P"
    assert parsed["1"].expiry_date == datetime(2025, 1, 4).date()
    assert parsed["9"].expiry_date is None  # P8: unparseable -> NULL


def test_trades_source_retry_exhaustion():
    def transport(url, payload):
        raise OSError("down")

    src = OptionTradesSource(transport=transport, retries=3)
    with pytest.raises(RuntimeError, match="after 3 retries"):
        src.fetch_page(0, 1)


# --- incremental harness ----------------------------------------------------

def _fetcher(spark, log=None):
    """Fake exchange: one candle per hour in [start, now)."""
    def fetch_range(start, now):
        if log is not None:
            log.append((start, now))
        h0 = int((start - EPOCH).total_seconds() // 3600)
        h1 = int((now - EPOCH).total_seconds() // 3600)
        rows = [synth_candle(i) for i in range(max(h0, 0), h1)]
        return spark.createDataFrame(
            rows,
            "open_time timestamp, open double, high double, low double,"
            " close double, volume double, symbol string",
        )
    return fetch_range


def test_incremental_sync_cold_start_then_resume(spark, tmp_path):
    t = str(tmp_path / "candles")
    log = []
    fetch = _fetcher(spark, log)
    now1 = EPOCH + timedelta(hours=10)
    m1 = incremental_sync(spark, fetch, t, keys=["symbol", "open_time"],
                          lookback=timedelta(hours=2),
                          cold_start=timedelta(hours=24), now=now1)
    assert m1 == {"fetched": 10, "inserted": 10, "updated": 0}
    assert log[0] == (now1 - timedelta(hours=24), now1)  # cold start window

    now2 = EPOCH + timedelta(hours=12)
    m2 = incremental_sync(spark, fetch, t, keys=["symbol", "open_time"],
                          lookback=timedelta(hours=2),
                          cold_start=timedelta(hours=24), now=now2)
    # watermark = hour 9 candle; start = 9:00 - 2h = 7:00 -> hours 7..11
    assert log[1][0] == EPOCH + timedelta(hours=7)
    assert m2 == {"fetched": 5, "inserted": 2, "updated": 3}
    assert high_watermark(spark, t, "open_time") == EPOCH + timedelta(hours=11)
    assert spark.read.parquet(t).count() == 12


def test_repair_gaps_end_to_end(spark, tmp_path):
    t = str(tmp_path / "candles")
    # hours 0..9 with 4..6 missing
    rows = [synth_candle(i) for i in range(10) if i not in (4, 5, 6)]
    spark.createDataFrame(
        rows,
        "open_time timestamp, open double, high double, low double,"
        " close double, volume double, symbol string",
    ).write.parquet(t)
    out = repair_gaps(
        spark, t, _fetcher(spark), keys=["symbol", "open_time"],
        series_keys=["symbol"], ts_col="open_time",
        min_gap_minutes=90.0, window=None, now=EPOCH + timedelta(hours=10),
    )
    assert out["gaps_found"] == 1
    assert spark.read.parquet(t).count() == 10  # healed
    got = sorted(r.open_time for r in spark.read.parquet(t).collect())
    assert got == [EPOCH + timedelta(hours=i) for i in range(10)]


def test_backfill_paginates_and_is_idempotent(spark, tmp_path):
    t = str(tmp_path / "candles")

    def fetch_page(cursor, end):
        h = int((cursor - EPOCH).total_seconds() // 3600)
        page_rows = [synth_candle(i) for i in range(h, min(h + 4, 10))]
        df = spark.createDataFrame(
            page_rows,
            "open_time timestamp, open double, high double, low double,"
            " close double, volume double, symbol string",
        )
        nxt = cursor + timedelta(hours=4)
        return df, (nxt if h + 4 < 10 else None)

    end = EPOCH + timedelta(hours=10)
    m = backfill(spark, fetch_page, t, keys=["symbol", "open_time"],
                 start=EPOCH, end=end)
    assert m == {"pages": 3, "inserted": 10}
    m2 = backfill(spark, fetch_page, t, keys=["symbol", "open_time"],
                  start=EPOCH, end=end)
    assert m2["inserted"] == 0  # resume converges
    assert spark.read.parquet(t).count() == 10


def test_trades_cursor_is_host_timezone_independent():
    """Regression: the pagination cursor must be derived in UTC. A naive
    datetime's .timestamp() reads the HOST timezone — west of UTC the
    cursor went backwards (refetch loop), east it skipped trades."""
    import os
    import time as _time

    cursors = []

    def transport(url, payload):
        start = int(url.split("start_timestamp=")[1].split("&")[0])
        cursors.append(start)
        if start <= 5000:
            trades = [{"trade_id": 1, "timestamp": 5000,
                       "instrument_name": "X", "price": 1.0, "amount": 1.0}]
            return {"result": {"trades": trades, "has_more": True}}
        return {"result": {"trades": [], "has_more": False}}

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"  # UTC-8: naive ts would rewind
    _time.tzset()
    try:
        src = OptionTradesSource(transport=transport)
        rows = src.fetch_range(0, 10_000)
    finally:
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    # page 1 at 0, page 2 resumes at last trade ms + 1 — exactly once
    assert cursors == [0, 5001]
    assert len(rows) == 1


def test_to_df_stores_utc_instants_whatever_the_host_timezone(spark):
    """Regression: the adapters parse naive-UTC datetimes, and ``to_df``
    must store the instants they name. A Python-row ``createDataFrame``
    reads naive datetimes in the host's local time, which shifted every
    timestamp by the UTC offset (2024-01-01 00:00 stored as 05:00 UTC
    under America/New_York)."""
    import os
    import time as _time

    from options_data_pipeline_spark.sources.rest import KLINE_SCHEMA, TRADE_SCHEMA

    epoch_s = int(_ms(EPOCH) / 1000)
    kline = synth_candle(0)
    trade = {
        "trade_id": "1", "ts": EPOCH, "instrument_name": "BTC-26JAN24-40000-C",
        "price": 0.05, "amount": 1.0, "iv": None, "mark_price": None,
        "index_price": None, "direction": "buy", "tick_direction": 0,
    }
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        klines = KlinesSource().to_df(spark, [kline])
        trades = OptionTradesSource().to_df(spark, [trade])
        got_k = klines.select(F.unix_timestamp("open_time")).first()[0]
        got_t = trades.select(F.unix_timestamp("ts")).first()[0]
    finally:
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    assert klines.schema == KLINE_SCHEMA and trades.schema == TRADE_SCHEMA
    assert got_k == epoch_s == 1704067200
    assert got_t == epoch_s


def test_lifecycle_twin_exercises_t2_mutation(spark):
    """The collection_lifecycle_twin must genuinely exercise the T2
    lookback repair: the wave-1 provisional trailing candle (built from
    a mid-hour wall clock) must DIFFER from the converged value for at
    least one key, and wave 2 must report matched (updated) rows — else
    the twin only adjudicates trivial convergence."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.operators.session_ohlc import (
        ticks_to_ohlc,
    )
    from options_data_pipeline_spark.plans.sessions import (
        q_collection_lifecycle_twin,
    )
    from options_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = q_collection_lifecycle_twin(spark, sf)
    m = out.select(
        "w1_fetched", "w2_fetched", "w2_inserted", "w2_updated"
    ).first()
    assert m["w2_updated"] >= 1, "lookback window matched no existing rows"
    assert m["w2_inserted"] >= 1, "wave 2 fetched no new hours"

    # recompute the wave-1 provisional candles and diff against the
    # converged table: the trailing (partial) hour must have mutated
    ev = load_table(spark, sf, "events")
    # same clock the twin uses: final tick of the last >=2-tick cell
    t_split = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("c"), F.max("ts").alias("mx"))
        .where(F.col("c") >= 2)
        .orderBy(F.col("h").desc(), F.col("event_type").desc())
        .limit(1)
        .first()["mx"]
    )
    prov = ticks_to_ohlc(
        ev.where(F.col("ts") < F.lit(t_split)).withColumnRenamed(
            "event_type", "instrument"
        ),
        bucket=F.date_trunc("hour", F.col("ts")),
        keys=("instrument",),
        time_col="ts",
        price_col="value",
        tiebreak_cols=("event_id",),
    ).select(
        "instrument", F.col("bucket_ts").alias("hour_ts"),
        F.col("close").alias("prov_close"), F.col("n_ticks").alias("prov_n"),
    )
    mutated = (
        out.join(prov, ["instrument", "hour_ts"])
        .where(
            (F.col("n_ticks") != F.col("prov_n"))
            | (F.col("close") != F.col("prov_close"))
        )
        .count()
    )
    assert mutated >= 1, "no provisional candle was repaired by wave 2"
