"""Correctness gates, run untimed after each workload.

``pipeline_replay`` and ``stream_candles`` are checked against a DuckDB
recomputation over the same generated inputs: DuckDB reads the tables
Spark wrote, recomputes the expected tables from the generator's raw
minute path, trades and tick files, and counts the rows in either one
and not the other (``EXCEPT ALL`` both ways, values compared exactly).
``gold_queries`` compares each query's result with its registry oracle
SQL by canonical hash.

Each check returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import duckdb
import pyarrow as pa

import gen
from common import nproc


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _diff(con, name: str, expected: str, actual: str) -> list[str]:
    n_exp = con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
    n_act = con.execute(f"SELECT count(*) FROM ({actual})").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual}))"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected}))"
    ).fetchone()[0]
    if n_exp == 0 or missing or extra:
        return [f"{name}: expected {n_exp} rows, got {n_act}; "
                f"{missing} missing, {extra} unexpected"]
    return []


def _round4(x: str) -> str:
    return (f"(floor(abs({x}) * 10000.0 + 0.5) / 10000.0"
            f" * (CASE WHEN ({x}) < 0 THEN -1.0 ELSE 1.0 END))")


def _pct(o: str, t: str) -> str:
    return f"(CASE WHEN {o} = 0 THEN 0.0 ELSE {_round4(f'(({t} - {o}) / {o} * 100.0)')} END)"


EXPECTED_CANDLES = """
SELECT symbol, make_timestamp((ts_ms // 3600000) * 3600000 * 1000) AS open_time,
       arg_min(price, ts_ms) AS open, max(price) AS high, min(price) AS low,
       arg_max(price, ts_ms) AS close, sum(volume) AS volume
FROM minutes WHERE ts_ms < {until_ms}
GROUP BY ALL
"""

CANDLE_COLS = "symbol, CAST(open_time AS TIMESTAMP) AS open_time, open, high, low, close, volume"


def daily_sessions_sql(candles: str) -> str:
    """Reference daily sessions (08:00 UTC anchor, >= 20 hours) over an
    hourly candle relation with columns instrument, t, open..close."""
    return f"""
WITH h AS (
    SELECT *, date_trunc('day', t - INTERVAL 8 HOUR) + INTERVAL 8 HOUR AS session_start
    FROM ({candles})
), r AS (
    SELECT *, row_number() OVER (PARTITION BY instrument, session_start ORDER BY t) - 1 AS idx
    FROM h
), a AS (
    SELECT instrument, session_start, arg_min(open, idx) AS open,
           arg_max(close, idx) AS close, max(high) AS high, min(low) AS low,
           count(*) AS n_rows
    FROM r GROUP BY ALL HAVING count(*) >= 20
), x AS (
    SELECT a.*, min(r.idx) FILTER (WHERE r.high = a.high) AS chhightime,
           min(r.idx) FILTER (WHERE r.low = a.low) AS chlowtime
    FROM a JOIN r USING (instrument, session_start) GROUP BY ALL
), p AS (
    SELECT *, high - low AS move, {_pct('open', 'high')} AS chhigh,
           {_pct('open', 'low')} AS chlow, {_pct('open', 'close')} AS chclose
    FROM x
)
SELECT instrument, CAST(session_start AS TIMESTAMP) AS datetime, open, close, high, low,
       CAST(chhightime AS BIGINT) AS chhightime, CAST(chlowtime AS BIGINT) AS chlowtime,
       move, chhigh, chlow, chclose,
       CASE WHEN abs(chhigh) > abs(chlow) THEN chhigh ELSE chlow END AS chmax,
       CASE WHEN chhightime < chlowtime THEN 'HIGH'
            WHEN chlowtime < chhightime THEN 'LOW'
            WHEN abs(chhigh) >= abs(chlow) THEN 'HIGH' ELSE 'LOW' END AS firstextremumtype,
       CAST(n_rows AS BIGINT) AS n_rows
FROM p
"""


DAILY_COLS = """instrument, CAST(datetime AS TIMESTAMP) AS datetime, open, close, high, low,
       CAST(chhightime AS BIGINT) AS chhightime, CAST(chlowtime AS BIGINT) AS chlowtime,
       move, chhigh, chlow, chclose, chmax, firstextremumtype, CAST(n_rows AS BIGINT) AS n_rows"""


_NAME_RE = r"'(\w+)-(\d+)([A-Z]+)(\d+)-(\d+)-([CP])'"

EXPECTED_OPTION_OHLC = f"""
WITH p AS (
    SELECT *, regexp_extract(instrument_name, {_NAME_RE}, 3) AS mon
    FROM trades
), t AS (
    SELECT trade_id, trade_seq, "timestamp", instrument_name, price, amount, iv,
           mark_price, index_price,
           make_date(2000 + CAST(regexp_extract(instrument_name, {_NAME_RE}, 4) AS INT),
                     CAST(list_position(['JAN','FEB','MAR','APR','MAY','JUN','JUL',
                                         'AUG','SEP','OCT','NOV','DEC'], mon) AS INT),
                     CAST(regexp_extract(instrument_name, {_NAME_RE}, 2) AS INT)) AS expiry_date,
           CAST(regexp_extract(instrument_name, {_NAME_RE}, 5) AS INT) AS strike,
           regexp_extract(instrument_name, {_NAME_RE}, 6) AS option_type,
           date_trunc('hour', "timestamp") AS hour_timestamp
    FROM p
), agg AS (
    SELECT hour_timestamp, instrument_name, expiry_date, strike, option_type,
        first(price ORDER BY "timestamp", trade_seq) AS open_price,
        max(price) AS high_price, min(price) AS low_price,
        last(price ORDER BY "timestamp", trade_seq) AS close_price,
        first(iv ORDER BY "timestamp", trade_seq) FILTER (WHERE iv IS NOT NULL) AS open_iv,
        max(iv) AS high_iv, min(iv) AS low_iv,
        last(iv ORDER BY "timestamp", trade_seq) FILTER (WHERE iv IS NOT NULL) AS close_iv,
        CAST(sum(CAST(price AS DECIMAL(18,2)) * CAST(amount AS DECIMAL(14,2))) AS DOUBLE) AS pv,
        CAST(sum(CAST(amount AS DECIMAL(14,2))) AS DOUBLE) AS volume,
        count(*) AS trade_count,
        string_agg(trade_id, ',' ORDER BY "timestamp", trade_seq) AS trade_ids,
        first(mark_price ORDER BY "timestamp", trade_seq) FILTER (WHERE mark_price IS NOT NULL)
            AS mark_price_open,
        max(mark_price) AS mark_price_high, min(mark_price) AS mark_price_low,
        last(mark_price ORDER BY "timestamp", trade_seq) FILTER (WHERE mark_price IS NOT NULL)
            AS mark_price_close,
        first(index_price ORDER BY "timestamp", trade_seq)
            FILTER (WHERE index_price IS NOT NULL)
            AS index_price
    FROM t GROUP BY ALL
)
SELECT hour_timestamp, instrument_name, expiry_date, strike, option_type,
    open_price, high_price, low_price, close_price, open_iv, high_iv, low_iv, close_iv,
    CASE WHEN volume = 0 THEN NULL ELSE pv / volume END AS vwap,
    volume, CAST(trade_count AS BIGINT) AS trade_count, trade_ids,
    mark_price_open, mark_price_high, mark_price_low, mark_price_close, index_price,
    greatest(CAST(1 AS BIGINT), CAST((epoch(CAST(expiry_date AS TIMESTAMP) + INTERVAL 8 HOUR)
        - epoch(hour_timestamp)) / 3600 AS BIGINT)) AS hours_to_expiry,
    CASE WHEN option_type = 'C' THEN (index_price - strike) / nullif(index_price, 0) * 100.0
         WHEN option_type = 'P' THEN (strike - index_price) / nullif(index_price, 0) * 100.0
    END AS distance
FROM agg
"""

OPTION_OHLC_COLS = """CAST(hour_timestamp AS TIMESTAMP) AS hour_timestamp, instrument_name,
    expiry_date, strike, option_type, open_price, high_price, low_price, close_price,
    open_iv, high_iv, low_iv, close_iv, vwap, volume, CAST(trade_count AS BIGINT) AS trade_count,
    trade_ids, mark_price_open, mark_price_high, mark_price_low, mark_price_close,
    index_price, CAST(hours_to_expiry AS BIGINT) AS hours_to_expiry, distance"""


def check_pipeline(pipe, last_now: datetime) -> list[str]:
    """Final candle, option-OHLC and daily-session tables against DuckDB."""
    m = pipe.market
    until_ms = gen.to_ms(last_now)
    con = _connect()
    con.register("minutes", m.minute_table(until_ms))
    con.register("trades", m.trade_table(until_ms))
    # A candle the exchange dropped must be back once a repair has run
    # over its hour. Only hours no repair has covered yet (those from the
    # last repair on) may be missing, and only if no fetch delivered them.
    delivered = pipe.klines_tx.delivered | pipe.repair_tx.delivered
    repairs = [now for now, due in pipe.ran if "repair" in due]
    last_repair_ms = gen.to_ms(repairs[-1]) if repairs else gen.to_ms(pipe.history_until)
    missing = [
        (s, h) for s in gen.SYMBOLS
        for h in range(last_repair_ms, until_ms, gen.HOUR_MS) if (s, h) not in delivered
    ]
    con.register("undelivered", pa.table({
        "symbol": [s for s, _ in missing],
        "hour_us": pa.array([h * 1000 for _, h in missing], pa.int64()),
    }))
    expected_candles = (
        f"SELECT {CANDLE_COLS} FROM ({EXPECTED_CANDLES.format(until_ms=until_ms)}) c "
        "WHERE NOT EXISTS (SELECT 1 FROM undelivered u WHERE u.symbol = c.symbol "
        "AND u.hour_us = epoch_us(c.open_time))"
    )
    out = _diff(con, "ohlc_1h", expected_candles,
                f"SELECT {CANDLE_COLS} FROM {_parquet(pipe.candles)}")
    out += _diff(con, "option_ohlc_hourly",
                 f"SELECT {OPTION_OHLC_COLS} FROM ({EXPECTED_OPTION_OHLC})",
                 f"SELECT {OPTION_OHLC_COLS} FROM {_parquet(pipe.ohlc)}")
    daily_runs = [now for now, due in pipe.ran if "daily" in due]
    last_daily_ms = gen.to_ms(daily_runs[-1]) if daily_runs else gen.to_ms(pipe.history_until)
    candles = (
        "SELECT symbol AS instrument, make_timestamp((ts_ms // 3600000) * 3600000 * 1000) AS t, "
        "arg_min(price, ts_ms) AS open, max(price) AS high, min(price) AS low, "
        f"arg_max(price, ts_ms) AS close FROM minutes WHERE ts_ms < {last_daily_ms} GROUP BY ALL"
    )
    out += _diff(con, "daily_sessions", daily_sessions_sql(candles),
                 f"SELECT {DAILY_COLS} FROM {_parquet(pipe.daily)}")
    con.close()
    return out


EXPECTED_STREAM = """
SELECT event_type AS instrument, date_trunc('hour', ts) AS bucket_ts,
       first(value ORDER BY ts, event_id) AS open, max(value) AS high,
       min(value) AS low, last(value ORDER BY ts, event_id) AS close, count(*) AS n_ticks
FROM ticks GROUP BY ALL
"""

STREAM_COLS = """instrument, CAST(bucket_ts AS TIMESTAMP) AS bucket_ts, open, high, low,
       close, CAST(n_ticks AS BIGINT) AS n_ticks"""


def check_stream(gold_path: str, source_dir: str) -> list[str]:
    """The day-partitioned gold table against a DuckDB hourly-candle
    recomputation over every landed tick file, late ticks included."""
    con = _connect()
    con.execute(f"CREATE VIEW ticks AS SELECT * FROM read_parquet('{source_dir}/*.parquet')")
    out = _diff(con, "stream_gold", f"SELECT {STREAM_COLS} FROM ({EXPECTED_STREAM})",
                f"SELECT {STREAM_COLS} FROM {_parquet(gold_path)}")
    con.close()
    return out


def check_queries(spark, names: list[str], sf_dir: str) -> list[str]:
    """Each query's result against its registry oracle, by canonical hash."""
    from options_data_pipeline_spark.plans import registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    with ThreadPoolExecutor(nproc()) as pool:
        futures = [pool.submit(lambda n: queries[n](spark, sf_dir).toPandas(), n)
                   for n in names]
        results = [f.result() for f in futures]
    con = _connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    out = []
    for name, spdf in zip(names, results):
        if not frames_match(spdf, con.execute(oracles[name]).fetchdf()):
            out.append(f"{name}: result differs from its oracle")
    con.close()
    return out


def frames_match(spdf, opdf) -> bool:
    """Row count, dtype-strict schema and canonical hash all agree."""
    from tests._compare import canonical_hash, schemas_match

    return (len(spdf) == len(opdf) and schemas_match(spdf, opdf)
            and canonical_hash(spdf) == canonical_hash(opdf))


def corrupt_copy(src: str, dst: str) -> None:
    """Copy a parquet table and change one value: the self-test feeds the
    copy to a gate to show the gate catches it."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(src)
    col = next(i for i, f in enumerate(tbl.schema) if pa.types.is_floating(f.type))
    vals = tbl.column(col).combine_chunks()
    mask = pa.array([i == 0 for i in range(len(vals))])
    tbl = tbl.set_column(col, tbl.schema.field(col),
                         pc.if_else(mask, pc.add(vals, 1.0), vals))
    os.makedirs(dst, exist_ok=True)
    pq.write_table(tbl, os.path.join(dst, "part-corrupt.parquet"))
