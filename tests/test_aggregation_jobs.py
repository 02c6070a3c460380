"""Aggregation job lifecycle tests (§3.2 daily sessions, §3.3 option OHLC)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from options_data_pipeline_spark.jobs.aggregation import (
    daily_sessions_job,
    option_ohlc_job,
    option_ohlc_stats,
)

EPOCH = dt.datetime(2024, 1, 10, 8, 0)


def _hourly(spark, days, hours_per_day=24):
    rows = []
    for d in range(days):
        for h in range(hours_per_day):
            t = EPOCH + dt.timedelta(days=d, hours=h)
            base = 100.0 + d
            rows.append(("BTC", t, base, base + 5, base - 5, base + 1))
    return spark.createDataFrame(
        rows,
        "instrument string, bucket_ts timestamp, open double, high double,"
        " low double, close double",
    )


def test_daily_sessions_job_incremental_and_guard(spark, tmp_path):
    t = str(tmp_path / "daily")
    now = EPOCH + dt.timedelta(days=3)
    m1 = daily_sessions_job(spark, _hourly(spark, 2), t, now=now)
    assert m1["sessions"] == 2 and m1["inserted"] == 2
    # next run: one more full day + a 19-hour partial day (guard skips it)
    m2 = daily_sessions_job(
        spark, _hourly(spark, 3).unionByName(
            _hourly(spark, 4, hours_per_day=19).where(
                F.col("bucket_ts") >= EPOCH + dt.timedelta(days=3))),
        t, now=now + dt.timedelta(days=2),
    )
    out = spark.read.parquet(t)
    assert out.count() == 3  # partial 4th day filtered by the >=20h guard
    assert m2["sessions"] == 2  # lookback recomputed day 2 + new day 3
    assert m2["inserted"] == 1 and m2["updated"] == 1
    # convergence: rerun changes nothing
    m3 = daily_sessions_job(spark, _hourly(spark, 3), t,
                            now=now + dt.timedelta(days=2))
    assert spark.read.parquet(t).count() == 3
    assert m3["inserted"] == 0


def _trades(spark, hours, n_per_hour=3):
    rows = []
    for h in range(hours):
        for i in range(n_per_hour):
            ts = EPOCH + dt.timedelta(hours=h, minutes=i * 7)
            rows.append((
                f"t{h}-{i}", h * 100 + i, ts, "BTC-26JAN24-40000-C",
                dt.date(2024, 1, 26), 40000, "C", 1.0 + h + i * 0.1,
                2.0, 0.5, 0.99, 42000.0,
            ))
    return spark.createDataFrame(
        rows,
        "trade_id string, trade_seq long, timestamp timestamp,"
        " instrument_name string, expiry_date date, strike int,"
        " option_type string, price double, amount double, iv double,"
        " mark_price double, index_price double",
    )


def test_option_ohlc_job_trailing_window_and_stats(spark, tmp_path):
    t = str(tmp_path / "ohlc")
    now = EPOCH + dt.timedelta(hours=6)
    out = option_ohlc_job(spark, _trades(spark, 6), t, hours_back=3, now=now)
    # only the trailing 3 hours aggregate
    assert out["aggregated_rows"] == 3
    assert out["before"]["total_records"] == 0
    assert out["after"]["total_records"] == 3
    assert out["new_records"] == 3
    stats = option_ohlc_stats(spark, t)
    assert stats["instruments"] == 1
    assert stats["latest_hour"] == EPOCH + dt.timedelta(hours=5)
    # rerun converges, delta reports 0 new
    out2 = option_ohlc_job(spark, _trades(spark, 6), t, hours_back=3, now=now)
    assert out2["new_records"] == 0
    # a window past every trade aggregates nothing and leaves the table as is
    out3 = option_ohlc_job(spark, _trades(spark, 6), t, hours_back=3,
                           now=now + dt.timedelta(days=1))
    assert out3["aggregated_rows"] == 0 and out3["new_records"] == 0
    assert out3["after"] == out3["before"]


def test_daily_sessions_job_without_qualifying_hours(spark, tmp_path):
    t = str(tmp_path / "daily")
    now = EPOCH + dt.timedelta(days=3)
    # 19 hours a day never pass the >=20h guard
    m = daily_sessions_job(spark, _hourly(spark, 2, hours_per_day=19), t, now=now)
    assert m == {"sessions": 0, "inserted": 0, "updated": 0}
    daily_sessions_job(spark, _hourly(spark, 2), t, now=now)
    m2 = daily_sessions_job(spark, _hourly(spark, 2).where(
        F.col("bucket_ts") < EPOCH + dt.timedelta(hours=19)), t, now=now)
    assert m2 == {"sessions": 0, "inserted": 0, "updated": 0}
    assert spark.read.parquet(t).count() == 2


def test_weekly_monthly_chained_jobs(spark, tmp_path):
    from options_data_pipeline_spark.jobs.aggregation import (
        monthly_sessions_job,
        weekly_sessions_job,
    )

    daily_t = str(tmp_path / "daily")
    # 50 days from Jan 10 so the Jan-26-anchored monthly session gets its
    # >=20 qualifying days
    now = EPOCH + dt.timedelta(days=55)
    daily_sessions_job(spark, _hourly(spark, 50), daily_t, now=now)
    daily = spark.read.parquet(daily_t)
    assert daily.count() == 50

    wk = weekly_sessions_job(spark, daily, str(tmp_path / "weekly"), now=now)
    # 35 daily rows from Jan 10: full Friday-anchored weeks with >=5 days
    assert wk["sessions"] >= 4 and wk["inserted"] == wk["sessions"]
    weekly = spark.read.parquet(str(tmp_path / "weekly"))
    # weekly chhightime/chlowtime are DAY indices within the session
    assert weekly.where((F.col("chhightime") < 0) | (F.col("chhightime") > 6)).count() == 0

    mo = monthly_sessions_job(spark, daily, str(tmp_path / "monthly"), now=now)
    assert mo["sessions"] >= 1
    # rerun converges
    wk2 = weekly_sessions_job(spark, daily, str(tmp_path / "weekly"), now=now)
    assert wk2["inserted"] == 0
