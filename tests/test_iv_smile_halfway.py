"""``iv_smile`` against its DuckDB oracle on means that land exactly
halfway at the 7th decimal.

DuckDB's ``DECIMAL / BIGINT`` is a DOUBLE quotient, so the oracle rounds
the IEEE mean half away from zero at 6 decimals. A Spark decimal quotient
would first round the exact mean HALF_UP to scale 6 and report a value
one unit in the 6th decimal above the oracle's.
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from options_data_pipeline_spark.plans.options import oracle_iv_smile, q_iv_smile

# iv = value * 0.5; each pair's decimal sum / 2 ends in a 5 at the 7th
# decimal. In all but the first the IEEE mean falls just below the
# halfway point, so the two rounding orders disagree.
HALFWAY_IV_PAIRS = [
    (24.136887, 24.136888),
    (65.479013, 65.479014),
    (16.225576, 16.225577),
    (32.997178, 32.997179),
]


def _write_events(sf_dir: str) -> None:
    event_ids, user_ids, values = [], [], []
    eid = 1
    for user_id, pair in enumerate(HALFWAY_IV_PAIRS):
        for iv in pair:
            if eid % 7 == 0:  # the chain nulls the iv of every 7th event
                eid += 1
            event_ids.append(eid)
            user_ids.append(user_id)
            values.append(iv * 2)
            eid += 1
    n = len(event_ids)
    table = pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array([datetime(2024, 1, 1)] * n, pa.timestamp("us")),
            "user_id": pa.array(user_ids, pa.int64()),
            "event_type": pa.array(["trade"] * n),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet")


def test_iv_smile_matches_oracle_on_halfway_means(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_events(sf_dir)
    got = sorted(
        (r["strike"], r["avg_iv"], r["n_iv_quotes"])
        for r in q_iv_smile(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        want = sorted(
            con.execute(
                f"SELECT strike, avg_iv, n_iv_quotes FROM ({oracle_iv_smile()})"
            ).fetchall()
        )
    finally:
        con.close()
    assert len(got) == len(HALFWAY_IV_PAIRS)
    assert all(n == 2 for _, _, n in got)
    assert got == want
