"""Streaming windowed aggregations: batch/stream parity and end-to-end
availableNow runs with watermarked state.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sdg_big_data_spark.streaming import windowed


@pytest.fixture(scope="module")
def events_batch(spark):
    rows = []
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    for u in ["u1", "u2"]:
        # burst 1: 3 events in 10 min; burst 2 after a 3h gap: 2 events
        for i in range(3):
            rows.append((u, t0 + dt.timedelta(minutes=5 * i), "click", 1.0))
        for i in range(2):
            rows.append((u, t0 + dt.timedelta(hours=3, minutes=10 * i), "click", 2.0))
    return spark.createDataFrame(
        rows, schema="user_id string, ts timestamp, event_type string, value double"
    )


def test_tumbling_batch_semantics(events_batch):
    out = windowed.tumbling_counts(events_batch, window_len="1 hour").collect()
    # events at hour 0 and hour 3 → two windows
    starts = sorted({r["win_start"].hour for r in out})
    assert starts == [0, 3]
    h0 = [r for r in out if r["win_start"].hour == 0][0]
    assert h0["n_events"] == 6 and h0["total_value"] == 6.0


def test_session_batch_matches_gap_rule(events_batch):
    out = windowed.session_aggregate(events_batch, gap="1 hour").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    for u, sessions in per_user.items():
        assert len(sessions) == 2  # 3h gap splits the bursts
        ns = sorted(s["n_events"] for s in sessions)
        assert ns == [2, 3]


def test_streaming_available_now_tumbling(spark, events_batch, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    events_batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events_batch.schema).parquet(src)
    agg = windowed.tumbling_counts(stream, window_len="1 hour", watermark="1 minute")
    windowed.run_stream_to_parquet(agg, dst, ckpt)

    got = spark.read.parquet(dst)
    batch = windowed.tumbling_counts(events_batch, window_len="1 hour")
    # append mode emits only watermark-finalized windows; every emitted row
    # must match the batch computation exactly
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g <= b
    assert len(g) >= 1  # the old window is past the watermark and emitted


def test_session_window_oracle_breaks_on_gap_over_one_hour(spark, tmp_path):
    """``s_session_window`` against its DuckDB oracle on gaps of 3599,
    3600 and 3601 s. ``session_window`` merges sessions whose [start,
    end) windows touch, so a gap of exactly 1 h stays in the session,
    as in g_sessionize's ``gap > max_gap``; only the 3601 s gap starts
    a new one."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdg_big_data_spark.plans import catalog

    t0 = dt.datetime(2024, 1, 1)
    secs = [0, 3599, 7199, 10800, 0]  # user 1 gaps: 3599, 3600, 3601
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=s) for s in secs],
                           pa.timestamp("us")),
            "user_id": pa.array([1, 1, 1, 1, 2], pa.int64()),
            "event_type": ["click"] * 5,
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
            "props": [""] * 5,
        }),
        path,
    )
    catalog._load_all()
    spec = catalog.REGISTRY["s_session_window"]
    cols = "user_id, sess_start, sess_end, n_events, total_value"
    out = spec.fn(spark, str(tmp_path)).selectExpr(*cols.split(", "))
    got = sorted(tuple(r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(f"SELECT {cols} FROM ({spec.sql})").fetchall())
    assert got == want
    assert [(u, n) for u, _, _, n, _ in got] == [(1, 3), (1, 1), (2, 1)]
