"""Loader tolerance to data-generator format drift.

The corpus snapshot's timestamp encoding has already changed once
between rounds (events.ts: TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs)),
which crashed every events query until the loader branched on the
on-disk type. These tests pin the contract: whatever of the three
encodings arrives, ``load_table`` must yield the same session-TZ
TimestampType values.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_llm_spark.io import load_table
from tests.conftest import jobs_during

TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
    dt.datetime(2024, 6, 15, 12, 30, 45, 987654),
]


def _write_events(path: str, ts_type: pa.DataType) -> None:
    ts_us = [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for t in TS]
    if pa.types.is_timestamp(ts_type) and ts_type.unit == "ns":
        ts_arr = pa.array([v * 1000 for v in ts_us], pa.timestamp("ns"))
    else:
        ts_arr = pa.array(ts_us, pa.timestamp("us")).cast(ts_type)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
        }
    )
    pq.write_table(table, path)


@pytest.mark.parametrize(
    "ts_type",
    [
        pytest.param(pa.timestamp("ns"), id="nanos"),
        pytest.param(pa.timestamp("us"), id="ntz_micros"),
        pytest.param(pa.timestamp("us", tz="UTC"), id="ltz_micros"),
    ],
)
def test_load_events_normalizes_every_ts_encoding(spark, tmp_path, ts_type):
    _write_events(os.path.join(tmp_path, "events.parquet"), ts_type)
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == TS


def test_load_orders_tolerates_nanos(spark, tmp_path):
    ts_us = [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for t in TS]
    table = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_custkey": pa.array([10, 20], pa.int64()),
            "o_totalprice": pa.array([100.0, 200.0], pa.float64()),
            "o_orderdate": pa.array([v * 1000 for v in ts_us], pa.timestamp("ns")),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "orders.parquet"))
    df = load_table(spark, str(tmp_path), "orders")
    got = [r["o_orderdate"] for r in df.orderBy("o_orderkey").collect()]
    assert got == TS


def test_load_events_tolerates_date_typed_ts(spark, tmp_path):
    """A DATE-typed snapshot column must load as midnight timestamps
    (F.window()/unix_micros consumers would reject DateType)."""
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t.date() for t in TS], pa.date32()),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "events.parquet"))
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == [dt.datetime.combine(t.date(), dt.time()) for t in TS]


def test_load_rejects_unknown_nanos_column_loudly(spark, tmp_path):
    """A NEW ns-encoded timestamp column (not in load_table's ts_cols
    map) must raise, not flow downstream as a silent int64 of
    nanoseconds (the nanosAsLong hazard flagged in round-3 ADVICE)."""
    ts_us = [
        int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for t in TS
    ]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "ingested_at": pa.array([v * 1000 for v in ts_us], pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "events.parquet"))
    with pytest.raises(TypeError, match="ingested_at"):
        load_table(spark, str(tmp_path), "events").schema


def test_second_load_reuses_the_schema_and_launches_no_job(spark, tmp_path):
    _write_events(os.path.join(tmp_path, "events.parquet"), pa.timestamp("ns"))
    load_table(spark, str(tmp_path), "events")
    assert jobs_during(spark, lambda: load_table(spark, str(tmp_path), "events").schema) == 0


def test_two_loads_of_one_table_self_join(spark):
    """Only the schema is memoized: each load is a fresh relation, so a
    self-join resolves its two sides apart. One shared DataFrame would
    compare each row's own columns instead."""
    from tests.conftest import SMOKE_SF_DIR

    t = pq.read_table(os.path.join(SMOKE_SF_DIR, "nation.parquet")).to_pylist()
    want = sum(1 for a in t for b in t if a["n_nationkey"] == b["n_regionkey"])
    a = load_table(spark, SMOKE_SF_DIR, "nation")
    b = load_table(spark, SMOKE_SF_DIR, "nation")
    assert a.join(b, a.n_nationkey == b.n_regionkey).count() == want > 0


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    """A file rewritten at the same path is a new memo key: its new
    columns and encoding are read, and drift still raises."""
    path = os.path.join(tmp_path, "events.parquet")
    _write_events(path, pa.timestamp("ns"))  # ts arrives as a ns long
    got = load_table(spark, str(tmp_path), "events").orderBy("event_id")
    assert [r["ts"] for r in got.collect()] == TS

    _write_events(path, pa.timestamp("us"))
    pq.write_table(
        pq.read_table(path).append_column("note", pa.array(["x", "y"])), path
    )
    got = load_table(spark, str(tmp_path), "events").orderBy("event_id")
    assert got.columns[-1] == "note"
    assert [(r["ts"], r["note"]) for r in got.collect()] == list(zip(TS, "xy"))

    table = pq.read_table(path)
    ns = table.column("ts").cast(pa.timestamp("ns"))
    pq.write_table(table.append_column("ingested_at", ns), path)
    with pytest.raises(TypeError, match="ingested_at"):
        load_table(spark, str(tmp_path), "events")
