"""Encoding-drift guard for `events.ts` (VERDICT r3 task #2).

The driver's testdata generator has shipped `events.ts` under two parquet
encodings across rounds:

  1. parquet TIMESTAMP(NANOS)  -> Spark reads BIGINT ns under
     `spark.sql.legacy.parquet.nanosAsLong=true`
  2. arrow timestamp[us]       -> Spark reads TIMESTAMP_NTZ

The engine contract is BIGINT nanoseconds-since-epoch; `load_table`
normalizes at the single load seam (`sources/tables.py`). These tests write
the SAME logical rows in BOTH encodings (plus a tz-annotated us variant)
and assert the events family produces identical results on each, so a
future driver-side regeneration cannot silently zero a round again.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from near_public_lakehouse_spark.sources.tables import load_table

# Logical rows: (event_id, ts_ns, user_id, event_type, value, props)
_ROWS = [
    (1, 1_704_067_200_000_000_000, 10, "click", 1.5, '{"k":"a"}'),
    (2, 1_704_067_200_500_000_000, 10, "view", 2.0, '{"k":"b"}'),
    (3, 1_704_153_599_999_999_000, 11, "purchase", 9.25, None),
    (4, 1_704_153_600_000_000_000, 11, "click", 0.5, '{"k":"c"}'),
    (5, 1_704_240_000_123_456_000, 12, "view", 3.75, "{}"),
]


def _write_events(path: str, encoding: str) -> None:
    ids = pa.array([r[0] for r in _ROWS], pa.int64())
    ns = [r[1] for r in _ROWS]
    users = pa.array([r[2] for r in _ROWS], pa.int64())
    etypes = pa.array([r[3] for r in _ROWS], pa.string())
    values = pa.array([r[4] for r in _ROWS], pa.float64())
    props = pa.array([r[5] for r in _ROWS], pa.string())
    if encoding == "ns":
        ts = pa.array(ns, pa.timestamp("ns"))
    elif encoding == "us":
        ts = pa.array([v // 1000 for v in ns], pa.timestamp("us"))
    elif encoding == "us_utc":
        ts = pa.array([v // 1000 for v in ns], pa.timestamp("us", tz="UTC"))
    else:  # pragma: no cover
        raise ValueError(encoding)
    table = pa.table(
        {
            "event_id": ids,
            "ts": ts,
            "user_id": users,
            "event_type": etypes,
            "value": values,
            "props": props,
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))


ENCODINGS = ("ns", "us", "us_utc")


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    dirs = {}
    for enc in ENCODINGS:
        d = str(tmp_path_factory.mktemp(f"events_{enc}"))
        _write_events(d, enc)
        dirs[enc] = d
    return dirs


def test_all_encodings_load_as_bigint_ns(spark, encoded_dirs):
    for enc in ENCODINGS:
        df = load_table(spark, encoded_dirs[enc], "events")
        assert isinstance(df.schema["ts"].dataType, T.LongType), enc
        got = {r.event_id: r.ts for r in df.collect()}
        # us encodings truncate sub-us digits at write time; the ns fixture
        # rows are all whole microseconds, so values agree exactly.
        expect = {r[0]: r[1] for r in _ROWS}
        assert got == expect, enc


def test_events_family_identical_across_encodings(spark, encoded_dirs):
    """The headline events queries return identical rows on every encoding."""
    from near_public_lakehouse_spark.queries.events import (
        daily_active_users,
        event_index_pack,
        hourly_event_stats,
    )

    for fn in (daily_active_users, hourly_event_stats, event_index_pack):
        results = {}
        for enc in ENCODINGS:
            df = fn(spark, encoded_dirs[enc])
            results[enc] = sorted(
                tuple(row) for row in df.collect()
            )
        assert results["ns"] == results["us"] == results["us_utc"], fn.__name__


def test_sessionization_across_encodings(spark, encoded_dirs):
    from near_public_lakehouse_spark.queries.events import user_sessions

    base = None
    for enc in ENCODINGS:
        rows = sorted(tuple(r) for r in user_sessions(spark, encoded_dirs[enc]).collect())
        if base is None:
            base = rows
        assert rows == base, enc


def test_events_stream_reads_timestamp_us(spark, encoded_dirs, tmp_path):
    """The streaming events reader normalizes `ts` like `load_table`: a
    one-file timestamp[us] stream yields BIGINT ns and its event time."""
    from near_public_lakehouse_spark.streaming import jobs

    ev = jobs.read_events_stream(spark, os.path.join(encoded_dirs["us"], "events.parquet"))
    assert isinstance(ev.schema["ts"].dataType, T.LongType)
    jobs.run_to_memory(ev, "events_us_stream", str(tmp_path / "ck"))
    got = {
        r.event_id: (r.ts, r.event_time)
        for r in spark.sql("SELECT event_id, ts, event_time FROM events_us_stream").collect()
    }
    batch = load_table(spark, encoded_dirs["us"], "events").selectExpr(
        "event_id", "ts", "timestamp_micros(ts div 1000) AS event_time"
    )
    assert got == {r.event_id: (r.ts, r.event_time) for r in batch.collect()}
    assert {k: v[0] for k, v in got.items()} == {r[0]: r[1] for r in _ROWS}
