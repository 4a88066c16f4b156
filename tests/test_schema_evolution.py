"""T8 field-addition propagation (VERDICT r7 task #7): a field added to a
live stream's input mid-run must survive into the sink and read back
after a restart — the reference runs its warehouse writer with
`allowFieldAddition` / `allowFieldRelaxation` (NB/BQ Writer
Stream.py:27-28); the repo's historical policy handled only drift-as-
nulls (removed fields), silently dropping additions at ingest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from near_public_lakehouse_spark.streaming.evolution import (
    merge_schemas,
    probe_json_schema,
    read_json_evolving,
)


def _s(*fields) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


class TestMergeSchemas:
    def test_addition_appends_nullable(self):
        out = merge_schemas(
            _s(("a", LongType()), ("b", StringType())),
            _s(("a", LongType()), ("fee", DoubleType())),
        )
        assert [f.name for f in out.fields] == ["a", "b", "fee"]
        assert out["fee"].nullable

    def test_removed_field_is_kept_not_dropped(self):
        out = merge_schemas(_s(("a", LongType()), ("b", StringType())), _s(("a", LongType())))
        assert [f.name for f in out.fields] == ["a", "b"]

    def test_nested_struct_addition(self):
        out = merge_schemas(
            _s(("meta", _s(("x", LongType())))),
            _s(("meta", _s(("x", LongType()), ("y", StringType())))),
        )
        assert [f.name for f in out["meta"].dataType.fields] == ["x", "y"]

    def test_numeric_relaxation_widens(self):
        out = merge_schemas(
            _s(("n", IntegerType()), ("v", DoubleType())),
            _s(("n", LongType()), ("v", IntegerType())),
        )
        assert out["n"].dataType == LongType()
        assert out["v"].dataType == DoubleType()

    def test_array_element_widening(self):
        out = merge_schemas(
            _s(("xs", ArrayType(IntegerType()))), _s(("xs", ArrayType(LongType())))
        )
        assert out["xs"].dataType.elementType == LongType()

    def test_irreconcilable_conflict_raises(self):
        with pytest.raises(ValueError, match="irreconcilable"):
            merge_schemas(_s(("a", StringType())), _s(("a", LongType())))


def test_probe_is_bounded_and_reads_newest(spark, tmp_path):
    root = str(tmp_path / "land")
    os.makedirs(root)
    for i in range(5):
        with open(os.path.join(root, f"f{i}.json"), "w") as fh:
            fh.write(json.dumps({"a": i}) + "\n")
        os.utime(os.path.join(root, f"f{i}.json"), (1000 + i, 1000 + i))
    with open(os.path.join(root, "f9.json"), "w") as fh:
        fh.write(json.dumps({"a": 9, "fee": 0.5}) + "\n")
    os.utime(os.path.join(root, "f9.json"), (2000, 2000))
    schema = probe_json_schema(spark, root, probe_files=1)
    assert set(schema.fieldNames()) == {"a", "fee"}  # newest file carries it


def test_field_added_mid_stream_reads_back_post_restart(spark, tmp_path):
    """The full T8 loop: declared-schema stream drains batch 0; a new
    field appears in batch 1's files; the pipeline re-runs (restart, same
    checkpoint) with the evolving source; the sink's sidecar widens and
    the table reads back the new column — nulls backfilled for rows that
    predate the addition."""
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    land = str(tmp_path / "land")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)
    os.makedirs(out)
    declared = _s(("event_id", LongType()), ("value", DoubleType()))

    with open(os.path.join(land, "b0.json"), "w") as fh:
        for i in range(3):
            fh.write(json.dumps({"event_id": i, "value": float(i)}) + "\n")

    pipe = Pipeline(spark, out)

    @pipe.table("events", deps=["raw"], partition_by=None)
    def _events(s, inputs):
        return inputs["raw"].withColumn("doubled", F.col("value") * 2)

    def src(s, streaming):
        return read_json_evolving(s, land, declared, streaming=streaming)

    pipe.run_incremental({"raw": src}, ckpt)
    assert pipe.read("events").count() == 3

    # mid-stream drift: the writer starts emitting a `fee` field
    with open(os.path.join(land, "b1.json"), "w") as fh:
        for i in range(3, 6):
            fh.write(
                json.dumps({"event_id": i, "value": float(i), "fee": i * 0.1}) + "\n"
            )

    pipe.run_incremental({"raw": src}, ckpt)  # restart, same checkpoint
    got = pipe.read("events")
    assert "fee" in got.columns
    rows = {r.event_id: r for r in got.collect()}
    assert len(rows) == 6  # checkpoint replayed nothing, b1 appended
    for i in range(3):
        assert rows[i].fee is None  # pre-addition rows null-backfill
    for i in range(3, 6):
        assert rows[i].fee == pytest.approx(i * 0.1)
    # the table dir's schema record now declares the union durably
    with open(os.path.join(out, "events", "_schema.json")) as fh:
        recorded = StructType.fromJson(json.load(fh))
    assert "fee" in recorded.fieldNames()


def test_bronze_block_source_evolves_new_field(spark, tmp_path):
    """S1+T8 together: the Autoloader-shaped bronze source with
    `evolve=True` picks up a field the producer starts emitting (here a
    `latest_protocol_version` on the block root), while the fixed-schema
    path drops it — pinning both the new behavior and the old default."""
    from near_public_lakehouse_spark.sources.fixtures import generate_fixtures
    from near_public_lakehouse_spark.sources.json_stream import read_blocks

    d = str(tmp_path / "raw")
    generate_fixtures(d, n_blocks=4, n_shards=1)
    # producer upgrade: new top-level field appears in the next block file
    with open(os.path.join(d, f"{999:012d}.block.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "author": "v2.alice",
                    "header": {
                        "height": 999,
                        "timestamp": 1_700_000_999_000_000_000,
                        "hash": "h999",
                        "prev_hash": "h998",
                        "epoch_id": "e1",
                        "total_supply": "1" + "0" * 33,
                        "gas_price": "100000000",
                    },
                    "chunks": [],
                    "latest_protocol_version": 73,
                }
            )
        )

    fixed = read_blocks(spark, d)
    assert "latest_protocol_version" not in fixed.columns  # old default

    evolved = read_blocks(spark, d, evolve=True)
    assert "latest_protocol_version" in evolved.columns
    rows = {r.author: r.latest_protocol_version for r in evolved.collect()}
    assert rows["v2.alice"] == 73
    assert sum(1 for v in rows.values() if v is None) == 4  # backfilled nulls


def test_scd_nodes_survive_schema_drift(spark, tmp_path):
    """r13 review (T8 through APPLY nodes): an SCD target built before a
    field addition must accept a widened batch — pre-drift rows
    null-backfill — and a batch missing a target column must NOT drop
    that column's stored data (drift-as-nulls, never a drop, at the
    operator level, not just the sidecar)."""
    from near_public_lakehouse_spark.operators.scd import (
        apply_changes,
        apply_changes_scd2,
    )

    # SCD1: widen, then narrow
    t1 = str(tmp_path / "scd1")
    apply_changes(
        spark, t1,
        spark.createDataFrame([(1, "a", 10)], "k int, v string, seq int"),
        ["k"], "seq",
    )
    apply_changes(
        spark, t1,
        spark.createDataFrame(
            [(2, "b", 20, 9.5)], "k int, v string, seq int, score double"
        ),
        ["k"], "seq",
    )
    rows = {r.k: r for r in spark.read.parquet(t1).collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    apply_changes(  # narrowed batch: stored `score` must survive
        spark, t1,
        spark.createDataFrame([(2, "b2", 30)], "k int, v string, seq int"),
        ["k"], "seq",
    )
    rows = {r.k: r for r in spark.read.parquet(t1).collect()}
    assert rows[2].v == "b2" and "score" in rows[2].asDict()

    # SCD2: widened batch against a pre-drift history
    t2 = str(tmp_path / "scd2")
    apply_changes_scd2(
        spark, t2,
        spark.createDataFrame([(1, "a", 10)], "k int, v string, seq int"),
        ["k"], "seq",
    )
    apply_changes_scd2(
        spark, t2,
        spark.createDataFrame(
            [(1, "b", 20, "x")], "k int, v string, seq int, extra string"
        ),
        ["k"], "seq",
    )
    hist = sorted(
        (r.k, r.v, r.extra) for r in spark.read.parquet(t2).collect()
    )
    assert hist == [(1, "a", None), (1, "b", "x")]


def test_runner_read_handles_zero_batch_apply_node(spark, tmp_path):
    """r13 review: a foreachBatch node whose availableNow stream processed
    ZERO batches never writes its table — a dependent's read() must yield
    an empty typed frame, not PATH_NOT_FOUND."""
    from near_public_lakehouse_spark.operators.scd import apply_changes
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    land, out, ckpt = (str(tmp_path / n) for n in ("land", "out", "ckpt"))
    os.makedirs(land)  # nothing has landed
    pipe = Pipeline(spark, out)

    @pipe.table(
        "ghost",
        deps=["raw"],
        partition_by=None,
        apply=lambda s, df, p: apply_changes(s, p, df, ["k"], "seq"),
    )
    def _ghost(s, inputs):
        return inputs["raw"]

    @pipe.table("after", deps=["ghost"], partition_by=None)
    def _after(s, inputs):
        return inputs["ghost"]

    def src(s, streaming):
        r = s.readStream if streaming else s.read
        return r.schema(_s(("k", LongType()), ("seq", LongType()))).json(land)

    pipe.run_incremental({"raw": src}, ckpt)
    for name in ("ghost", "after"):
        got = pipe.read(name)
        assert got.columns == ["k", "seq"] and got.count() == 0


def test_runner_incremental_keeps_dropped_column(spark, tmp_path):
    """The T8 union rule through a batch-rebuilt node: a build that stops
    producing a column on the next wave overwrites the table without it,
    and the column still reads back, NULL (drift-as-nulls, never a
    drop)."""
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pipe = Pipeline(spark, out)
    waves = [
        spark.createDataFrame([(1, "a", 1.5)], "k long, v string, score double"),
        spark.createDataFrame([(2, "b")], "k long, v string"),
    ]

    @pipe.table("t", deps=["src"], partition_by=None)
    def _t(s, inputs):
        return inputs["src"]

    for df in waves:
        pipe.run_incremental({"src": lambda s, streaming, _df=df: _df}, ckpt)
    got = pipe.read("t")
    assert got.columns == ["k", "v", "score"]
    assert [tuple(r) for r in got.collect()] == [(2, "b", None)]


def test_runner_incremental_overwrite_installs_union_with_data(spark, tmp_path, monkeypatch):
    """A batch-rebuilt node's replacement carries the widened record in
    the same swap as its data: a crash after the swap, before the
    runner's own record, still leaves the column the build dropped in
    the record, so the next wave does not lose it for good."""
    from near_public_lakehouse_spark.operators.merge import read_schema
    from near_public_lakehouse_spark.streaming import runner

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pipe = runner.Pipeline(spark, out)
    waves = [
        spark.createDataFrame([(1, "a", 1.5)], "k long, v string, score double"),
        spark.createDataFrame([(2, "b")], "k long, v string"),
    ]

    @pipe.table("t", deps=["src"], partition_by=None)
    def _t(s, inputs):
        return inputs["src"]

    pipe.run_incremental({"src": lambda s, streaming, _df=waves[0]: _df}, ckpt)
    record = runner.record_schema

    def crash_on_live_record(path, schema):
        if path == pipe.path("t"):
            raise RuntimeError("crash before the runner's record")
        record(path, schema)

    monkeypatch.setattr(runner, "record_schema", crash_on_live_record)
    with pytest.raises(RuntimeError, match="crash before"):
        pipe.run_incremental({"src": lambda s, streaming, _df=waves[1]: _df}, ckpt)
    assert read_schema(pipe.path("t")).fieldNames() == ["k", "v", "score"]
    assert [tuple(r) for r in pipe.read("t").collect()] == [(2, "b", None)]


def test_runner_stream_sink_records_added_column_before_commit(spark, tmp_path, monkeypatch):
    """A file-sink node whose second wave adds a column: a crash after
    the sink commits, at the runner's post-write record, still leaves the
    column readable, because the widened record went in before the
    stream started."""
    from near_public_lakehouse_spark.streaming import runner

    land, out, ckpt = (str(tmp_path / n) for n in ("land", "out", "ckpt"))
    os.makedirs(land)
    declared = _s(("event_id", LongType()), ("value", DoubleType()))
    pipe = runner.Pipeline(spark, out)

    @pipe.table("events", deps=["raw"], partition_by=None)
    def _events(s, inputs):
        return inputs["raw"]

    def src(s, streaming):
        return read_json_evolving(s, land, declared, streaming=streaming)

    def land_file(name, row):
        with open(os.path.join(land, name), "w") as fh:
            fh.write(json.dumps(row) + "\n")

    land_file("b0.json", {"event_id": 0, "value": 0.0})
    pipe.run_incremental({"raw": src}, ckpt)
    land_file("b1.json", {"event_id": 1, "value": 1.0, "fee": 0.5})
    record = runner.record_schema
    committed = os.path.join(pipe.path("events"), "_spark_metadata", "1")

    def crash_after_commit(path, schema):
        if path == pipe.path("events") and os.path.exists(committed):
            raise RuntimeError("crash after the sink's commit")
        record(path, schema)

    monkeypatch.setattr(runner, "record_schema", crash_after_commit)
    with pytest.raises(RuntimeError, match="crash after"):
        pipe.run_incremental({"raw": src}, ckpt)
    got = {r.event_id: r.fee for r in pipe.read("events").collect()}
    assert got == {0: None, 1: pytest.approx(0.5)}


def test_runner_incremental_keeps_columns_the_apply_adds(spark, tmp_path):
    """An apply node whose table carries columns its feed does not (SCD2
    history) keeps them in the record: the next wave's apply reads its
    stored history back through that record. The first wave processes
    zero batches, so the record starts as the feed's schema; the waves
    after it must widen it with the history columns, not replace it with
    the feed's again."""
    from near_public_lakehouse_spark.operators.scd import (
        CURRENT_COL,
        SEQS_COL,
        START_COL,
        apply_changes_scd2,
    )
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    land, out, ckpt = (str(tmp_path / n) for n in ("land", "out", "ckpt"))
    os.makedirs(land)  # nothing has landed before the first wave
    pipe = Pipeline(spark, out)

    @pipe.table(
        "hist",
        deps=["src"],
        partition_by=None,
        apply=lambda s, df, p: apply_changes_scd2(s, p, df, ["k"], "seq"),
    )
    def _hist(s, inputs):
        return inputs["src"]

    def src(s, streaming):
        r = s.readStream if streaming else s.read
        return r.schema("k long, v string, seq long").json(land)

    pipe.run_incremental({"src": src}, ckpt)
    assert pipe.read("hist").columns == ["k", "v", "seq"]
    for i, row in enumerate([{"k": 1, "v": "a", "seq": 1}, {"k": 1, "v": "b", "seq": 2}]):
        with open(os.path.join(land, f"wave{i}.json"), "w") as fh:
            fh.write(json.dumps(row) + "\n")
        pipe.run_incremental({"src": src}, ckpt)
        assert {START_COL, CURRENT_COL, SEQS_COL} <= set(pipe.read("hist").columns)
    got = sorted((r.v, r[CURRENT_COL]) for r in pipe.read("hist").collect())
    assert got == [("a", False), ("b", True)]


def test_runner_batch_swap_recovers_parked_state(spark, tmp_path):
    """r13 review: a crash between park and install leaves only the
    parked copy; the next run_batch must restore it before rebuilding
    (previously it rmtree'd the sole surviving copy up front)."""
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    out = str(tmp_path / "out")
    os.makedirs(out)
    pipe = Pipeline(spark, out)

    def apply_fn(s, df, path):
        df.write.mode("overwrite").parquet(path)

    @pipe.table("state", deps=["src"], partition_by=None, apply=apply_fn)
    def _state(s, inputs):
        return inputs["src"]

    src = spark.createDataFrame([(1, "a")], "k int, v string")
    # simulate the crash window: parked dir exists, live path does not
    parked = os.path.join(out, "state.__old__")
    spark.createDataFrame([(9, "old")], "k int, v string").write.parquet(parked)
    assert not os.path.isdir(os.path.join(out, "state"))
    pipe.run_batch({"src": src})
    rows = [(r.k, r.v) for r in pipe.read("state").collect()]
    assert rows == [(1, "a")]  # rebuilt fresh, recovery didn't crash
    assert not os.path.isdir(parked)
