"""Ready-set scheduling in `streaming.runner.Pipeline`, for both refresh
modes: independent nodes run at the same time, a node starts only once
its deps are on disk, the first failure stops the refresh with no query
left running, the caller's job group reaches every node, and a missing
`out_dir` is created. Also the incremental regime pick (small batch nodes
interpreted) and the per-run node record `_nodes.json`."""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from near_public_lakehouse_spark.streaming.runner import Pipeline

MODES = ("batch", "incremental")
ROWS = [1, 2, 3]
SCHEMA = StructType([StructField("k", LongType())])


def _refresh(pipe: Pipeline, mode: str, tmp_path) -> None:
    """Refresh `pipe` from a one-file JSON feed `src` holding ROWS."""
    land = str(tmp_path / "land")
    os.makedirs(land)
    with open(os.path.join(land, "f.json"), "w") as fh:
        fh.writelines(json.dumps({"k": k}) + "\n" for k in ROWS)

    def src(spark, streaming):
        r = spark.readStream if streaming else spark.read
        return r.schema(SCHEMA).json(land)

    if mode == "batch":
        pipe.run_batch({"src": src(pipe.spark, False)})
    else:
        pipe.run_incremental({"src": src}, str(tmp_path / "ckpt"))


def _keys(pipe: Pipeline, name: str) -> list[int]:
    return sorted(r.k for r in pipe.read(name).collect())


@pytest.mark.parametrize("mode", MODES)
def test_independent_nodes_run_concurrently(spark, tmp_path, mode):
    """Each node blocks until the other is also inside `build`: a runner
    that refreshes one node at a time breaks the barrier."""
    pipe = Pipeline(spark, str(tmp_path / "out"))
    barrier = threading.Barrier(2, timeout=30)

    for name in ("left", "right"):

        @pipe.table(name, ["src"], partition_by=None)
        def _node(s, i):
            barrier.wait()
            return i["src"]

    _refresh(pipe, mode, tmp_path)
    assert _keys(pipe, "left") == _keys(pipe, "right") == ROWS


@pytest.mark.parametrize("mode", MODES)
def test_dependent_sees_every_dep_on_disk(spark, tmp_path, mode):
    pipe = Pipeline(spark, str(tmp_path / "out"))
    seen: dict[str, list[int]] = {}

    for name in ("a", "b"):

        @pipe.table(name, ["src"], partition_by=None)
        def _dep(s, i):
            return i["src"]

    @pipe.table("c", ["a", "b"], partition_by=None)
    def _c(s, i):
        seen.update({d: _keys(pipe, d) for d in ("a", "b")})
        return i["a"].unionByName(i["b"])

    _refresh(pipe, mode, tmp_path)
    assert seen == {"a": ROWS, "b": ROWS}
    assert _keys(pipe, "c") == sorted(ROWS * 2)


def test_wide_dag_builds_each_node_once_after_its_deps(spark, tmp_path):
    """Three levels of six nodes, more threads than cores and a short
    switch interval: every node builds exactly once, and every in-pipeline
    dep is already complete on disk when it does."""
    pipe = Pipeline(spark, str(tmp_path / "out"))
    lock = threading.Lock()
    builds: list[str] = []
    bad_reads: list[str] = []
    width = 6
    levels = [[f"l{lvl}_{i}" for i in range(width)] for lvl in range(3)]
    deps = {name: ["src"] for name in levels[0]}
    for i, name in enumerate(levels[1]):
        deps[name] = [levels[0][i], levels[0][(i + 1) % width]]
    deps.update({name: list(levels[1]) for name in levels[2]})

    for name, ds in deps.items():

        @pipe.table(name, ds, partition_by=None)
        def _node(s, i, _name=name, _deps=ds):
            bad = [d for d in _deps if d != "src" and _keys(pipe, d) != ROWS]
            with lock:
                builds.append(_name)
                bad_reads.extend(f"{_name}<-{d}" for d in bad)
            return i[_deps[0]]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _refresh(pipe, "batch", tmp_path)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(builds) == sorted(deps)
    assert bad_reads == []
    assert all(_keys(pipe, name) == ROWS for name in levels[2])


@pytest.mark.parametrize("mode", MODES)
def test_first_failure_stops_the_refresh(spark, tmp_path, mode):
    """`bad` fails while `ok` is running: `ok` drains, nothing downstream
    of either starts, the error surfaces and no stream is left active."""
    pipe = Pipeline(spark, str(tmp_path / "out"))
    failed = threading.Event()
    built: list[str] = []

    @pipe.table("ok", ["src"], partition_by=None)
    def _ok(s, i):
        assert failed.wait(30)
        built.append("ok")
        return i["src"]

    @pipe.table("bad", ["src"], partition_by=None)
    def _bad(s, i):
        failed.set()
        raise RuntimeError("boom")

    for name, deps in (("after_ok", ["ok"]), ("after_bad", ["bad"]), ("both", ["ok", "bad"])):

        @pipe.table(name, deps, partition_by=None)
        def _downstream(s, i, _name=name):
            built.append(_name)
            return next(iter(i.values()))

    with pytest.raises(RuntimeError, match="boom"):
        _refresh(pipe, mode, tmp_path)
    assert built == ["ok"]
    assert _keys(pipe, "ok") == ROWS
    assert spark.streams.active == []


@pytest.mark.parametrize("mode", MODES)
def test_caller_job_group_reaches_nodes(spark, tmp_path, mode):
    pipe = Pipeline(spark, str(tmp_path / "out"))
    sc = spark.sparkContext
    groups: list[str | None] = []

    for name in ("a", "b"):

        @pipe.table(name, ["src"], partition_by=None)
        def _node(s, i):
            groups.append(s.sparkContext.getLocalProperty("spark.jobGroup.id"))
            return i["src"]

    sc.setJobGroup("dag-test", "runner job group test")
    try:
        _refresh(pipe, mode, tmp_path)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert groups == ["dag-test", "dag-test"]


@pytest.mark.parametrize("mode", MODES)
def test_missing_out_dir_is_created(spark, tmp_path, mode):
    pipe = Pipeline(spark, str(tmp_path / "new" / "out"))

    @pipe.table("t", ["src"], partition_by=None)
    def _t(s, i):
        return i["src"]

    _refresh(pipe, mode, tmp_path)
    assert _keys(pipe, "t") == ROWS


def _chain(pipe: Pipeline, seen: dict) -> None:
    """`src` -> `a` (streamed in incremental mode) -> `b` (batch): each
    build records the session it was given."""

    @pipe.table("a", ["src"], partition_by=None)
    def _a(s, i):
        seen["a"] = s
        return i["src"]

    @pipe.table("b", ["a"], partition_by=None)
    def _b(s, i):
        seen["b"] = s
        return i["a"].withColumn("sq", i["a"].k * i["a"].k).orderBy("k")


def _record(pipe: Pipeline) -> dict:
    with open(os.path.join(pipe.out_dir, "_nodes.json")) as fh:
        return json.load(fh)


def test_small_batch_node_runs_interpreted(spark, tmp_path, monkeypatch):
    """A small batch node builds in an interpreted session; a streamed
    node keeps the caller's; with the interpret bound at 0 every node
    keeps the caller's session. Both regimes leave the same tables."""
    from near_public_lakehouse_spark.streaming import runner

    seen: dict = {}
    small = Pipeline(spark, str(tmp_path / "small" / "out"))
    _chain(small, seen)
    _refresh(small, "incremental", tmp_path / "small")
    assert seen["a"] is spark
    assert seen["b"].conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
    assert seen["b"].conf.get("spark.sql.codegen.wholeStage") == "false"
    record = _record(small)
    assert {n: r["regime"] for n, r in record.items()} == {"a": "streamed", "b": "interpreted"}
    assert record["a"]["bytes"] is None and 0 < record["b"]["bytes"] < runner._INTERPRET_BELOW

    monkeypatch.setattr(runner, "_INTERPRET_BELOW", 0)
    seen.clear()
    compiled = Pipeline(spark, str(tmp_path / "compiled" / "out"))
    _chain(compiled, seen)
    _refresh(compiled, "incremental", tmp_path / "compiled")
    assert seen["a"] is spark and seen["b"] is spark
    assert {n: r["regime"] for n, r in _record(compiled).items()} == {
        "a": "streamed",
        "b": "compiled",
    }
    for name in ("a", "b"):
        assert sorted(small.read(name).collect()) == sorted(compiled.read(name).collect())


def test_interpreted_session_keeps_runtime_confs(spark, tmp_path):
    """`newSession()` alone drops confs set at runtime: the interpreted
    session must see the caller's session timezone."""
    key = "spark.sql.session.timeZone"
    seen: dict = {}
    pipe = Pipeline(spark, str(tmp_path / "out"))
    _chain(pipe, seen)
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        _refresh(pipe, "incremental", tmp_path)
    finally:
        spark.conf.set(key, prev)
    assert seen["b"] is not spark
    assert seen["b"].conf.get(key) == "America/New_York"


def test_node_record_is_replaced_whole(spark, tmp_path, monkeypatch):
    """`_nodes.json` holds one entry per node after a run, and a run that
    dies at the record's rename leaves the previous record intact: it is
    never written in place."""
    from near_public_lakehouse_spark.streaming import runner

    pipe = Pipeline(spark, str(tmp_path / "out"))
    _chain(pipe, {})
    _refresh(pipe, "incremental", tmp_path)
    record_path = os.path.join(pipe.out_dir, "_nodes.json")
    with open(record_path) as fh:
        before = fh.read()
    assert set(json.loads(before)) == {"a", "b"}
    assert all(r["seconds"] > 0 for r in json.loads(before).values())

    replace = runner.os.replace

    def crash_on_record(src, dst):
        if dst == record_path:
            raise OSError("crash at the record's rename")
        replace(src, dst)

    monkeypatch.setattr(runner.os, "replace", crash_on_record)
    with pytest.raises(OSError, match="record's rename"):
        pipe.run_incremental(
            {"src": lambda s, streaming: s.createDataFrame([(9,)], SCHEMA)},
            str(tmp_path / "ckpt"),
        )
    with open(record_path) as fh:
        assert fh.read() == before


def test_unreadable_node_record_does_not_block_a_refresh(spark, tmp_path):
    """The record is written for reading by people, never read by the
    runner: a truncated or malformed `_nodes.json` left by a crash or
    another writer is replaced by the next run, which refreshes as usual."""
    for garbage in ("", '{"a": {"seconds": 1', '{"a": 7, "b": [1]}'):
        pipe = Pipeline(spark, str(tmp_path / "out"))
        _chain(pipe, {})
        os.makedirs(pipe.out_dir, exist_ok=True)
        with open(os.path.join(pipe.out_dir, "_nodes.json"), "w") as fh:
            fh.write(garbage)
        pipe.run_batch({"src": spark.createDataFrame([(k,) for k in ROWS], SCHEMA)})
        assert _keys(pipe, "b") == ROWS
        assert set(_record(pipe)) == {"a", "b"}
