"""Ready-set scheduling in `streaming.runner.Pipeline`, for both refresh
modes: independent nodes run at the same time, a node starts only once
its deps are on disk, the first failure stops the refresh with no query
left running, the caller's job group reaches every node, and a missing
`out_dir` is created."""

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
