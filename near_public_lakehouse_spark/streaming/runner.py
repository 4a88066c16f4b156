"""DLT-replacement pipeline runner: a DAG of table definitions refreshed
batch or incrementally (SURVEY §4: the only "engine" pieces the rebuild
needs, item (a)).

Each node declares (name, deps, build_fn); the runner materializes each
table to parquet partitioned by `block_date`. Both modes share one
ready-set scheduler, `Pipeline._run_dag`, the way a DLT update runs flows
that do not depend on each other at the same time: a node is handed to a
driver thread pool as soon as every in-pipeline dep has finished, so
independent nodes plan, launch jobs, stream and commit concurrently on one
SparkContext. The pool is as wide as the context's task slots
(`defaultParallelism`); the ready set caps it in practice. Jobs share
Spark's default FIFO scheduler, and every node inherits the caller's local
properties (job group, description), so `cancelJobGroup` reaches all of
them. On the first node failure no further node starts; the nodes already
running drain (each awaits its own query), and that first error is
re-raised. Every run replaces `<out_dir>/_nodes.json` in one rename: each
finished node's wall seconds, regime and the bytes its size gate counted.
It is there to be read after a run; the runner never reads it.

In incremental mode the fact-side bronze source is a Structured Streaming
file/parquet stream with `trigger(availableNow=True)` and a checkpoint —
the same resume contract as DLT's streaming live tables (T2/T3) — while
dimension-side inputs are re-read per micro-batch (stream-static join; the
blocks side of J1 is complete by the time a shard batch lands, because a
shard node starts only after `silver_blocks` has finished).

Incremental nodes run in one of three regimes. A node with a stream
source is `streamed`, in the caller's session: its micro-batch size is
unknown until the trigger runs. A batch node whose inputs (its deps'
table dirs, plus its own dir for an `apply` node) hold fewer than
`_INTERPRET_BELOW` bytes (1 MiB, the measured crossover) is
`interpreted`: it reads, builds and writes in a session that interprets
expressions instead of generating and compiling code for them, because
at a few hundred rows the Janino compile costs more than the query.
Larger nodes stay `compiled`, in the caller's session. `run_batch` keeps the caller's session for every node:
its source frames are bound to it, and a full refresh reads all of
history.

Stateful nodes (an `apply` fn: the SCD1 APPLY CHANGES tables and the
insert-only publish tables) all fold through the one keyed-MERGE core,
`operators.merge.merge_upsert`. A full refresh applies such a node into a
fresh sibling dir and installs it with that core's crash-safe swap
(`merge._recover` first, then `merge._swap_in`); stateless nodes are
overwritten in both modes by `Pipeline._overwrite`.

Scale notes: availableNow + checkpoint gives exactly-once file processing
without a scheduler; per-table checkpoints make every table independently
restartable; `maxFilesPerTrigger` bounds batch size. foreachBatch nodes
(SCD1, FT/NFT with rank columns) get batch semantics per micro-batch,
which is how OSS expresses APPLY CHANGES (SURVEY §2.5 A8).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from near_public_lakehouse_spark.operators.merge import (
    _recover,
    _swap_in,
    read_schema,
    read_table,
    record_schema,
    write_table,
)
from near_public_lakehouse_spark.streaming.evolution import merge_schemas

# Confs of the session small batch nodes run in: no whole-stage codegen,
# and every expression interpreted. `factoryMode` is an internal conf;
# Spark's own expression test suites set it to NO_CODEGEN to run every
# expression through its interpreted path.
_INTERPRETED_CONF = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}
# An incremental batch node runs interpreted while its inputs hold fewer
# bytes than this. Measured on 4 vCPU, one filter/derive/group-by node
# in a warm JVM with a new plan per run: interpreted 8-10% faster at
# 0.1-0.2 MB, even at 0.6-1.2 MB, 7% slower at 2.4 MB and more above.
# A medallion wave's nodes read under 0.4 MB each.
_INTERPRET_BELOW = 1024 * 1024


def _interpreted_session(spark: SparkSession) -> SparkSession:
    """A new session on `spark`'s context that interprets instead of
    compiling. Every modifiable conf of `spark` is copied first:
    `newSession()` alone drops confs set at runtime, such as a caller's
    session timezone."""
    session = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            session.conf.set(k, v)
    for k, v in _INTERPRETED_CONF.items():
        session.conf.set(k, v)
    return session


def _bytes_until(paths: list[str], bound: int) -> int:
    """Bytes of the files under `paths`, counted only until they reach
    `bound`, so a large table costs a short walk. Missing dirs count 0."""
    total, stack = 0, list(paths)
    while stack and total < bound:
        try:
            entries = os.scandir(stack.pop())
        except FileNotFoundError:
            continue
        with entries:
            for e in entries:
                if e.is_dir(follow_symlinks=False):
                    stack.append(e.path)
                else:
                    total += e.stat(follow_symlinks=False).st_size
                    if total >= bound:
                        break
    return total


@dataclass
class TableDef:
    name: str
    deps: list[str]
    build: Callable[..., DataFrame]  # (spark, {dep: DataFrame}) -> DataFrame
    partition_by: str | None = "block_date"
    # foreachBatch apply fn for stateful nodes: (spark, updates_df, target_path)
    apply: Callable[..., None] | None = None


@dataclass
class Pipeline:
    spark: SparkSession
    out_dir: str
    tables: dict[str, TableDef] = field(default_factory=dict)

    def table(
        self,
        name: str,
        deps: list[str],
        partition_by: str | None = "block_date",
        apply: Callable[..., None] | None = None,
    ):
        def deco(fn):
            self.tables[name] = TableDef(name, deps, fn, partition_by, apply)
            return fn

        return deco

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _topo_order(self) -> list[TableDef]:
        order: list[TableDef] = []
        done: set[str] = set()

        def visit(name: str, stack: tuple = ()):
            if name in done:
                return
            if name in stack:
                raise ValueError(f"cycle at {name}")
            t = self.tables.get(name)
            if t is None:  # external source, nothing to build
                done.add(name)
                return
            for d in t.deps:
                visit(d, stack + (name,))
            order.append(t)
            done.add(name)

        for name in self.tables:
            visit(name)
        return order

    def read(self, name: str) -> DataFrame:
        """A materialized table, under the schema recorded in its dir."""
        return read_table(self.spark, self.path(name))

    def _run_dag(self, refresh: Callable[[TableDef], tuple[str, int | None]]) -> None:
        """Run `refresh(t)` for every node, each as soon as all of its
        in-pipeline deps have finished, on `defaultParallelism` driver
        threads. Each call inherits the caller's local properties as they
        are when the node is submitted. On the first failure no further
        node starts; the running ones drain, the record is replaced, then
        that error is raised.

        `refresh(t)` returns the node's regime and the bytes its size
        gate counted (None when it has no gate); `<out_dir>/_nodes.json`
        gets both, with the wall seconds of every node that finished. The
        runner never reads the record back."""
        order = self._topo_order()
        waiting = {t.name: {d for d in t.deps if d in self.tables} for t in order}
        dependents: dict[str, list[TableDef]] = {t.name: [] for t in order}
        for t in order:
            for d in waiting[t.name]:
                dependents[d].append(t)
        os.makedirs(self.out_dir, exist_ok=True)

        record: dict[str, dict] = {}

        def timed(t: TableDef) -> None:
            start = time.perf_counter()
            regime, counted = refresh(t)
            record[t.name] = {"seconds": time.perf_counter() - start, "regime": regime, "bytes": counted}

        running: dict[Future, TableDef] = {}
        error: BaseException | None = None
        width = self.spark.sparkContext.defaultParallelism
        with ThreadPoolExecutor(width, thread_name_prefix="pipeline") as pool:

            def submit(t: TableDef) -> None:
                running[pool.submit(inheritable_thread_target(self.spark)(timed), t)] = t

            for t in order:
                if not waiting[t.name]:
                    submit(t)
            while running:
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                finished = [running.pop(f) for f in done]
                failures = (f.exception() for f in done if f.exception() is not None)
                error = error or next(failures, None)
                if error is not None:
                    continue
                for t in finished:
                    for c in dependents[t.name]:
                        waiting[c.name].discard(t.name)
                        if not waiting[c.name]:
                            submit(c)
        tmp = os.path.join(self.out_dir, "._nodes.json.tmp")
        with open(tmp, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.out_dir, "_nodes.json"))
        if error is not None:
            raise error

    def _overwrite(self, t: TableDef, df: DataFrame, prior: StructType | None = None) -> None:
        """Stateless node: replace the table with `df`, partitioned by the
        node's `partition_by` column when the frame carries it. Given the
        table's `prior` record (incremental mode), the replacement is
        written beside the table, records `merge_schemas(prior, df.schema)`
        and is swapped in, so data and widened record land in one rename
        and no crash leaves a narrowed record."""
        path = self.path(t.name)
        part = t.partition_by if t.partition_by in df.columns else None
        if prior is None:
            write_table(df, path, part)
            return
        tmp = path + ".__refresh__"
        shutil.rmtree(tmp, ignore_errors=True)
        write_table(df, tmp, part)
        record_schema(tmp, merge_schemas(prior, df.schema))
        _swap_in(tmp, path)

    def run_batch(self, sources: dict[str, DataFrame]) -> None:
        """Full refresh: build every table as its deps finish, parquet it.

        Stateful (apply-fn) nodes are refreshed into a FRESH path and
        swapped in: applying straight onto a previously populated target
        would fold the new change feed into the old state — rows deleted
        upstream would survive a "full refresh". The swap is the MERGE
        core's own (`merge._recover` at entry, then `merge._swap_in`'s
        park-then-install renames): a crash between the two renames
        leaves the old table PARKED, and the next run restores it before
        doing anything else (an earlier form had a window
        where neither copy existed and the next run deleted the parked
        copy before the rebuild succeeded).
        """
        built: dict[str, DataFrame] = dict(sources)

        def refresh(t: TableDef) -> tuple[str, None]:
            inputs = {d: built[d] for d in t.deps}
            df = t.build(self.spark, inputs)
            if t.apply is not None:
                path = self.path(t.name)
                tmp = path + ".__refresh__"
                _recover(path)
                shutil.rmtree(tmp, ignore_errors=True)
                t.apply(self.spark, df, tmp)
                _swap_in(tmp, path)
            else:
                self._overwrite(t, df)
            built[t.name] = self.read(t.name)
            return "compiled", None

        self._run_dag(refresh)

    def run_incremental(
        self,
        stream_sources: dict[str, Callable[[SparkSession, bool], DataFrame]],
        checkpoint_dir: str,
    ) -> None:
        """Incremental refresh: tables whose root source supports streaming
        run as availableNow streams; the rest rebuild in batch. A node
        starts once all its deps have finished (its stream drained, its
        table written), so independent nodes refresh concurrently and a
        stream-static join always reads a complete static side.

        `stream_sources[name](spark, streaming)` returns the source as a
        stream or batch frame. A node's streaming fact side is its first
        dep (in `deps` order) that is a stream source; every other dep,
        stream source or not, is read as a static batch frame.
        A node without a stream source runs interpreted when its inputs
        hold fewer than `_INTERPRET_BELOW` bytes (module docstring).
        """
        bound = _INTERPRET_BELOW
        interpreted = _interpreted_session(self.spark) if bound > 0 else None

        def refresh(t: TableDef) -> tuple[str, int | None]:
            root = next((d for d in t.deps if d in stream_sources), None)
            path = self.path(t.name)
            _recover(path)  # a parked table is live again before it is sized or read
            spark, regime, counted = self.spark, "streamed", None
            if root is None:
                inputs_dirs = [self.path(d) for d in t.deps] + ([path] if t.apply else [])
                counted = _bytes_until(inputs_dirs, bound)
                small = counted < bound
                spark = interpreted if small else self.spark
                regime = "interpreted" if small else "compiled"
            inputs: dict[str, DataFrame] = {}
            for d in t.deps:
                if d == root:
                    inputs[d] = stream_sources[d](spark, True)
                elif d in stream_sources:
                    inputs[d] = stream_sources[d](spark, False)
                else:
                    inputs[d] = read_table(spark, self.path(d))
            df = t.build(spark, inputs)
            ckpt = os.path.join(checkpoint_dir, t.name)
            prior = read_schema(path)
            if not df.isStreaming:
                # No streamable dep: batch rebuild (stateful nodes still go
                # through their apply fn — SCD state must fold, not be
                # replaced by the raw change feed).
                if t.apply is not None:
                    t.apply(spark, df, path)
                else:
                    self._overwrite(t, df, prior)
            elif t.apply is not None:
                apply_fn = t.apply

                def _fb(batch_df: DataFrame, _bid: int, _a=apply_fn, _s=spark, _p=path):
                    _a(_s, batch_df, _p)

                q = (
                    df.writeStream.foreachBatch(_fb)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            else:
                # The widened record goes in before the sink can commit: a
                # crash after the commit must not leave a column the build
                # added unreadable. `_recover` has run, so no parked copy
                # of the table is left for an early record to hide.
                record_schema(path, merge_schemas(prior, df.schema) if prior else df.schema)
                writer = (
                    df.writeStream.format("parquet")
                    .option("path", path)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                )
                if t.partition_by and t.partition_by in df.columns:
                    writer = writer.partitionBy(t.partition_by)
                q = writer.start()
                q.awaitTermination()
            # T8, recorded again after the write: the record only widens. It
            # is the union of the record before the write, the record the
            # write left (an apply's own columns, such as SCD2 history) and
            # the build's schema: a column added mid-stream joins it, and
            # one the build no longer produces stays and reads back NULL
            # (drift-as-nulls, never a drop).
            known = [s for s in (prior, read_schema(path), df.schema) if s is not None]
            record_schema(path, reduce(merge_schemas, known))
            return regime, counted

        self._run_dag(refresh)
