"""Keyed MERGE upsert over parquet tables.

OSS stand-in for Delta's ``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT
MATCHED INSERT`` (reference M1 — 12+ sites, e.g. Epochs pipeline :84-90,
Aggregated Circulating Supply Pipeline.py:87-94). delta-spark isn't in this
container, so the engine implements MERGE as a full-outer join + rewrite.

Scale design: a naive MERGE rewrites the whole table. The reference never
does that — every MERGE is fenced to a date window over `block_date`
partitions (NEAR Public Datasets.py:77-81,149-154). `partition_col`
reproduces that: only partitions present in the source are read, merged and
dynamically overwritten; untouched partitions are never opened. At 100 TB a
daily merge then costs O(days-touched), not O(history).

Schema: every write records the table's schema in ``<table>/_schema.json``
(the Delta ``metaData`` action's role), and `read_table` reads under it.
Spark's parquet reader skips ``_``-prefixed files, and the swaps below
carry ``_`` entries, so data and schema move together.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from near_public_lakehouse_spark.streaming.evolution import merge_schemas


def table_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        n.endswith(".parquet") or n.startswith("part-") or "=" in n for n in os.listdir(path)
    )


def _recover(target_path: str) -> None:
    """Re-install data parked by a crashed `_rewrite`/`_swap_in` swap.

    A crash between parking a live partition (or the unpartitioned target)
    and installing its replacement leaves that data ONLY in ``.__old__``.
    Before anything reads the target or cleans up the parked dir, restore
    every parked partition whose live dir is missing — for the
    unpartitioned layout, the whole parked dir when the target is absent.
    After recovery the target is a complete pre-swap (or mixed old/new,
    both per-partition-consistent) table and the merge recompute is safe.

    When the target EXISTS, only partition dirs (``col=value``) and
    control-plane entries (``_``-prefixed: ``_delta_log``, the schema
    record) are restored: an unpartitioned crash AFTER the install leaves
    the old loose part-files in the parked dir, and re-installing those beside
    the already-swapped-in replacement would duplicate every pre-merge
    row (old and new part-file names never collide).
    """
    base = target_path.rstrip("/")
    parked = base + ".__old__"
    if not os.path.isdir(parked):
        return
    if not os.path.isdir(target_path):
        os.rename(parked, target_path)
        return
    for name in os.listdir(parked):
        live = os.path.join(target_path, name)
        src = os.path.join(parked, name)
        if os.path.exists(live):
            continue
        if name.startswith("_") or ("=" in name and os.path.isdir(src)):
            os.rename(src, live)


def read_schema(path: str) -> StructType | None:
    """The schema recorded in `path`'s ``_schema.json``, or None (no
    table yet, or one written by an older build or another writer)."""
    try:
        with open(os.path.join(path, "_schema.json")) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def record_schema(path: str, schema: StructType) -> None:
    """Replace `path`'s recorded schema in one rename (creating the dir:
    a dir that holds only the record reads as an empty typed table)."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "._schema.json.tmp")
    with open(tmp, "w") as f:
        f.write(schema.json())
    os.replace(tmp, os.path.join(path, "_schema.json"))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at `path`, under its recorded schema when it has
    one: files that predate an added column read it as NULL, whichever
    file Spark would have taken the schema from, and no footer-reading
    job runs. Without a record, Spark infers the schema."""
    schema = read_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Overwrite the parquet table at `path` with `df`, hive-partitioned
    on `partition_col` when given, and record `df`'s schema."""
    writer = df.write.mode("overwrite").options(**(options or {}))
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)
    record_schema(path, df.schema)


def _partition_fence(source: DataFrame, partition_col: str):
    """(touched partition values, null-safe fence column) for a keyed
    MERGE: one bounded driver collect of the source's distinct partition
    values, mirroring the reference's trailing date-window MERGE fences.
    Null-safe because isin() never matches NULL — an unguarded fence
    would exclude the null partition's target rows from the join and let
    the swap replace __HIVE_DEFAULT_PARTITION__ with source-only rows.
    Shared by both merge paths (r13 review: the two copies had already
    begun to drift)."""
    parts = [r[0] for r in source.select(partition_col).distinct().collect()]
    fence = F.col(partition_col).isin([p for p in parts if p is not None])
    if any(p is None for p in parts):
        fence = fence | F.col(partition_col).isNull()
    return parts, fence


def _align_columns(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Null-fill each frame's missing columns so both carry the UNION of
    the two schemas (a's column order first) — drift-as-nulls, never a
    drop, as `read_table` applies it to files that predate a column."""
    a_types = {f.name: f.dataType for f in a.schema.fields}
    b_types = {f.name: f.dataType for f in b.schema.fields}
    for c in [c for c in b.columns if c not in a_types]:
        a = a.withColumn(c, F.lit(None).cast(b_types[c]))
    for c in [c for c in a_types if c not in b_types]:
        b = b.withColumn(c, F.lit(None).cast(a_types[c]))
    return a, b.select(*a.columns)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
    when_matched_update: bool = True,
    ignore_null_updates: bool = False,
    sequence_by: str | None = None,
) -> list | None:
    """MERGE `source` into the parquet table at `target_path` on `keys`.

    - matched + `when_matched_update`: source row wins (per-column
      ``coalesce(src, tgt)`` when `ignore_null_updates`, the reference's
      `IGNORE NULL UPDATES` — SCD tables.sql A8 / SURVEY §7 hard-parts);
      with `sequence_by`, only if its sequence is >= the stored one (the
      SCD1 `SEQUENCE BY` guard, see `merged_frame`).
    - matched + not `when_matched_update`: insert-only MERGE (reference
      `WHEN NOT MATCHED INSERT *` variants).
    - unmatched: inserted.

    Schema drift (T8): a source that carries columns the stored table
    lacks (a widened stream after a restart), or lacks stored columns (a
    narrowed one), is aligned by `merged_frame` to the UNION with
    null-fill on both sides (drift-as-nulls, never a drop); the touched
    partitions' rewrite records the union, so the untouched ones read the
    new column as NULL.

    Source must be unique per key (pre-dedup with operators.scd.latest_by),
    and `partition_col` must be STABLE per key: the fence only rewrites
    partitions the source touches, so an update that MOVES a key to a new
    partition value would leave the stale copy live in its old partition
    (the same contract every partition-pruned Delta MERGE carries; the
    published tables satisfy it because block_date is deterministic per
    key, and SCD1's bucket is a hash of the keys).

    Returns the distinct `partition_col` values the merge touched (the
    fence list), or None when unpartitioned / initial full write — callers
    that maintain control-plane sidecars (delta_export.sync_delta_log_from_dir)
    use it to diff only the touched partition dirs.
    """
    _recover(target_path)
    if not table_exists(target_path):
        write_table(source, target_path, partition_col)
        return None

    target = read_table(spark, target_path)
    parts: list | None = None
    if partition_col:
        parts, fence = _partition_fence(source, partition_col)
        target = target.filter(fence)

    merged = merged_frame(
        target,
        source,
        keys,
        when_matched_update=when_matched_update,
        ignore_null_updates=ignore_null_updates,
        sequence_by=sequence_by,
    )

    _rewrite(spark, merged, target_path, partition_col)
    return parts


def merged_frame(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    when_matched_update: bool = True,
    ignore_null_updates: bool = False,
    sequence_by: str | None = None,
) -> DataFrame:
    """The MERGE result as a DataFrame (shared by the path-based
    `merge_upsert`, the log-authoritative `merge_upsert_logged` and the
    versioned-table `versioned_upsert`); every one of them gets the same
    drift policy here (`_align_columns`).

    `sequence_by` is the SCD1 ``SEQUENCE BY`` guard: a source row
    replaces a stored one only if its sequence is >= the stored sequence,
    so out-of-order batches converge to the same state. A stored NULL
    sequence LOSES to any arriving update (a bare ``s_seq >= NULL`` is
    SQL NULL, which would make the NULL-sequence row immortal)."""
    source, target = _align_columns(source, target)
    # Presence is tracked with explicit markers, NOT key nullability: the
    # join uses eqNullSafe, so a row whose first key column is legitimately
    # NULL still matches — keys[0].isNotNull() would misclassify it and
    # silently drop the update (or bypass the sequence guard).
    src = source.withColumn("__src__", F.lit(True)).alias("src")
    tgt = target.withColumn("__tgt__", F.lit(True)).alias("tgt")
    cond = [F.col(f"src.{k}").eqNullSafe(F.col(f"tgt.{k}")) for k in keys]
    joined = tgt.join(src, cond, "full_outer")
    src_present = F.col("src.__src__").isNotNull()
    tgt_present = F.col("tgt.__tgt__").isNotNull()
    wins = src_present
    if sequence_by is not None:
        s_seq, t_seq = F.col(f"src.{sequence_by}"), F.col(f"tgt.{sequence_by}")
        wins = ~tgt_present | (src_present & (t_seq.isNull() | (s_seq >= t_seq)))

    cols = []
    for c in source.columns:
        s, t = F.col(f"src.{c}"), F.col(f"tgt.{c}")
        if c in keys:
            cols.append(F.when(src_present, s).otherwise(t).alias(c))
        elif not when_matched_update:
            # insert-only: existing row wins (even its NULL fields), new
            # keys come from source
            cols.append(F.when(tgt_present, t).otherwise(s).alias(c))
        elif ignore_null_updates:
            # matched: non-null source fields overwrite; else keep target
            cols.append(F.when(wins, F.coalesce(s, t)).otherwise(t).alias(c))
        else:
            cols.append(F.when(wins, s).otherwise(t).alias(c))
    return joined.select(*cols)


def drop_stale(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    sequence_by: str,
    partition_col: str | None = None,
) -> DataFrame:
    """`source` without the rows that `merged_frame`'s ``SEQUENCE BY``
    guard rejects against the stored table. `source` may hold several
    rows per key: SCD1 IGNORE NULL UPDATES drops the stale ones before
    its per-column pick, so a change older than the stored row supplies
    no value. `partition_col` fences the stored read as in `merge_upsert`."""
    _recover(target_path)
    if not table_exists(target_path):
        return source
    target = read_table(spark, target_path)
    if partition_col:
        target = target.filter(_partition_fence(source, partition_col)[1])
    src, tgt = source.alias("src"), target.select(*keys, sequence_by).alias("tgt")
    s_seq, t_seq = F.col(f"src.{sequence_by}"), F.col(f"tgt.{sequence_by}")
    cond = [F.col(f"src.{k}").eqNullSafe(F.col(f"tgt.{k}")) for k in keys]
    loses = t_seq.isNotNull() & (s_seq.isNull() | (s_seq < t_seq))
    return src.join(tgt, [*cond, loses], "left_anti")


def _swap_in(tmp: str, target_path: str) -> None:
    """Install the materialized dir `tmp` as `target_path` by renames:
    park the live dir as ``.__old__``, move `tmp` into place, carry the
    control-plane entries (``_``-prefixed: ``_delta_log``, and the
    ``_schema.json`` record when `tmp` has none) that live inside the
    table root, then drop the parked copy. A target that does not exist yet
    is simply renamed into place. A crash between park and install leaves
    the parked dir as the only copy, which `_recover` re-installs — so
    callers run `_recover` before materializing `tmp`, and any parked dir
    left at this point is stale."""
    parked = target_path.rstrip("/") + ".__old__"
    shutil.rmtree(parked, ignore_errors=True)
    if not os.path.isdir(target_path):
        os.rename(tmp, target_path)
        return
    os.rename(target_path, parked)
    os.rename(tmp, target_path)
    for name in os.listdir(parked):
        if name.startswith("_") and not os.path.exists(os.path.join(target_path, name)):
            os.rename(os.path.join(parked, name), os.path.join(target_path, name))
    shutil.rmtree(parked, ignore_errors=True)


def _rewrite(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
    partition_col: str | None,
    writer_options: dict[str, str] | None = None,
) -> None:
    """Materialize-then-swap, crash-safe for both layouts.

    The merged plan's lineage still reads `target_path` (the full-outer
    join), so the result is ALWAYS materialized to a sibling tmp dir first
    — never written onto the path it reads. The swap is then pure
    filesystem renames with no Spark job in flight:

    - unpartitioned: one directory rename (`_swap_in`: old parked, then
      dropped);
    - partitioned: one rename per touched partition, with the old
      partition parked OUTSIDE the table root (a parked dir named
      ``col=value.__old__`` inside the root would be misparsed as a
      partition value on read). A crash mid-swap leaves every partition
      either fully-old or fully-new — never half-written — and the tmp
      dir survives for re-apply. The union of the recorded and the new
      schema is recorded BEFORE the first rename, so no crash point
      hides a column from the partitions already swapped.

    This replaces the round-1 dynamic-partition-overwrite path, which
    wrote directly onto the table while reading it and leaked the session
    conf `spark.sql.sources.partitionOverwriteMode=dynamic`.
    """
    base = target_path.rstrip("/")
    tmp = base + ".__merge_tmp__"
    parked = base + ".__old__"
    # If a prior swap crashed between park and install, the parked dir
    # holds the only copy of some partitions — re-install before cleanup.
    _recover(target_path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(parked, ignore_errors=True)

    write_table(df, tmp, partition_col, writer_options)

    if not partition_col:
        _swap_in(tmp, target_path)
        return

    prior = read_schema(target_path)
    record_schema(target_path, merge_schemas(prior, df.schema) if prior else df.schema)
    os.makedirs(parked, exist_ok=True)
    for name in sorted(os.listdir(tmp)):
        new_part = os.path.join(tmp, name)
        if not (os.path.isdir(new_part) and "=" in name):
            continue
        live_part = os.path.join(target_path, name)
        if os.path.isdir(live_part):
            os.rename(live_part, os.path.join(parked, name))
        os.rename(new_part, live_part)
    shutil.rmtree(parked, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def merge_upsert_logged(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
    when_matched_update: bool = True,
    ignore_null_updates: bool = False,
) -> tuple[list | None, list[str]]:
    """Log-authoritative MERGE for tables whose live file set is defined
    by their `_delta_log` (the published Delta tables): the target is read
    from the snapshot's LIVE files — on-disk tombstones are invisible —
    the merged touched partitions are written to a sibling tmp dir, and
    the new part-files are installed IN PLACE beside the superseded ones.
    Returns (touched_partition_values, installed_relpaths); the caller
    commits the diff with
    `delta_export.sync_delta_log_from_dir(live_files=installed, ...)`.

    Superseded part-files are NOT deleted (unlike `merge_upsert`'s swap):
    they stay on disk as log tombstones until
    `delta_export.vacuum_delta_table` drops the ones unreferenced past
    the retention window — the Delta retention story (reference pairs
    every scheduled MERGE with OPTIMIZE/VACUUM, `NB/Epochs and validators
    Silver Pipeline.py:95-96`), which keeps time travel replayable inside
    the window.

    Shares `merge_upsert`'s contracts: source unique per key, and
    `partition_col` STABLE per key (the fence only rewrites touched
    partitions — a key that moved partitions would leave its stale copy
    live; block_date is deterministic per key for every published table).

    Crash safety is INHERENT here, with no intent marker: nothing mutates
    the log-defined live state until the sync commit, so a crash at any
    point (tmp write, install, pre-sync) leaves only unreferenced orphan
    files that vacuum sweeps; the next publish re-merges from the
    unchanged log state and is idempotent. Part-file names carry the
    writing job's UUID, so installs never collide with live files,
    tombstones, or prior crash orphans."""
    from near_public_lakehouse_spark.operators.delta_reader import (
        DeltaLogReader,
    )

    reader = DeltaLogReader(table_dir)
    parts: list | None = None
    if partition_col:
        parts, fence = _partition_fence(source, partition_col)
        # Prune the target read to the touched partitions through the
        # protocol reader's data skipping (null-safe 'in'): per-publish
        # read cost is O(files in touched partitions), not O(table).
        # Serialization via partition_value_str: str(True) is 'True' but
        # the stored pv (and hive dir) is 'true' — the one mismatch that
        # both broke boolean scoping and disabled pruning (r12 review).
        from near_public_lakehouse_spark.operators.delta_export import (
            partition_value_str,
        )

        pv_strs = [partition_value_str(p) for p in parts]
        target = reader.to_df(spark, where=[(partition_col, "in", pv_strs)])
        target = target.filter(fence)
    else:
        target = reader.to_df(spark)

    merged = merged_frame(
        target,
        source,
        keys,
        when_matched_update=when_matched_update,
        ignore_null_updates=ignore_null_updates,
    )
    installed = _install_in_place(merged, table_dir, partition_col)
    return parts, installed


def _install_in_place(
    df: DataFrame, table_dir: str, partition_col: str | None
) -> list[str]:
    """Materialize `df` to a sibling tmp dir (the plan reads the table it
    replaces, same rule as `_rewrite`), then move the part-files into the
    live partition dirs WITHOUT touching existing files. Returns the
    installed table-relative paths, sorted."""
    base = table_dir.rstrip("/")
    tmp = base + ".__merge_tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    write_table(df, tmp, partition_col)

    installed: list[str] = []
    if partition_col:
        for name in sorted(os.listdir(tmp)):
            src_dir = os.path.join(tmp, name)
            if not (os.path.isdir(src_dir) and "=" in name):
                continue
            dst_dir = os.path.join(table_dir, name)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in sorted(os.listdir(src_dir)):
                if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                    os.rename(
                        os.path.join(src_dir, fn), os.path.join(dst_dir, fn)
                    )
                    installed.append(f"{name}/{fn}")
    else:
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                os.rename(os.path.join(tmp, fn), os.path.join(table_dir, fn))
                installed.append(fn)
    shutil.rmtree(tmp, ignore_errors=True)
    return installed
