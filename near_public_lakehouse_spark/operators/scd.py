"""SCD Type-1 keyed upsert: the OSS replacement for Databricks DLT
``APPLY CHANGES INTO ... KEYS (...) SEQUENCE BY ... STORED AS SCD TYPE 1``
(reference A8 — SCD tables.sql:14-39,53-77,90-116,129-149).

Semantics reproduced (SURVEY §2.5: an arg-max per key followed by the M1
MERGE with a null-preserving update):
- KEYS / SEQUENCE BY: within each micro-batch the row with the highest
  sequence value wins (arg-max via row_number, reference T7); a stored row
  is only replaced by a source row with sequence >= stored sequence, so
  out-of-order batches converge to the same state.
- IGNORE NULL UPDATES: on update ``coalesce(new, old)`` per column
  (SURVEY §7 hard-parts list). Inside a batch the changes the guard
  rejects are dropped, then each column takes its latest non-NULL value:
  the one-change-at-a-time fold, so an in-order feed yields the same row
  in one batch or many. A coalescing fold is not order-free, so under
  this option only in-order feeds converge (a late change older than the
  stored row is dropped, not folded in beneath it).

The MERGE itself is `operators.merge.merge_upsert` with its
``sequence_by`` guard — the one keyed-MERGE core (combine rule, schema
drift policy, partition fence, crash-safe swap) that the publish nodes
use too.

Streaming: `apply_changes_stream` wraps the batch core in foreachBatch —
the exact pattern SURVEY §4 prescribes for the DLT replacement.

Scale design: state lives in the target table, partitioned however the
caller chose; each batch shuffles only on the key columns. Hot keys are
fine (arg-max is a 1-row-per-key reduction, AQE splits skewed partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from near_public_lakehouse_spark.operators.merge import (
    _align_columns,
    _recover,
    _rewrite,
    drop_stale,
    merge_upsert,
    read_table,
    table_exists,
    write_table,
)


def _orderable(dt) -> bool:
    """Spark can ORDER BY atomics, arrays and structs of orderables —
    but never maps (AnalysisException); skip them in tiebreaks."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _latest_first(df: DataFrame, keys: list[str], sequence_by: str) -> Window:
    """Per-key window, latest row first: sequence desc, ties broken
    deterministically by the remaining ORDERABLE columns — map-typed
    columns can't ORDER BY and are skipped."""
    types = {f.name: f.dataType for f in df.schema.fields}
    tiebreak = [
        c
        for c in df.columns
        if c not in keys and c != sequence_by and _orderable(types[c])
    ]
    return Window.partitionBy(*keys).orderBy(
        F.desc(sequence_by), *[F.desc(c) for c in tiebreak]
    )


def latest_by(df: DataFrame, keys: list[str], sequence_by: str) -> DataFrame:
    """Arg-max dedup: latest row per key by the sequence column, ties
    broken deterministically (`_latest_first`)."""
    w = _latest_first(df, keys, sequence_by)
    return df.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop(
        "__rn__"
    )


def _latest_non_null_by(df: DataFrame, keys: list[str], sequence_by: str) -> DataFrame:
    """`latest_by` under IGNORE NULL UPDATES: one row per key whose every
    other column holds its latest non-NULL value in the batch (same order
    as `latest_by`); the sequence column is the max. Over the changes
    `merge.drop_stale` admits, this equals folding them one at a time with
    ``coalesce(new, old)``, so batch splits of an in-order feed agree (the
    latest row alone would lose a value that a later change leaves NULL,
    e.g. the permission of a key that is added, then deleted)."""
    w = _latest_first(df, keys, sequence_by)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cols = [
        F.col(c) if c in keys or c == sequence_by
        else F.first(c, ignorenulls=True).over(whole).alias(c)
        for c in df.columns
    ]
    return (
        df.select(*cols, F.row_number().over(w).alias("__rn__"))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def apply_changes(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    ignore_null_updates: bool = False,
    n_buckets: int | None = None,
) -> None:
    """Batch core: upsert `updates` into the SCD1 table at `target_path`:
    the per-key latest change, MERGEd by `merge_upsert` under the
    ``SEQUENCE BY`` guard (with IGNORE NULL UPDATES, the per-column latest
    non-NULL values of the changes the guard admits).

    ``n_buckets`` is the 100 TB path SCD2 already had (r13 review: SCD1
    rewrote its ENTIRE state per micro-batch): the table is laid out
    partitioned on a key-hash bucket, a batch reads and rewrites ONLY the
    buckets its keys touch (merge_upsert's partition fence; the bucket is
    a hash of the keys, so it is stable per key), untouched partition
    dirs are never opened. Same layout-constant contract as
    `apply_changes_scd2`."""
    part = BUCKET_COL if n_buckets else None
    src = updates
    if n_buckets:
        src = src.withColumn(BUCKET_COL, _bucket_of(keys, n_buckets))
    if ignore_null_updates:
        # a change the guard rejects must not supply a column value
        src = drop_stale(spark, target_path, src, keys, sequence_by, part)
        src = _latest_non_null_by(src, keys, sequence_by)
    else:
        src = latest_by(src, keys, sequence_by)
    merge_upsert(
        spark,
        target_path,
        src,
        keys,
        partition_col=part,
        ignore_null_updates=ignore_null_updates,
        sequence_by=sequence_by,
    )


def apply_changes_stream(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    sequence_by: str,
    checkpoint: str,
    ignore_null_updates: bool = False,
    n_buckets: int | None = None,
):
    """Streaming APPLY CHANGES: foreachBatch(apply_changes) over what has
    landed, then stop. Forward ``n_buckets`` for large dimensions (see
    apply_changes)."""
    from near_public_lakehouse_spark.streaming.jobs import _start_batches

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(
            batch_df.sparkSession,
            target_path,
            batch_df,
            keys,
            sequence_by,
            ignore_null_updates=ignore_null_updates,
            n_buckets=n_buckets,
        )

    return _start_batches(stream, _batch, checkpoint)


# --- SCD Type 2 ------------------------------------------------------------

START_COL = "__scd_start__"
END_COL = "__scd_end__"
CURRENT_COL = "__scd_current__"
# Every sequence value observed inside a version's value-run — retained so
# rebuilds see the COMPLETE change set (see scd2_history's convergence note).
SEQS_COL = "__scd_seqs__"


def scd2_history(changes: DataFrame, keys: list[str], sequence_by: str) -> DataFrame:
    """Pure transform: a change stream -> SCD2 history rows.

    Collapses same-sequence duplicates (latest_by tiebreak), groups
    consecutive equal-value changes into RUNS (gaps-and-islands), and
    emits one version row per run: ``__scd_start__`` = the run's first
    sequence, ``__scd_end__`` = next run's start (NULL while current),
    ``__scd_current__`` = end is NULL — so a reaffirming no-op change
    never opens a version. One shuffle on the keys.

    CONVERGENCE (r13 review): the run's FULL sequence set rides along in
    ``__scd_seqs__``. The r12 form dropped no-op rows outright, which
    made `apply_changes_scd2` order-SENSITIVE: with {A@1 x, A@3 x}
    applied first, the reaffirmation at 3 was unrecoverable, so a late
    {A@2 y} rebuilt to current=y@2 where the all-at-once order yields
    x@3. Retaining every observed (key, sequence) makes the stored state
    the exact SET of changes ever applied — set union is order-free, so
    the rebuild is a pure function of the inputs again.
    """
    tracked = [c for c in changes.columns if c not in keys and c != sequence_by]
    # Collapse duplicates of the SAME (key, sequence) — unlike SCD1, every
    # distinct sequence value is history and must survive.
    src = latest_by(changes, [*keys, sequence_by], sequence_by)
    w = Window.partitionBy(*keys).orderBy(F.asc(sequence_by))
    same_as_prev = F.lit(True)
    for c in tracked:
        same_as_prev = same_as_prev & F.lag(c).over(w).eqNullSafe(F.col(c))
    # first row per key has lag NULL on every column; eqNullSafe against a
    # non-null value is False there unless the value itself is NULL — guard
    # with an explicit is-first marker instead.
    is_first = F.lag(sequence_by).over(w).isNull()
    runs = src.withColumn(
        "__run__",
        F.sum((is_first | ~same_as_prev).cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # One row per run (its first — all rows in a run share tracked values
    # by construction), carrying the run's full sequence list. Window
    # aggregates, not groupBy: tracked columns may be ungroupable types.
    wrun = Window.partitionBy(*keys, "__run__")
    first_in_run = F.row_number().over(wrun.orderBy(F.asc(sequence_by)))
    collapsed = (
        runs.withColumn(
            SEQS_COL,
            F.sort_array(
                F.collect_list(sequence_by).over(
                    wrun.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
            ),
        )
        .withColumn("__rn__", first_in_run)
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__run__")
    )
    return (
        collapsed.withColumn(START_COL, F.col(sequence_by))
        .withColumn(END_COL, F.lead(sequence_by).over(w))
        .withColumn(CURRENT_COL, F.col(END_COL).isNull())
    )


BUCKET_COL = "__scd_bucket__"


def _bucket_of(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _touched_buckets(updates: DataFrame, keys: list[str], n_buckets: int) -> list[int]:
    """The key-hash buckets `updates` touches: a bounded (<= n_buckets)
    driver-side collect — the same control-plane pattern as merge.py's
    partition fencing."""
    rows = updates.select(_bucket_of(keys, n_buckets)).distinct().collect()
    return sorted(r[0] for r in rows)


def _stored_changes(stored: DataFrame, sequence_by: str) -> DataFrame:
    """Recover the COMPLETE change set from history rows: one change per
    sequence the run observed (reaffirming no-ops included), not just the
    run representative — the convergence requirement (see scd2_history).
    The column set is the STORED schema minus the SCD internals."""
    internal = {START_COL, END_COL, CURRENT_COL, SEQS_COL, BUCKET_COL}
    data = [c for c in stored.columns if c not in internal and c != sequence_by]
    if SEQS_COL not in stored.columns:
        # Pre-r13 on-disk format: versions carry no sequence-set column.
        # Each stored version contributes its own start sequence as the
        # (only) observed change — the r12-era semantics — so old tables
        # keep applying instead of dying on an unresolved-column
        # AnalysisException, and the next rewrite migrates them to the
        # SEQS_COL layout (ADVICE r13).
        return stored.select(*data, F.col(sequence_by))
    return stored.select(*data, F.explode(SEQS_COL).alias(sequence_by))


def scd2_rebuild(
    stored: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """The SCD2 apply both stores run (`apply_changes_scd2` on parquet,
    `versioned.versioned_scd2` on the manifest store): the history of the
    stored history rows' change set (None before the first write) union
    `updates`, with a ``__scd_bucket__`` column when `n_buckets` is set.
    Schema drift in either direction null-fills (`_align_columns`)
    instead of failing the union (r13 review)."""
    changes = updates
    if stored is not None:
        upd, old = _align_columns(updates, _stored_changes(stored, sequence_by))
        changes = old.unionByName(upd)
    hist = scd2_history(changes, keys, sequence_by)
    if n_buckets:
        hist = hist.withColumn(BUCKET_COL, _bucket_of(keys, n_buckets))
    return hist


def apply_changes_scd2(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    n_buckets: int | None = None,
) -> None:
    """SCD2 APPLY CHANGES batch core: the DLT ``STORED AS SCD TYPE 2``
    analog. History is rebuilt from (stored rows union new changes) per
    key by `scd2_rebuild` — the one rebuild `versioned.versioned_scd2`
    shares — which makes the operator idempotent and
    out-of-order-convergent by construction: re-applying any batch, in
    any order, yields the same table (the SCD1 convergence discipline,
    round-2 crash tests). A new table is written with `write_table`; an
    existing one is replaced through the same park-and-swap `_rewrite`
    as SCD1/MERGE, which makes the apply crash-atomic.

    ``n_buckets`` is the 100 TB path: the table is laid out partitioned on
    a key-hash bucket, a batch reads ONLY the buckets its keys touch
    (partition pruning on the stored side — a batch touching 0.1% of keys
    reads ~0.1% of the table), and `_rewrite` swaps only those partitions;
    untouched partition directories are never opened, rewritten, or
    renamed. The bucket count is a layout constant: changing it is a table
    rewrite, exactly like re-bucketing anywhere else; so is a feed that
    adds a column. The key->bucket map
    is deterministic (xxhash64), so the touched-bucket list is a bounded
    driver-side collect (`_touched_buckets`).
    """
    _recover(target_path)
    part = BUCKET_COL if n_buckets else None
    if not table_exists(target_path):
        hist = scd2_rebuild(None, updates, keys, sequence_by, n_buckets)
        write_table(hist, target_path, part)
        return
    stored = read_table(spark, target_path)
    # A feed that widens the schema rewrites every bucket. `read_table`
    # would null-fill an untouched bucket through the recorded schema,
    # but a reader that ignores the record (a plain parquet read takes
    # its schema from one file) could lose the new column.
    if n_buckets and set(updates.columns) <= set(stored.columns):
        touched = _touched_buckets(updates, keys, n_buckets)
        stored = stored.filter(F.col(BUCKET_COL).isin(touched))  # partition-pruned scan
    hist = scd2_rebuild(stored, updates, keys, sequence_by, n_buckets)
    _rewrite(spark, hist, target_path, part)


def scd2_stream(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    sequence_by: str,
    checkpoint: str,
    n_buckets: int | None = None,
):
    """Streaming SCD2: foreachBatch(apply_changes_scd2).

    ``n_buckets`` MUST be forwarded for large dimensions: without it every
    micro-batch takes the full-history-rewrite branch of
    `apply_changes_scd2`, rewriting the entire table per batch — the exact
    hazard the key-hash bucketed layout exists to avoid at scale.
    """
    from near_public_lakehouse_spark.streaming.jobs import _start_batches

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes_scd2(
            batch_df.sparkSession,
            target_path,
            batch_df,
            keys,
            sequence_by,
            n_buckets=n_buckets,
        )

    return _start_batches(stream, _batch, checkpoint)
