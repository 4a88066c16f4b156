"""Table maintenance: compaction, Z-order-style clustering, bloom filters.

OSS stand-ins for the reference's post-merge upkeep (M2 — `OPTIMIZE
[ZORDER BY]` + `VACUUM` after every gold MERGE, Epochs pipeline :95-96,
203-204, ...; M6 — ClickHouse bloom/minmax indexes):

- `compact_partitions`: rewrite a partition's many small files into few
  (Delta's OPTIMIZE bin-packing). Streaming sinks produce one file per
  micro-batch; at 1 block/s that is ~86k files/day/table without this.
- `zorder_by`: sort-within-partition on the clustering keys before
  rewrite. A single-dimension sort gives parquet min/max row-group
  statistics the same skipping power ZORDER gives Delta for the dominant
  filter column (multi-dim interleaving needs Delta itself).
- `bloom_filter_options`: parquet-native bloom filters on point-lookup
  keys (receipt_id / transaction_hash / account_id) — the M6 mapping
  SURVEY §4 prescribes.

All rewrites are partition-scoped (dynamic overwrite): maintenance cost is
O(partitions touched), never O(table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bloom_filter_options(*columns: str, fpp: float = 0.01) -> dict[str, str]:
    """Writer options enabling parquet bloom filters for `columns`."""
    opts: dict[str, str] = {}
    for c in columns:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        opts[f"parquet.bloom.filter.fpp#{c}"] = str(fpp)
    return opts


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    partition_col: str = "block_date",
    partitions: list | None = None,
    target_files_per_partition: int = 1,
    zorder_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> None:
    """OPTIMIZE [ZORDER BY]: rewrite (a subset of) partitions with
    `target_files_per_partition` files each, optionally sorted by
    `zorder_cols` and bloom-filtered on `bloom_cols`.

    REFUSES log-authoritative tables (a `_delta_log` present): this
    rewrite trusts the raw directory, but a Delta-published table keeps
    superseded part-files on disk as retention-governed tombstones — a
    directory read would resurrect their rows into the compacted output
    AND the swap would delete files the log's add actions still
    reference, breaking every log reader and time travel (r13 review).
    Compact those tables at the publish edge (the MERGE already
    bin-packs per touched partition) or via the manifest store's
    `versioned.commit_compact`."""
    import os

    from near_public_lakehouse_spark.operators.merge import _recover, read_table

    if os.path.isdir(os.path.join(table_path, "_delta_log")):
        raise ValueError(
            f"{table_path}: compact_partitions refused — the table is "
            "log-authoritative (_delta_log present); a directory-walk "
            "rewrite would resurrect tombstoned rows and orphan the "
            "log's live files"
        )
    _recover(table_path)
    df = read_table(spark, table_path)
    if partitions is not None:
        df = df.filter(F.col(partition_col).isin(partitions))
    # (partition, salt) keying: a plain repartition(N, partition_col)
    # hashes ALL rows of one partition value into ONE task — N>1 was a
    # silent no-op and the rewrite funneled each partition (or with the
    # default N=1, the whole table) through a single core (r13 review).
    if target_files_per_partition > 1:
        # hash() rejects MapType inputs (AnalysisException unless the
        # legacy conf is flipped), and this repo's tables do carry map
        # columns — salt only on hashable columns, falling back to a
        # pmod of a stable rand-free expression when nothing qualifies
        # (ADVICE r13). _orderable's type filter matches exactly the
        # set hash() accepts here (maps are the only offender).
        from near_public_lakehouse_spark.operators.scd import _orderable

        types = {f.name: f.dataType for f in df.schema.fields}
        # partition_col is excluded from the salt input: it is constant
        # within a partition, so hashing it alone would make the salt a
        # per-partition CONSTANT and silently reintroduce the r13
        # single-task no-op for tables whose payload is all map columns
        # (r14 review). When no non-partition column is hashable, fall
        # back to the physical partition id — uneven but task-spreading.
        hashable = [
            c for c in df.columns if c != partition_col and _orderable(types[c])
        ]
        salt_src = (
            F.hash(*[F.col(c) for c in hashable])
            if hashable
            else F.spark_partition_id()
        )
        salt = F.pmod(salt_src, F.lit(target_files_per_partition))
        out = df.repartition(
            32 * target_files_per_partition, F.col(partition_col), salt
        )
    else:
        out = df.repartition(
            spark.sparkContext.defaultParallelism, F.col(partition_col)
        )
    if zorder_cols:
        out = out.sortWithinPartitions(partition_col, *zorder_cols)
    # Crash-safe materialize-then-swap (shared with MERGE): never write
    # onto the path the plan is reading, never leak session conf.
    from near_public_lakehouse_spark.operators.merge import _rewrite

    _rewrite(
        spark,
        out,
        table_path,
        partition_col,
        writer_options=bloom_filter_options(*(bloom_cols or [])),
    )


def zorder_by(
    spark: SparkSession, table_path: str, partition_col: str, cols: list[str]
) -> None:
    """Convenience: full-table clustering rewrite (use compact_partitions
    with an explicit partition list for incremental upkeep)."""
    compact_partitions(
        spark, table_path, partition_col, None, zorder_cols=cols, bloom_cols=cols[:1]
    )


def file_count(spark: SparkSession, table_path: str) -> int:
    """Small-file health probe (what VACUUM/OPTIMIZE monitoring reads)."""
    import glob
    import os

    return len(glob.glob(os.path.join(table_path, "**", "*.parquet"), recursive=True))
