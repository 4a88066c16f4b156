"""Bucketed table layouts: pre-shuffled storage for co-located joins.

The 100 TB join discipline (SURVEY §7 / BASELINE north star): a fact table
joined on the same key every day should not re-shuffle per query. Writing
both sides bucketed by the join key (`bucketBy(n, key).sortBy(key)` into
the catalog) lets Spark plan a SortMergeJoin with NO Exchange on either
side — the shuffle is paid once at write time and amortized over every
subsequent join. The reference approximates this with BQ clustering
(BQ Writer Stream.py:25-26, M3); bucketing is the OSS-Spark native form.

Notes:
- Bucketed layouts require the session catalog (`saveAsTable`) — plain
  `.parquet(path)` writes ignore bucket specs silently.
- Both sides must agree on bucket count (or be a multiple under
  `spark.sql.bucketing.coalesceBucketsInJoin.enabled`).
- AQE leaves bucketed joins alone; `spark.sql.sources.bucketing.enabled`
  is on by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist `df` as a catalog table bucketed (and sorted) by
    `bucket_cols`. The write shuffles once on the bucket key; every later
    equi-join or aggregation on that key is then exchange-free."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort:
        w = w.sortBy(*bucket_cols)
    w.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. With
    matching bucket specs the physical plan contains no Exchange
    (verify with .explain — the test pins this)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
