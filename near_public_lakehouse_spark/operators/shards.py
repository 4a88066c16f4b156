"""Training-shard writer: the file sink for the curation pipeline's
deterministic hash sharding.

`queries/curation.shard_manifest` COMPUTES shard placement and budgets;
this operator WRITES the shards — `<base>/shard_id=N/` parquet dirs plus
a `_manifest` table with the per-shard rows a dataloader consumes, and a
verification hook that the files on disk agree with the computed
manifest. The reference's publication sinks stop at warehouse tables
(`NB/Gold *.py`); a shard store is the training-data analogue (SURVEY
§2.13 beyond-reference surface).

Scale design: one `partitionBy(shard_id)` write — Spark routes rows to
shard dirs during the write's own shuffle, so no per-shard job or
driver-side loop exists at any corpus size. Within each shard the rows
are sorted by doc_id per file (sortWithinPartitions), which is the order
a sequential dataloader reads. Re-running the writer with the same seed
is a byte-stable overwrite: placement is a pure function of (seed,
doc_id); bumping the seed is a full deterministic reshuffle, the
versioning story shard placement needs (no rescue-the-old-layout
migrations)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from near_public_lakehouse_spark.queries.curation import (
    N_SHARDS,
    SHARD_SEED,
    shard_col,
)


def write_training_shards(
    docs: DataFrame,
    base: str,
    seed: str = SHARD_SEED,
    n_shards: int = N_SHARDS,
) -> None:
    """Write `docs` (any frame with a doc_id column) as hash-placed
    training shards + the `_manifest` table."""
    sharded = docs.withColumn("shard_id", shard_col(seed, n_shards))
    (
        sharded.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(f"{base}/data")
    )
    manifest = sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    (
        manifest.withColumn("seed", F.lit(seed))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{base}/_manifest")
    )


def verify_shard_store(spark: SparkSession, base: str) -> DataFrame:
    """Cross-check the files on disk against the `_manifest`: per shard,
    the stored doc count and id fences must equal the manifest row.
    Returns the per-shard comparison frame (empty `mismatch` filter =
    healthy store) — the post-write audit a pipeline runs before
    pointing a dataloader at the shards."""
    data = spark.read.parquet(f"{base}/data")
    actual = data.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("actual_docs"),
        F.min("doc_id").alias("actual_min"),
        F.max("doc_id").alias("actual_max"),
    )
    manifest = spark.read.parquet(f"{base}/_manifest")
    return (
        manifest.join(actual, "shard_id", "full")
        .select(
            "shard_id",
            "n_docs",
            "actual_docs",
            "min_doc_id",
            "actual_min",
            "max_doc_id",
            "actual_max",
            (
                (F.col("n_docs") != F.col("actual_docs"))
                | (F.col("min_doc_id") != F.col("actual_min"))
                | (F.col("max_doc_id") != F.col("actual_max"))
            ).alias("mismatch"),
        )
        .orderBy("shard_id")
    )


def shard_manifest_from_stream(spark: SparkSession, base: str) -> DataFrame:
    """The folded manifest over everything the streaming shard appender
    has written: per shard, total docs and id fences — the same row shape
    as the batch `_manifest`."""
    from near_public_lakehouse_spark.streaming.jobs import _read_batches

    return (
        _read_batches(spark, f"{base}/_manifest_parts")
        .groupBy("shard_id")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
        )
    )


def streaming_training_shards(
    spark: SparkSession,
    docs_path: str,
    base: str,
    checkpoint: str,
    seed: str = SHARD_SEED,
    n_shards: int = N_SHARDS,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of `write_training_shards`: documents stream INTO
    the shard store continuously. Placement is a pure function of
    (seed, doc_id), so a document's shard never changes and batches
    write disjoint row sets; each trigger lands under
    `data/shard_id=M/batch_id=N/` via DYNAMIC partition overwrite — a
    replayed batch rewrites exactly its own (shard, batch) partitions
    and nothing else, the per-batch-dir idempotence discipline in
    partitioned-layout form. Manifest partials fold losslessly (a doc
    lives in exactly one batch); `shard_manifest_from_stream` equals the
    batch `_manifest` over the same corpus."""
    from near_public_lakehouse_spark.streaming.jobs import (
        _file_stream,
        _start_batches,
        _write_batch,
    )

    stream = _file_stream(spark, docs_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        sharded = batch_df.withColumn("shard_id", shard_col(seed, n_shards))
        (
            sharded.withColumn("batch_id", F.lit(batch_id))
            .repartition(n_shards, "shard_id")
            .sortWithinPartitions("shard_id", "doc_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id", "batch_id")
            .parquet(f"{base}/data")
        )
        _write_batch(
            sharded.groupBy("shard_id").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            ),
            f"{base}/_manifest_parts",
            batch_id,
        )

    return _start_batches(stream, _batch, checkpoint)
