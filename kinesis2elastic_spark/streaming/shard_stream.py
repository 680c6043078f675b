"""Incremental training-shard maintenance — the streaming twin of
``layout.write_training_shards`` (B91's continuous form): documents arrive
as a stream and land, micro-batch by micro-batch, in the SAME deterministic
md5-keyspace shard layout a batch rewrite would produce, with the manifest
maintained incrementally.

Design (the ``dedup_stream`` discipline applied to a writer):

- shard assignment is the identical ``corpus.shard_id_col`` expression, so
  a row lands in the same shard whether it arrived in batch 0 or batch 900
  — batch and streaming runs are interchangeable and a consumer never
  cares which one built the table;
- data lands under ``shard_id=K/batch_id=B`` hive partitions via per-batch
  DYNAMIC partition overwrite: foreachBatch is at-least-once, and a
  replayed batch overwrites exactly its own partitions — exactly-once
  table state without a transaction log;
- the manifest is an append-only LOG, not a read-modify-write: each batch
  writes its per-shard partials under ``_manifest_log/batch_id=B`` (same
  overwrite discipline), and ``read_stream_manifest`` is the
  partial-aggregate rollup of the log — no state race, no global
  recompute, and the log doubles as per-batch lineage.  The underscore
  prefix hides both side tables from plain parquet readers of ``dst``.

Scale shape: per batch, ONE shuffle keyed by shard_id (bounded by batch
size, not table size) plus a |shards|-row aggregate; manifest reads roll
up |shards| x |batches| partial rows.  Periodic compaction of old
``batch_id`` partitions (``layout.compact_parquet`` per shard dir) is the
same maintenance a batch table needs anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def shard_stream_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    dst: str,
    key_col: str = "doc_id",
    n_shards: int | None = None,
) -> None:
    """foreachBatch body: assign shards, land the batch's partitions,
    log its manifest partials."""
    from ..operators.corpus import N_SHARDS, shard_id_col

    n = n_shards or N_SHARDS
    assigned = (
        batch_df.withColumn("shard_id", shard_id_col(F.col(key_col), n))
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .localCheckpoint(eager=True)  # one computation feeds both writes
    )
    # partitionOverwriteMode is scoped to each write via the writer option
    # (NOT a session conf set): a session-wide "dynamic" would silently
    # change the overwrite semantics of every later partitioned write in
    # the same session (e.g. layout.write_training_shards), leaving stale
    # partitions behind on a smaller rerun.
    (
        assigned.repartition(n, "shard_id")
        .sortWithinPartitions("shard_id", key_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard_id", "batch_id")
        .parquet(dst)
    )
    (
        assigned.groupBy("shard_id", "batch_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(dst, "_manifest_log"))
    )


def incremental_shard_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    dst: str,
    key_col: str = "doc_id",
    n_shards: int | None = None,
) -> DataStreamWriter:
    """Wire a streaming documents source into the shard layout and return
    the unstarted writer: the caller sets its checkpoint and trigger and
    starts it (``availableNow`` drains what exists and stops, for tests
    and batch-cadence production; no trigger runs it continuously)."""
    return stream_df.writeStream.foreachBatch(
        lambda df, bid: shard_stream_batch(
            df.sparkSession, df, bid, dst, key_col=key_col, n_shards=n_shards
        )
    )


def read_stream_manifest(spark: SparkSession, dst: str) -> DataFrame:
    """Consumer-facing manifest: the rollup of the per-batch log —
    per-shard totals identical to what ``corpus.q_shard_manifest``-style
    accounting over the landed data recomputes."""
    return (
        spark.read.parquet(os.path.join(dst, "_manifest_log"))
        .groupBy("shard_id")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("min_key").alias("min_key"),
            F.max("max_key").alias("max_key"),
        )
    )
