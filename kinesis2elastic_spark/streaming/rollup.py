"""Continuous aggregate / hypertable-style rollup: an incrementally
maintained, time-partitioned materialization of a windowed aggregate.

Pattern (the foreachBatch upsert idiom):

1. aggregate the incoming micro-batch to partial sums per (bucket, key);
2. read the CURRENT materialized partials for ONLY the touched buckets;
3. combine (sum of sums / counts — any algebraic aggregate merges);
4. rewrite exactly those bucket partitions with dynamic partition
   overwrite (``spark.sql.sources.partitionOverwriteMode=dynamic``).

At 100 TB this is the difference between re-aggregating history per batch
and touching a handful of hour partitions: cost per batch is proportional
to the batch's time spread, not the table's age.  Readers get atomic
per-partition swaps (parquet dir replace).

Late data needs no special path: a late event lands in an old bucket and
that bucket is simply rewritten — the materialization is eventually exact
(contrast with watermark-dropped windows in pure streaming aggregation).

Replay: the merge reads the touched buckets' CURRENT partials, which
already include a batch that is replayed after its write landed.
``hll_union_agg`` is idempotent, so the distinct rollup converges
anyway; the sum-of-sums rollup is not, and counts such a batch twice
(exactly-once needs the pre-batch state, as ``state_commit.py`` keeps).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLLUP_SCHEMA = "bucket timestamp, event_type string, n bigint, sum_value double"


def rollup_batch(batch_df: DataFrame, bucket: str = "1 hour") -> DataFrame:
    """Partial aggregate of one batch: (hour bucket, event_type) partials."""
    return (
        batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"),
            "event_type",
        ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )


def _merge_touched_partitions(
    spark: SparkSession,
    state_path: str,
    batch_partials: DataFrame,
    combine_exprs: list,
) -> None:
    """Shared touched-partition merge: read current partials for ONLY the
    buckets this batch touches, combine with ``combine_exprs`` (any
    algebraic/mergeable aggregate — sum-of-sums, hll_union_agg), and
    dynamic-overwrite exactly those bucket partitions.

    The merged partials are materialized (``localCheckpoint``) BEFORE the
    overwrite: ``combined`` reads from state_path, and overwriting a path
    the same job lazily reads only works by accident of write staging — a
    failure mid-write could otherwise lose the old partials with nothing
    to recompute them from.  (Full multi-partition atomicity needs a
    transactional table format — Iceberg/Delta ``replaceWhere`` — in
    production.)"""
    touched = [r.bucket for r in batch_partials.select("bucket").distinct().collect()]
    if not touched:
        return
    if os.path.isdir(state_path) and any(
        not f.startswith(("_", ".")) for f in os.listdir(state_path)
    ):
        existing = spark.read.parquet(state_path).filter(F.col("bucket").isin(touched))
        combined_src = existing.unionByName(batch_partials)
    else:
        combined_src = batch_partials
    combined = combined_src.groupBy("bucket", "event_type").agg(*combine_exprs)
    combined = combined.localCheckpoint(eager=True)
    # one file per touched hour partition is plenty; dynamic overwrite
    # (scoped to this write, not the session conf) replaces only
    # partitions present in `combined`
    (
        combined.repartition("bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(state_path)
    )


def merge_rollup(spark: SparkSession, state_path: str, batch_partials: DataFrame) -> None:
    """Merge batch partials into the materialized rollup, rewriting only
    the touched bucket partitions.  Not replay-safe: a batch merged twice
    is summed twice."""
    _merge_touched_partitions(
        spark,
        state_path,
        batch_partials,
        [F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value")],
    )


DISTINCT_ROLLUP_SCHEMA = "bucket timestamp, event_type string, users_hll binary"


def distinct_rollup_batch(batch_df: DataFrame) -> DataFrame:
    """Partial DISTINCT-count rollup of one batch: a mergeable DataSketches
    HLL sketch of user_id per (hour bucket, event_type).

    This is what plain count-distinct partials cannot do: once
    materialized, a count is frozen, but sketches keep merging — across
    micro-batches, across late data, and upward into coarser grains (hour
    → day → month as pure ``hll_union_agg``), all without re-touching the
    raw events.  The materialized state is one ~1.5 KB sketch per
    (bucket, key), independent of cardinality."""
    return batch_df.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("users_hll"))


def merge_distinct_rollup(
    spark: SparkSession, state_path: str, batch_partials: DataFrame
) -> None:
    """Merge batch HLL partials into the materialized distinct rollup —
    same touched-partition rewrite discipline as ``merge_rollup``, with
    ``hll_union_agg`` as the combine instead of sum-of-sums."""
    _merge_touched_partitions(
        spark,
        state_path,
        batch_partials,
        [F.hll_union_agg("users_hll").alias("users_hll")],
    )


def read_distinct_rollup(spark: SparkSession, state_path: str) -> DataFrame:
    """Materialized distinct-count estimates per (bucket, event_type),
    plus the all-buckets-per-type union — the rollup-upward merge the
    sketch representation exists for."""
    st = spark.read.parquet(state_path)
    per_bucket = st.select(
        "bucket",
        "event_type",
        F.hll_sketch_estimate("users_hll").cast("long").alias("n_users_est"),
    )
    return per_bucket


def distinct_rollup_total(spark: SparkSession, state_path: str) -> DataFrame:
    st = spark.read.parquet(state_path)
    return st.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("users_hll")).cast("long").alias("n_users_est")
    )


def continuous_distinct_rollup_writer(spark: SparkSession, state_path: str):
    """foreachBatch handler maintaining the distinct rollup from a stream."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        merge_distinct_rollup(spark, state_path, distinct_rollup_batch(batch_df))

    return handle


def continuous_rollup_writer(spark: SparkSession, state_path: str):
    """foreachBatch handler maintaining the rollup from an event stream."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        merge_rollup(spark, state_path, rollup_batch(batch_df))

    return handle


def read_rollup(spark: SparkSession, state_path: str) -> DataFrame:
    return spark.read.parquet(state_path).select("bucket", "event_type", "n", "sum_value")
