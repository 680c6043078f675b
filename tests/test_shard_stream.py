"""Streaming shard maintenance (B91's continuous form): drained
micro-batches must land in the same deterministic layout as the batch
writer, keep the manifest log consistent, and replay idempotently."""

import os

from pyspark.sql import functions as F

from kinesis2elastic_spark.streaming.shard_stream import (
    incremental_shard_stream,
    read_stream_manifest,
    shard_stream_batch,
)


def _run_drain(spark, src_dir, dst):
    q = (
        incremental_shard_stream(
            spark,
            spark.readStream.schema("doc_id long, text string").parquet(src_dir + "/*"),
            dst,
        )
        .option("checkpointLocation", os.path.join(dst, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "drain did not finish within 120s"


def test_shard_stream_two_batches_match_batch_layout(spark, tmp_path):
    from kinesis2elastic_spark.operators.corpus import shard_id_col

    src = str(tmp_path / "src")
    dst = str(tmp_path / "shards")
    os.makedirs(src)

    b1 = [(i, f"doc number {i} body") for i in range(1, 40)]
    b2 = [(i, f"doc number {i} body") for i in range(40, 70)]
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.parquet(src + "/b1")
    _run_drain(spark, src, dst)
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.parquet(src + "/b2")
    _run_drain(spark, src, dst)

    back = spark.read.parquet(dst)
    assert back.count() == 69
    assert back.select("doc_id").distinct().count() == 69

    # every row sits in the shard the BATCH writer would have chosen
    expect = spark.createDataFrame(b1 + b2, "doc_id long, text string").select(
        "doc_id", shard_id_col(F.col("doc_id"))
    )
    mismatch = (
        back.select("doc_id", F.col("shard_id").cast("long").alias("got"))
        .join(expect.withColumnRenamed("shard_id", "want"), "doc_id")
        .filter(F.col("got") != F.col("want"))
    )
    assert mismatch.count() == 0

    # manifest rollup == recomputed accounting over the landed data
    m = {r.shard_id: r for r in read_stream_manifest(spark, dst).collect()}
    got = {
        r.shard_id: r
        for r in back.groupBy(F.col("shard_id").cast("long").alias("shard_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("doc_id").alias("min_key"),
            F.max("doc_id").alias("max_key"),
        )
        .collect()
    }
    assert set(m) == set(got)
    for sid in got:
        assert (m[sid].n_rows, m[sid].min_key, m[sid].max_key) == (
            got[sid].n_rows, got[sid].min_key, got[sid].max_key
        )


def test_shard_stream_replay_is_idempotent(spark, tmp_path):
    dst = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 30)], "doc_id long, text string"
    )
    shard_stream_batch(spark, df, 7, dst)
    n1 = spark.read.parquet(dst).count()
    m1 = sorted(tuple(r) for r in read_stream_manifest(spark, dst).collect())

    # at-least-once delivery: the same batch id lands again — dynamic
    # partition overwrite must replace, not duplicate
    shard_stream_batch(spark, df, 7, dst)
    assert spark.read.parquet(dst).count() == n1
    assert sorted(tuple(r) for r in read_stream_manifest(spark, dst).collect()) == m1
