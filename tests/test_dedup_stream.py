"""Streaming incremental near-dup (B87's continuous form): two drained
micro-batches against a growing persisted band index; replay idempotency
via per-batch dynamic partition overwrite."""

import os

from pyspark.sql import functions as F

from kinesis2elastic_spark.streaming.dedup_stream import incremental_dedup_stream

BASE = " ".join(f"w{i}" for i in range(30))


def _run_drain(spark, src_dir, state_dir):
    q = (
        incremental_dedup_stream(
            spark,
            # glob: each batch lands as its own subdirectory of parquet files
            spark.readStream.schema("doc_id long, text string").parquet(src_dir + "/*"),
            state_dir,
        )
        .option("checkpointLocation", os.path.join(state_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "drain did not finish within 120s"


def test_incremental_dedup_stream_two_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)

    # batch 1: the initial corpus (contains an internal near-dup pair —
    # which must NOT pair, the stream dedups against the INDEX only)
    spark.createDataFrame(
        [(2, BASE), (4, BASE + " tail"), (6, "unrelated " + " ".join(f"x{i}" for i in range(25)))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/b1")
    _run_drain(spark, src, state)

    pairs_path = os.path.join(state, "pairs")
    idx = spark.read.parquet(os.path.join(state, "band_index"))
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {2, 4, 6}
    assert not os.path.isdir(pairs_path) or spark.read.parquet(pairs_path).count() == 0

    # batch 2: one near-dup of an indexed doc + one fresh doc
    spark.createDataFrame(
        [(3, BASE + " extra"), (5, "fresh " + " ".join(f"y{i}" for i in range(25)))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/b2")
    _run_drain(spark, src, state)

    pairs = spark.read.parquet(pairs_path)
    got = {(r.doc_new, r.doc_old) for r in pairs.collect()}
    assert (3, 2) in got and (3, 4) in got
    assert all(n == 3 for n, _ in got)  # only the new batch pairs, vs index only
    assert all(r.jaccard >= 0.5 for r in pairs.collect())
    n_pairs = pairs.count()

    # index and doc store grew to cover both batches
    idx2 = spark.read.parquet(os.path.join(state, "band_index"))
    assert {r.doc_id for r in idx2.select("doc_id").distinct().collect()} == {2, 3, 4, 5, 6}
    store = spark.read.parquet(os.path.join(state, "doc_store"))
    assert store.count() == 5

    # replay idempotency: draining again with the same checkpoint sees no
    # new files -> state unchanged (per-batch partitions, not appends)
    _run_drain(spark, src, state)
    assert spark.read.parquet(pairs_path).count() == n_pairs
    assert spark.read.parquet(os.path.join(state, "band_index")).count() == idx2.count()
