"""Continuous-aggregate rollup: incremental batches must converge to the
full-recompute answer, including late data rewriting an old bucket."""

import json
import os
import uuid

from pyspark.sql import functions as F

from kinesis2elastic_spark.catalog import load
from kinesis2elastic_spark.streaming import windows as sw
from kinesis2elastic_spark.streaming.rollup import (
    continuous_rollup_writer,
    merge_rollup,
    read_rollup,
    rollup_batch,
)


def _expected(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return {
        (r.bucket, r.event_type): (r.n, round(r.sum_value, 6))
        for r in e.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value")).collect()
    }


def test_incremental_equals_full_recompute(spark, sf_dir, tmp_path):
    state = str(tmp_path / "rollup")
    e = load(spark, sf_dir, "events")
    # three uneven incremental batches by event_id ranges
    for lo, hi in [(0, 300), (300, 301), (301, 10_000_000)]:
        batch = e.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        merge_rollup(spark, state, rollup_batch(batch))
    got = {
        (r.bucket, r.event_type): (r.n, round(r.sum_value, 6))
        for r in read_rollup(spark, state).collect()
    }
    assert got == _expected(spark, sf_dir)


def test_late_data_rewrites_old_bucket(spark, tmp_path):
    state = str(tmp_path / "late")
    rows1 = [(1, "2024-01-01 10:05:00", "click", 1.0), (2, "2024-01-01 11:05:00", "click", 2.0)]
    rows2 = [(3, "2024-01-01 10:55:00", "click", 4.0)]  # late: lands in hour 10
    mk = lambda rows: spark.createDataFrame(rows, "event_id bigint, ts string, event_type string, value double").withColumn("ts", F.col("ts").cast("timestamp"))
    merge_rollup(spark, state, rollup_batch(mk(rows1)))
    merge_rollup(spark, state, rollup_batch(mk(rows2)))
    got = {r.bucket.hour: (r.n, r.sum_value) for r in read_rollup(spark, state).collect()}
    assert got == {10: (2, 5.0), 11: (1, 2.0)}


def test_streaming_drives_rollup(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src, exist_ok=True)
    rows = [
        {"event_id": i, "ts": f"2024-01-01T0{i % 3}:10:00.000Z", "user_id": 1,
         "event_type": "click", "value": float(i), "props": "{}"}
        for i in range(6)
    ]
    with open(f"{src}/part-0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    state = str(tmp_path / "rollup_stream")
    q = (
        sw.stream_events(spark, src)
        .writeStream.foreachBatch(continuous_rollup_writer(spark, state))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120), "drain did not finish within 120s"
    got = {r.bucket.hour: r.n for r in read_rollup(spark, state).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_distinct_rollup_converges_and_unions(spark, sf_dir, tmp_path):
    """Incremental HLL merges must converge to (approximately) the exact
    distinct count per bucket — and the per-type union over buckets must
    approximate the GLOBAL distinct, which frozen count partials cannot
    produce (users active in several hours would double-count)."""
    from kinesis2elastic_spark.streaming.rollup import (
        distinct_rollup_batch,
        distinct_rollup_total,
        merge_distinct_rollup,
        read_distinct_rollup,
    )

    state = str(tmp_path / "dist")
    e = load(spark, sf_dir, "events")
    for lo, hi in [(0, 300), (300, 301), (301, 10_000_000)]:
        batch = e.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        merge_distinct_rollup(spark, state, distinct_rollup_batch(batch))

    exact = {
        (r.bucket, r.event_type): r.n
        for r in e.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        (r.bucket, r.event_type): r.n_users_est
        for r in read_distinct_rollup(spark, state).collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])

    exact_total = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    got_total = {
        r.event_type: r.n_users_est for r in distinct_rollup_total(spark, state).collect()
    }
    for t, est in got_total.items():
        assert abs(est - exact_total[t]) <= max(2, 0.05 * exact_total[t])


def test_cms_merge_equals_one_shot(spark, sf_dir, tmp_path):
    """CMS mergeability: feeding the corpus in two halves through
    merge_cms must leave EXACTLY the counter table a one-shot batch
    sketch computes (addition is associative), and a third merge of extra
    rows must only increase counters."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.catalog import load
    from kinesis2elastic_spark.operators.corpus import cms_partials, doc_token_stream
    from kinesis2elastic_spark.streaming.cms_stream import merge_cms, read_cms

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    state = str(tmp_path / "cms")
    for par in (0, 1):
        half = docs.filter((F.col("doc_id") % 2) == par)
        merge_cms(spark, state, cms_partials(doc_token_stream(half)), par)
    got = {(r.row, r.bucket): r.cnt for r in read_cms(spark, state).collect()}
    want = {
        (r.row, r.bucket): r.cnt
        for r in cms_partials(doc_token_stream(docs)).collect()
    }
    assert got == want
    total_before = sum(got.values())
    merge_cms(spark, state, cms_partials(doc_token_stream(docs.limit(5))), 2)
    assert sum(r.cnt for r in read_cms(spark, state).collect()) > total_before
