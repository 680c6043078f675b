"""Hidden partitioning (B173): transform agreement between the Spark
write expression and the Python probe, pruning on every transform kind,
and spec evolution across mixed-spec manifests."""

import datetime

import pytest
from pyspark.sql import functions as F

from kinesis2elastic_spark.operators import partitioning as pt


def test_bucket_transform_spark_python_agree(spark):
    """The whole pruner rests on write-side (Spark) and probe-side
    (Python) computing the SAME partition value — check row-for-row
    over ints and strings."""
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(200)], "k long, s string"
    )
    got = df.select(
        "k",
        "s",
        pt._transform_col(df, "k", "bucket[8]").alias("bk"),
        pt._transform_col(df, "s", "bucket[5]").alias("bs"),
        pt._transform_col(df, "k", "truncate[25]").alias("tk"),
        pt._transform_col(df, "s", "truncate[2]").alias("ts"),
    ).collect()
    for r in got:
        assert r.bk == pt._transform_value(r.k, "bucket[8]")
        assert r.bs == pt._transform_value(r.s, "bucket[5]")
        assert r.tk == pt._transform_value(r.k, "truncate[25]")
        assert r.ts == pt._transform_value(r.s, "truncate[2]")
    # negative ints floor toward -inf (the spec rule, not C truncation)
    assert pt._transform_value(-3, "truncate[25]") == "-25"


def test_calendar_transforms_agree(spark):
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 7, 14, 55, 1),)], "ts timestamp"
    )
    for t, want in (
        ("year", "2024"),
        ("month", "2024-03"),
        ("day", "2024-03-07"),
        ("hour", "2024-03-07-14"),
    ):
        assert df.select(pt._transform_col(df, "ts", t)).first()[0] == want
        assert pt._transform_value(datetime.datetime(2024, 3, 7, 14, 55, 1), t) == want
        assert pt._transform_value("2024-03-07T14:55:01", t) == want


def test_hidden_partition_prune_and_spec_evolution(spark, tmp_path):
    """v0 written under spec [day(ts)], v1 under the EVOLVED spec
    [day(ts), bucket[4](uid)] — one read prunes v0 files by the old
    spec and v1 files by the new one, no rewrite; results always exact
    (residual filter), pruning strictly effective."""
    table = str(tmp_path / "t")
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i % 6, 8, 0, 0), i % 10)
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, uid long")
    pt.commit_partitioned(spark, table, df, 0, [("ts", "day")])
    rows2 = [
        (1000 + i, datetime.datetime(2024, 1, 1 + i % 6, 20, 0, 0), i % 10)
        for i in range(240)
    ]
    df2 = spark.createDataFrame(rows2, "k long, ts timestamp, uid long")
    pt.commit_partitioned(
        spark, table, df2, 1, [("ts", "day"), ("uid", "bucket[4]")]
    )

    # day filter prunes BOTH generations
    day = datetime.datetime(2024, 1, 3)
    f_day = [("ts", "between", (day, day.replace(hour=23, minute=59)))]
    kept, total = pt.prune_partitions(table, f_day)
    assert 0 < len(kept) < total
    got = sorted(r.k for r in pt.read_partitioned(spark, table, f_day).collect())
    want = sorted(
        [r[0] for r in rows if r[1].date() == day.date()]
        + [r[0] for r in rows2 if r[1].date() == day.date()]
    )
    assert got == want

    # uid filter prunes only the v1 generation (v0's spec can't decide),
    # correctness unaffected
    f_uid = [("uid", "=", 3)]
    kept_uid, _ = pt.prune_partitions(table, f_uid)
    v0_files = {e["path"] for e in __import__("kinesis2elastic_spark.operators.timetravel", fromlist=["x"]).manifest_entries(table, 0)}
    assert v0_files <= set(kept_uid)  # old-spec files all scanned
    assert len(kept_uid) < total      # new-spec files pruned by bucket
    got = sorted(r.k for r in pt.read_partitioned(spark, table, f_uid).collect())
    assert got == sorted(
        [r[0] for r in rows if r[2] == 3] + [r[0] for r in rows2 if r[2] == 3]
    )

    # combined filters compose; empty result still exact
    f_none = [("ts", "between", (datetime.datetime(2025, 1, 1), datetime.datetime(2025, 1, 2)))]
    kept_none, _ = pt.prune_partitions(table, f_none)
    assert kept_none == []
    assert pt.read_partitioned(spark, table, f_none).count() == 0

    # unknown transform fails loud at commit time
    with pytest.raises(ValueError, match="unknown partition transform"):
        pt.commit_partitioned(spark, table, df, 2, [("ts", "week")])


def test_hidden_partition_range_ops_monotone(spark, tmp_path):
    """Range predicates prune through monotone transforms: >= on a
    truncate[100] key keeps only files whose width-floor can reach the
    bound; results exact via the residual."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    pt.commit_partitioned(spark, table, df, 0, [("k", "truncate[100]")])
    kept, total = pt.prune_partitions(table, [("k", ">=", 750)])
    assert 0 < len(kept) < total
    got = pt.read_partitioned(spark, table, [("k", ">=", 750)])
    assert got.count() == 250
    assert got.agg(F.min("k")).first()[0] == 750


def test_partitioned_streaming_ingest(spark, tmp_path):
    """B187: two availableNow drains land as hidden-partitioned
    commits; pruning works across both generations immediately; a
    failed-attempt replay of the LATEST batch (the crash-recovery
    contract — fresh checkpoint while only b1 exists) is idempotent:
    same version id, deterministic rewrite, same content."""
    import datetime
    import os

    from kinesis2elastic_spark.operators import timetravel as tt

    work = str(tmp_path)
    src = os.path.join(work, "src")
    table = os.path.join(work, "table")
    os.makedirs(src, exist_ok=True)
    rows1 = [
        (i, datetime.datetime(2024, 1, 1 + i % 3, 9, 0, 0), i % 6)
        for i in range(60)
    ]
    rows2 = [
        (100 + i, datetime.datetime(2024, 1, 1 + i % 3, 21, 0, 0), i % 6)
        for i in range(60)
    ]
    schema = "k long, ts timestamp, uid long"
    spec = [("ts", "day"), ("uid", "bucket[3]")]

    def drain(ckpt="ckpt"):
        q = (
            spark.readStream.schema(schema)
            .parquet(src + "/*")
            .writeStream.foreachBatch(
                pt.partitioned_ingest_writer(spark, table, spec)
            )
            .option("checkpointLocation", os.path.join(work, ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "drain did not finish within 120s"

    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/b1")
    drain()
    assert tt.snapshot_versions(table) == [0]
    # crash-recovery replay: the LATEST (and only) batch re-runs from a
    # fresh checkpoint — same version id, content unchanged
    drain(ckpt="ckpt2")
    assert tt.snapshot_versions(table) == [0]
    n0 = pt.read_partitioned(spark, table, []).count()
    assert n0 == len(rows1)

    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/b2")
    drain(ckpt="ckpt2")
    assert tt.snapshot_versions(table) == [0, 1]

    day2 = datetime.datetime(2024, 1, 2)
    f = [("ts", "between", (day2, day2.replace(hour=23))), ("uid", "=", 4)]
    kept, total = pt.prune_partitions(table, f)
    assert 0 < len(kept) < total
    got = sorted(r.k for r in pt.read_partitioned(spark, table, f).collect())
    want = sorted(
        r[0] for r in rows1 + rows2 if r[1].day == 2 and r[2] == 4
    )
    assert got == want


def test_optimize_preserves_hidden_partitioning(spark, tmp_path):
    """r12 ADVICE: OPTIMIZE of a hidden-partitioned table must not drop
    partition_json — the rewrite routes through the shared partitioned
    layout writer, so the compacted files re-derive partition values
    under the latest spec and pruning still works after compaction."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i % 4, 9, 0, 0), i % 8)
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, uid long")
    pt.commit_partitioned(spark, table, df, 0, [("ts", "day"), ("uid", "bucket[4]")])
    before = sorted(r.k for r in pt.read_partitioned(spark, table, []).collect())

    tt.optimize_snapshot(spark, table, 1, target_bytes=1 << 16)
    entries = [e for e in tt.manifest_entries(table, 1) if e["kind"] == "data"]
    assert entries and all(e.get("partition_json") for e in entries)
    # pruning still effective post-optimize
    day2 = datetime.datetime(2024, 1, 2)
    f = [("ts", "between", (day2, day2.replace(hour=23))), ("uid", "=", 5)]
    kept, total = pt.prune_partitions(table, f)
    assert 0 < len(kept) < total
    got = sorted(r.k for r in pt.read_partitioned(spark, table, f).collect())
    want = sorted(r[0] for r in rows if r[1].day == 2 and r[2] == 5)
    assert got == want and got
    # logical content unchanged
    after = sorted(r.k for r in pt.read_partitioned(spark, table, []).collect())
    assert after == before
    # old version still prunable under its own manifest
    kept0, total0 = pt.prune_partitions(table, f, version=0)
    assert 0 < len(kept0) < total0
    # zorder + hidden partitioning is an explicit refusal, not silent drop
    with pytest.raises(ValueError, match="hidden-partitioned"):
        tt.optimize_snapshot(
            spark, table, 2, zorder=True, cluster_by=["k", "uid"]
        )
