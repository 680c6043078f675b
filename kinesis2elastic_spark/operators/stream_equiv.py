"""Batch-equivalence reductions for the streaming legs (round-5 VERDICT #3).

The streaming components (B87's ``dedup_stream``, B91's ``shard_stream``,
B74's continuous distinct rollup) were pytest-only; the survey's test
strategy (SURVEY.md §5.3) also permits BATCH-EQUIVALENT oracle checks: run
the foreachBatch pipeline under ``trigger(availableNow)`` inside a query
function, then reduce the materialized streaming state against its batch
twin and emit oracle-recomputable exact columns + equivalence flags.  That
turns each streaming leg into a driver hash row.

Each query runs its leg through ``_drained``, which owns the scratch dir,
the checkpoint, the trigger, the wait and the pin of the read-back:

1. it lands the source table as file groups under the scratch dir, one
   group per drain (write group → drain → write group → drain, the same
   ordering discipline as the pytest suite — ``availableNow`` would
   otherwise fold both into one batch);
2. it runs the REAL streaming pipeline (writeStream.foreachBatch +
   checkpoint, not a hand-called batch body) to completion after each;
3. it reads the persisted streaming state back and compares it EXACTLY
   (same-engine, so even rounded doubles are bit-identical) against the
   registered batch operator on the same split;
4. it returns a reduction whose data columns DuckDB recomputes from the
   raw table and whose flags assert the equivalence — the read-back is
   localCheckpoint-ed so the result outlives the scratch dir.

Scale note: the equivalence harness is test-scale by design (it drains a
bounded stream); the OPERATORS it exercises are the production paths whose
scale shapes are documented in their own modules.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..catalog import load

_DRAIN_TIMEOUT_S = 300


def _drained(body) -> DataFrame:
    """Run one stream-vs-batch leg in a fresh scratch dir and return the
    frame it reads back, pinned before the dir is removed.

    ``body(work, drain)`` lands its file groups under ``work`` and calls
    ``drain(writer)`` after each.  ``drain`` starts the sink ``writer``
    with its checkpoint at ``work/ck`` under an ``availableNow`` trigger,
    waits for it to finish and returns the query's progress list.  A
    failed query re-raises its exception from ``drain``; one still live
    after ``_DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError``, so
    a restart never races it on the same checkpoint."""
    work = tempfile.mkdtemp(prefix="k2e_stream_")
    ckpt = os.path.join(work, "ck")

    def drain(writer) -> list:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming drain did not finish within {_DRAIN_TIMEOUT_S}s"
            )
        return q.recentProgress

    try:
        return body(work, drain).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _two_batch_source(df: DataFrame, split_col: str, src: str) -> None:
    """Write ``df`` as two parquet sub-dirs keyed by ``split_col`` parity.
    Only b1 is written here; b2 via ``_write_second_batch`` after the first
    drain (file-stream batch boundaries follow file arrival order)."""
    os.makedirs(src, exist_ok=True)
    df.filter((F.col(split_col) % 2) == 0).coalesce(1).write.parquet(src + "/b1")


def _write_second_batch(df: DataFrame, split_col: str, src: str) -> None:
    df.filter((F.col(split_col) % 2) == 1).coalesce(1).write.parquet(src + "/b2")


def frames_equal_flag(a: DataFrame, b: DataFrame, flag: str) -> DataFrame:
    """One-row DataFrame with boolean ``flag``: True iff ``a`` and ``b``
    hold exactly the same multiset of rows (exceptAll both ways — row
    values, duplicates, and nothing else).  Shared by every equivalence
    reduction so the flag semantics are tested ONCE (test_stream_equiv
    proves it actually goes False on a divergence — a vacuously-true
    flag would rot silently)."""
    sym = a.exceptAll(b).unionAll(b.exceptAll(a))
    return sym.agg((F.count("*") == 0).alias(flag))


def q_stream_shard_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B91 streaming form, oracle-backed: documents arrive in two
    micro-batches through ``incremental_shard_stream`` (foreachBatch,
    availableNow, per-batch dynamic partition overwrite); the rolled-up
    streaming manifest must equal BOTH the deterministic per-shard
    accounting DuckDB recomputes from the raw table (hashed columns) and
    the batch writer's manifest on the same data (flag).

    Columns: the md5-keyspace shard assignment is engine-portable
    (``corpus.shard_id_col``), so shard_id / n_docs / min / max are exact
    and fully oracle-recomputable — the streaming state itself is under
    the hash gate, not just a boolean about it."""
    from ..operators.corpus import shard_id_col
    from ..streaming.shard_stream import incremental_shard_stream, read_stream_manifest

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(work, drain):
        src, dst = os.path.join(work, "src"), os.path.join(work, "dst")
        sink = incremental_shard_stream(
            spark,
            spark.readStream.schema("doc_id long, text string").parquet(src + "/*"),
            dst,
        )
        _two_batch_source(docs, "doc_id", src)
        drain(sink)
        _write_second_batch(docs, "doc_id", src)
        drain(sink)
        return read_stream_manifest(spark, dst)

    stream_m = _drained(run).select(
        "shard_id",
        F.col("n_rows").alias("n_docs"),
        F.col("min_key").alias("min_doc_id"),
        F.col("max_key").alias("max_doc_id"),
    )
    batch_m = (
        docs.select(shard_id_col(F.col("doc_id")), "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    equiv = frames_equal_flag(stream_m, batch_m, "ok")
    return stream_m.crossJoin(F.broadcast(equiv)).select(
        "shard_id",
        "n_docs",
        "min_doc_id",
        "max_doc_id",
        F.col("ok").alias("stream_equals_batch_ok"),
    )


def q_stream_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B87 streaming form, oracle-backed: the two-batch drain of
    ``incremental_dedup_stream`` (even doc_ids arrive first and build the
    band index; odd doc_ids arrive second and dedup against it) must
    produce EXACTLY the verified cross-pair set of the batch operator
    ``minhash_incremental_detail`` on the same even/odd split — same
    banding, same hot-bucket guard, same exact-verify, same engine (so
    the rounded jaccard column is bit-identical and the comparison is on
    full rows, not counts).

    Hashed columns follow the q_minhash_incremental reduction: exact
    batch/index populations and the exact cross-parity ≥9/10-Jaccard pair
    count (all DuckDB-recomputable), the ≥90% recall floor of the STREAM
    pairs against that set, plus the stream≡batch flag."""
    from ..operators.llmops import (
        MINHASH_HI_DEN,
        MINHASH_HI_NUM,
        _docs_parallel,
        _shingles,
        exact_set_pairs,
        minhash_incremental_detail,
    )
    from ..streaming.dedup_stream import PAIRS_SCHEMA, incremental_dedup_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        sink = incremental_dedup_stream(
            spark,
            spark.readStream.schema("doc_id long, text string").parquet(src + "/*"),
            state,
        )
        _two_batch_source(docs, "doc_id", src)
        drain(sink)
        _write_second_batch(docs, "doc_id", src)
        drain(sink)
        # no pairs dir when batch 2 had no candidates at all
        return _read_or_empty(
            spark, os.path.join(state, "pairs"), PAIRS_SCHEMA
        ).select("doc_new", "doc_old", "jaccard")

    stream_pairs = _drained(run)
    batch_pairs = minhash_incremental_detail(spark, sf_dir).localCheckpoint(
        eager=True
    )
    equiv = frames_equal_flag(stream_pairs, batch_pairs, "stream_equals_batch_ok")

    d = _docs_parallel(spark, sf_dir)
    sets = d.select("doc_id", _shingles(F.col("text")).alias("words"))
    cross_hi = (
        exact_set_pairs(sets, MINHASH_HI_NUM, MINHASH_HI_DEN)
        .filter((F.col("doc_a") % 2) != (F.col("doc_b") % 2))
        .localCheckpoint(eager=True)
    )
    caught = stream_pairs.select(
        F.least("doc_new", "doc_old").alias("doc_a"),
        F.greatest("doc_new", "doc_old").alias("doc_b"),
    )
    caught_hi = cross_hi.join(caught, ["doc_a", "doc_b"], "left_semi")
    pops = d.agg(
        F.sum(((F.col("doc_id") % 2) == 1).cast("long")).alias("n_new"),
        F.sum(((F.col("doc_id") % 2) == 0).cast("long")).alias("n_old"),
    )
    n_hi = cross_hi.agg(F.count("*").cast("long").alias("n_exact_cross_hi_pairs"))
    n_caught = caught_hi.agg(F.count("*").alias("_nc"))
    return (
        pops.crossJoin(n_hi)
        .crossJoin(n_caught)
        .crossJoin(F.broadcast(equiv))
        .select(
            "n_new",
            "n_old",
            "n_exact_cross_hi_pairs",
            (
                (F.col("n_exact_cross_hi_pairs") == 0)
                | (F.col("_nc") * 10 >= F.col("n_exact_cross_hi_pairs") * 9)
            ).alias("stream_recall_hi_ok"),
            "stream_equals_batch_ok",
        )
    )


def q_stream_rollup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B74 continuous distinct rollup, oracle-backed: events arrive in two
    micro-batches (event_id parity, so the SECOND batch re-touches every
    hour bucket — the late-data path where a frozen count would be wrong
    and mergeable sketches are the point); the materialized HLL state is
    then compared per (bucket, event_type) against the exact distinct
    count.  Hashed columns are the exact counts DuckDB recomputes; the
    sketch estimate itself is engine-local, so it ships as the ±5%
    accuracy flag (HLL at default lgConfigK ≈ 1.6% rse) — the
    q_hll_merge est_ok discipline applied to streaming state."""
    from ..streaming.rollup import (
        continuous_distinct_rollup_writer,
        read_distinct_rollup,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )

    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        sink = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, event_type string"
            )
            .parquet(src + "/*")
            .writeStream.foreachBatch(continuous_distinct_rollup_writer(spark, state))
        )
        _two_batch_source(ev, "event_id", src)
        drain(sink)
        _write_second_batch(ev, "event_id", src)
        drain(sink)
        return read_distinct_rollup(spark, state)

    est = _drained(run)
    exact = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.countDistinct("user_id").cast("long").alias("n_users_exact"))
    # FULL outer (r5 ADVICE): a (bucket, event_type) row fabricated in the
    # materialized streaming state must surface as an extra output row
    # (driver rows-mismatch) with a false flag — a left join would
    # silently drop it and the equivalence would still pass.
    j = exact.join(est, ["bucket", "event_type"], "full_outer")
    return j.select(
        "bucket",
        "event_type",
        "n_users_exact",
        (
            F.col("n_users_est").isNotNull()
            & F.col("n_users_exact").isNotNull()
            & (
                F.abs(F.col("n_users_est") - F.col("n_users_exact"))
                * 100
                <= F.col("n_users_exact") * 5
            )
        ).alias("est_within_5pct_ok"),
    )


def _time_split_batches(df: DataFrame, ts_col: str, src: str) -> "tuple":
    """Split a timestamped table at its median-ish midpoint into two
    TIME-ORDERED micro-batches (b1 = first half, b2 = second half).
    Time order matters: windowed/stateful streams advance the watermark
    with batch 1, and a parity split would make half of batch 2 late by
    construction — a different (B29) semantics than the equivalence under
    test.  Returns (df_b1, df_b2, t_mid)."""
    t_min, t_max = df.agg(F.min(ts_col), F.max(ts_col)).first()
    t_mid = t_min + (t_max - t_min) / 2
    os.makedirs(src, exist_ok=True)
    b1 = df.filter(F.col(ts_col) < F.lit(t_mid))
    b2 = df.filter(F.col(ts_col) >= F.lit(t_mid))
    b1.coalesce(1).write.parquet(src + "/b1")
    return b1, b2, t_mid


_EVENT_COLS = "event_id long, user_id long, ts timestamp, event_type string, value double"


def _events_stream(spark: SparkSession, src: str) -> DataFrame:
    return spark.readStream.schema(_EVENT_COLS).parquet(src + "/*")


def _overwrite_sink(out_dir: str):
    """foreachBatch body for COMPLETE-mode equivalence runs: each trigger
    delivers the full result, which overwrites ``out_dir`` — restartable
    across drains (the memory sink refuses checkpoint recovery outside
    complete mode, and even there is in-process only)."""

    def fb(bdf: DataFrame, _bid: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    return fb


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    if os.path.isdir(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def q_stream_tumble_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27+B29 oracle-backed: the streaming tumbling-window aggregate
    (``windows.tumbling_counts`` — watermark + window + agg) drained over
    two time-ordered micro-batches must equal the identical expression
    evaluated in batch mode (complete output via a foreachBatch overwrite,
    so windows still open at end-of-stream are emitted too).  A second
    APPEND-mode run (native parquet file sink — only finalized windows are
    written) replays the 100 oldest events as a third, hopelessly-late
    micro-batch and asserts watermark semantics: the late rows are
    dropped, every emitted (closed) window is bit-identical to the batch
    twin's row — late data neither pollutes closed windows nor resurrects
    them.

    Hashed columns (window_start, event_type, n, sum_value) are DuckDB-
    recomputable: hour windows = date_trunc, and 2-decimal value sums
    rounded to 2dp are tie-free (doctrine)."""
    from ..streaming.windows import tumbling_counts

    out_schema = "window_start timestamp, event_type string, n bigint, sum_value double"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def complete_leg(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        sink = (
            tumbling_counts(_events_stream(spark, src))
            .writeStream.foreachBatch(_overwrite_sink(out_dir))
            .outputMode("complete")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(spark, out_dir, out_schema)

    def append_leg(work, drain):
        # a fresh checkpoint sees b1+b2 as its first batch, then the
        # replayed-oldest rows arrive late
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        b2.coalesce(1).write.parquet(src + "/b2")
        sink = (
            tumbling_counts(_events_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        drain(sink)
        ev.orderBy("ts").limit(100).coalesce(1).write.parquet(src + "/b3")
        drain(sink)
        return _read_or_empty(spark, out_dir, out_schema)

    stream_out = _drained(complete_leg)
    append_out = _drained(append_leg)
    batch_twin = tumbling_counts(ev)  # same code path, batch evaluation
    eq = frames_equal_flag(stream_out, batch_twin, "stream_equals_batch_ok")
    # closed-window subset: append emitted > 0 windows, every one of them
    # exactly a batch-twin row (late replay neither altered nor re-emitted)
    late = append_out.exceptAll(batch_twin).agg(
        (F.count("*") == 0).alias("_sub")
    )
    n_append = append_out.agg(F.count("*").alias("_na"))
    flags = (
        eq.crossJoin(late)
        .crossJoin(n_append)
        .select(
            "stream_equals_batch_ok",
            (F.col("_sub") & (F.col("_na") > 0)).alias("late_drop_ok"),
        )
    )
    return stream_out.crossJoin(F.broadcast(flags)).select(
        "window_start",
        "event_type",
        "n",
        "sum_value",
        "stream_equals_batch_ok",
        "late_drop_ok",
    )


def q_stream_session_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 oracle-backed: streaming session windows
    (``windows.session_counts``, 30-min gap) drained over two time-ordered
    micro-batches, complete mode — sessions straddling the batch boundary
    must MERGE in the state store — compared exactly against the identical
    session_window expression in batch mode.  The oracle recomputes
    sessions relationally (lag-gap flag + running sum, the q_sessionize
    discipline): session_end = last event + gap, per Spark's
    session_window contract."""
    from ..streaming.windows import session_counts

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        sink = (
            session_counts(_events_stream(spark, src))
            .writeStream.foreachBatch(_overwrite_sink(out_dir))
            .outputMode("complete")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(
            spark,
            out_dir,
            "session_start timestamp, session_end timestamp, user_id bigint,"
            " n_events bigint, session_value double",
        )

    stream_out = _drained(run)
    batch_twin = session_counts(ev)
    eq = frames_equal_flag(stream_out, batch_twin, "stream_equals_batch_ok")
    return stream_out.crossJoin(F.broadcast(eq)).select(
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        "session_value",
        "stream_equals_batch_ok",
    )


def q_stream_sliding_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27 sliding-window leg, oracle-backed: ``windows.sliding_counts``
    (10-minute windows sliding every 5 — each event lands in exactly two
    windows) drained over two time-ordered micro-batches, complete-mode
    foreachBatch overwrite, must equal the identical expression in batch
    mode.  The oracle expands each event to its two covering window
    starts (floor-to-5-min and that minus 5) and re-aggregates — the
    overlap factor is under the hash, not just the counts."""
    from ..streaming.windows import sliding_counts

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        sink = (
            sliding_counts(_events_stream(spark, src))
            .writeStream.foreachBatch(_overwrite_sink(out_dir))
            .outputMode("complete")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(
            spark, out_dir, "window_start timestamp, user_id bigint, n bigint"
        )

    stream_out = _drained(run)
    batch_twin = sliding_counts(ev)
    eq = frames_equal_flag(stream_out, batch_twin, "stream_equals_batch_ok")
    return stream_out.crossJoin(F.broadcast(eq)).select(
        "window_start", "user_id", "n", "stream_equals_batch_ok"
    )


def q_stream_dedup_w_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 oracle-backed: ``dropDuplicatesWithinWatermark`` over a stream
    whose second micro-batch REPLAYS the 200 newest events (the
    at-least-once upstream of the reference — delivery retry = duplicate
    envelopes) must emit each event_id exactly once; the surviving
    (event_id, event_type) rows equal the events table itself, which is
    what DuckDB hashes.  The replay straddles the watermark: rows newer
    than (max_ts - 1h) are suppressed by the dedup STATE, older ones by
    the late-data bound — both drop paths end at the same contract, and a
    breakage in either surfaces as a duplicate row in the hash."""
    from ..streaming.windows import streaming_dedup

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        ev.coalesce(1).write.parquet(src + "/b1")
        sink = (
            streaming_dedup(_events_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        drain(sink)
        # replay the newest 200 events: ~the last hour lands inside the
        # watermark horizon (state dedup), the rest below it (late drop)
        ev.orderBy(F.col("ts").desc()).limit(200).coalesce(1).write.parquet(
            src + "/b2"
        )
        drain(sink)
        return _read_or_empty(spark, out_dir, _EVENT_COLS).select(
            "event_id", "event_type"
        )

    stream_out = _drained(run)
    once = ev.select("event_id", "event_type")
    eq = frames_equal_flag(stream_out, once, "each_event_exactly_once_ok")
    return stream_out.crossJoin(F.broadcast(eq)).select(
        "event_id", "event_type", "each_event_exactly_once_ok"
    )


def q_stream_stateful_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31 oracle-backed: the arbitrary-stateful running totals
    (``applyInPandasWithState``, update mode) drained over two
    micro-batches; per user the LAST emitted row (max n_events — the
    counters are monotone) is the final state, which must equal the plain
    batch aggregate DuckDB recomputes: exact event count + the 2-decimal
    value sum (tie-free at 2dp)."""
    from ..streaming.windows import running_totals_stateful

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)

        def fb(bdf: DataFrame, _bid: int) -> None:
            bdf.write.mode("append").parquet(out_dir)

        sink = (
            running_totals_stateful(_events_stream(spark, src))
            .writeStream.foreachBatch(fb)
            .outputMode("update")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return (
            _read_or_empty(
                spark, out_dir, "user_id bigint, n_events bigint, total_value double"
            )
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                # the final state is the row with the HIGHEST event count —
                # n_events is the monotone counter, total_value is not
                # (any negative value would make independent max() pick a
                # non-final total; r5 ADVICE)
                F.max_by("total_value", "n_events").alias("total_value"),
            )
        )

    return _drained(run).select("user_id", "n_events", "total_value")


STREAM_JOIN_WINDOW_MIN = 120  # funnel match window (click → purchase)


def q_stream_static_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B100 oracle-backed: the stream-static enrichment join — an events
    stream joined per micro-batch against a STATIC broadcast dimension
    (customer → market segment), the canonical streaming-ETL lookup
    (Spark re-plans the join each micro-batch; the static side never
    becomes state).  Drained over two time-ordered micro-batches through
    a real append-mode parquet sink, the enriched rows must equal the
    batch join exactly (stateless operator ⇒ row-for-row equality).

    Hashed columns are the per (segment, event_type) rollup DuckDB
    recomputes from the raw join: exact counts, exact distinct users,
    2-dp value sum (tie-free doctrine).

    Scale shape: the dimension broadcasts (it is the small side by
    definition); the stream side never shuffles for the join — at 100 TB
    /day this is the same plan with the dim refreshed per batch."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    dim = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    out_schema = (
        "event_id long, user_id long, event_type string, value double,"
        " c_mktsegment string"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        sink = (
            _events_stream(spark, src)
            .join(F.broadcast(dim), "user_id")
            .select("event_id", "user_id", "event_type", "value", "c_mktsegment")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(spark, out_dir, out_schema)

    stream_out = _drained(run)
    batch_twin = ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )
    eq = frames_equal_flag(stream_out, batch_twin, "stream_equals_batch_ok")
    return (
        stream_out.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .crossJoin(F.broadcast(eq))
        .select(
            "c_mktsegment",
            "event_type",
            "n",
            "n_users",
            "sum_value",
            "stream_equals_batch_ok",
        )
    )


def q_stream_stream_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B101 oracle-backed: the stream-stream event-time interval join —
    clicks and purchases arrive as two independent streams (each with an
    event-time watermark) and match on user within a
    ``STREAM_JOIN_WINDOW_MIN``-minute funnel window.  Spark buffers both
    sides in watermark-bounded state and emits a match once both rows
    have arrived — the only join shape that works when neither side is
    small or static.  Drained over two time-ordered micro-batches (so
    cross-batch matches MUST come out of the join state, not a lucky
    same-batch hash probe) through an append parquet sink; the emitted
    pairs must equal the batch interval join row-for-row.

    The watermark delay is set beyond the dataset's span: state is never
    evicted, so stream ≡ batch EXACTLY (the late-drop semantics are
    B29's, already gated by q_stream_tumble_equiv — this query gates the
    join-state machinery).  Hashed columns are the raw pairs themselves:
    ids, both event times, and the integer-seconds latency — every one
    exact and DuckDB-recomputable."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    out_schema = (
        "user_id long, click_id long, purchase_id long,"
        " click_ts timestamp, purchase_ts timestamp"
    )

    def pairs_of(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
        c = clicks.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        p = purchases.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts")
                + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
            ),
        ).select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
        )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        # two independent file streams over the same arrivals; the
        # over-span watermark bounds state formally without evicting
        clicks = _events_stream(spark, src).withWatermark("ts", "366 days")
        purchases = _events_stream(spark, src).withWatermark("ts", "366 days")
        sink = (
            pairs_of(clicks, purchases)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(spark, out_dir, out_schema)

    stream_out = _drained(run)
    batch_twin = pairs_of(ev, ev)
    eq = frames_equal_flag(stream_out, batch_twin, "stream_equals_batch_ok")
    # pure integer division (both engines truncate nonnegative µs the same)
    latency = F.expr(
        "(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000"
    )
    return stream_out.crossJoin(F.broadcast(eq)).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        latency.cast("long").alias("latency_sec"),
        "stream_equals_batch_ok",
    )


def q_stream_cms_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B102 oracle-backed: continuous count-min sketch maintenance
    (``streaming/cms_stream.py``) — documents arrive in two micro-batches
    (doc_id parity, so batch 2 re-touches every hot counter cell), each
    batch's counter partials merge into the materialized 4096-row sketch
    by plain addition.  Three checks ride out:

    - ``stream_equals_batch_cms_ok``: the merged streaming counter table
      equals the one-shot batch sketch EXACTLY (addition is associative —
      the defining mergeability property, row-for-row);
    - ``est_ge_freq_ok``: structural CMS guarantee (never undercounts);
    - ``within_bound_ok``: est ≤ freq + depth·N/width collision bound.

    Hashed columns are the exact top-20 token frequencies + total token
    count DuckDB recomputes; the sketch itself is engine-local hashing
    (xxhash64), so it ships through the flags — the q_hll_merge / B74
    discipline applied to the count side."""
    from ..operators.corpus import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_cells,
        cms_partials,
        doc_token_stream,
    )
    from ..streaming.cms_stream import continuous_cms_writer, read_cms

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        sink = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(src + "/*")
            .writeStream.foreachBatch(continuous_cms_writer(spark, state))
        )
        _two_batch_source(docs, "doc_id", src)
        drain(sink)
        _write_second_batch(docs, "doc_id", src)
        drain(sink)
        return read_cms(spark, state)

    stream_cms = _drained(run)
    toks = doc_token_stream(docs)
    batch_cms = cms_partials(toks).selectExpr("row", "bucket", "cnt")
    eq = frames_equal_flag(stream_cms, batch_cms, "stream_equals_batch_cms_ok")

    exact = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(20)
    )
    total = toks.agg(F.count("*").cast("long").alias("n_total"))
    probe = exact.select(
        "token", "freq", F.explode(cms_cells(F.col("token"))).alias("c")
    ).select("token", "freq", "c.row", "c.bucket")
    est = (
        probe.join(F.broadcast(stream_cms), ["row", "bucket"])
        .groupBy("token", "freq")
        .agg(F.min("cnt").cast("long").alias("est"))
    )
    bound = F.col("freq") + F.lit(CMS_DEPTH) * F.col("n_total") / F.lit(CMS_WIDTH)
    return (
        est.join(F.broadcast(total))
        .crossJoin(F.broadcast(eq))
        .select(
            "token",
            "freq",
            "n_total",
            (F.col("est") >= F.col("freq")).alias("est_ge_freq_ok"),
            (F.col("est") <= bound).alias("within_bound_ok"),
            "stream_equals_batch_cms_ok",
        )
    )


def q_stream_timeout_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B106 oracle-backed: the EventTimeTimeout path of
    applyInPandasWithState (``windows.sessionize_stateful_timeout``) —
    the one B31 surface NoTimeout running-totals never exercises.
    Custom sessionization where a session is appended either in-stream
    (a later event for the key arrives past the gap) or by TIMEOUT (the
    watermark passes last + gap with no new data for the key).

    Determinism of the timeout leg: availableNow drains end with a
    NO-DATA micro-batch (``noDataMicroBatches.enabled``, default true)
    whose watermark is w2 = floor(max(all ts)/1ms) − delay_ms (Spark's
    ms-floored bookkeeping, mirrored in exact integer arithmetic here).
    Every non-last session is closed in-stream or by an earlier timeout,
    and every user's final open session is evicted by that last no-data
    batch iff its ms-floored timeout (last + gap) precedes w2 — so the
    emitted set is EXACTLY: every session that is not its user's last,
    plus each last session with floor((last_us + gap_us)/1000) < w2_ms.
    (A timeout firing under the intermediate w1 cannot merge-split: any
    later event for that key is necessarily > gap past the closed
    session, because w1 already cleared last + gap + delay.)
    ``timeout_emission_ok`` pins the streamed multiset to that set —
    across the two drains it also exercises watermark/state/timeout
    recovery from the checkpoint.

    Hashed columns are ALL lag-gap sessions with exact micro-unit sums —
    DuckDB-recomputable; the emission flag is the engine-local part."""
    from ..streaming.windows import (
        SESSION_GAP_US,
        SESSION_WM_DELAY_MS,
        sessionize_stateful_timeout,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    out_schema = (
        "user_id long, session_start timestamp, session_last timestamp,"
        " n_events long, sum_v_micro long"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        sink = (
            sessionize_stateful_timeout(_events_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(spark, out_dir, out_schema)

    stream_out = _drained(run)
    # batch twin: lag-gap sessionization over the full table, micro-units
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.lit(SESSION_GAP_US)
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
                > gap_us
            ),
            1,
        ).otherwise(0)
    )
    v_micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    sess = (
        ev.select("user_id", "ts", "event_id", v_micro.alias("v"))
        .withColumn("new_s", new_sess)
        .withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count("*").alias("n_events"),
            F.sum("v").cast("long").alias("sum_v_micro"),
        )
    )
    # expected emitted set under the FINAL no-data-batch watermark w2
    # (exact ms-floored integer arithmetic mirroring Spark's bookkeeping)
    max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    w2_ms = (max_us // 1000) - SESSION_WM_DELAY_MS
    last_start = F.max("session_start").over(W.partitionBy("user_id"))
    sess_flagged = sess.withColumn("is_last", F.col("session_start") == last_start)
    timeout_fires = F.expr(
        f"(unix_micros(session_last) + {SESSION_GAP_US}) div 1000"
    ) < F.lit(w2_ms)
    expected = sess_flagged.filter(
        (~F.col("is_last")) | timeout_fires
    ).select("user_id", "session_start", "session_last", "n_events", "sum_v_micro")
    eq = frames_equal_flag(
        stream_out.select(
            "user_id", "session_start", "session_last", "n_events", "sum_v_micro"
        ),
        expected,
        "timeout_emission_ok",
    )
    return sess.crossJoin(F.broadcast(eq)).select(
        "user_id",
        "session_start",
        "session_last",
        "n_events",
        "sum_v_micro",
        "timeout_emission_ok",
    )


def q_stream_rocksdb_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B108 oracle-backed: the RocksDB state-store backend — the backend
    the 100-TB deployment actually runs (``windows.use_rocksdb_state``:
    per-key state on local disk with bounded executor memory + changelog
    checkpointing, vs the default HDFS-backed provider that keeps every
    key on-heap).  Until r7 the helper existed but nothing EXERCISED the
    provider; this drains a stateful streaming aggregate over two
    micro-batches with RocksDB serving the state and gates both:

    - hashed columns: per-event-type exact counts + micro-unit value
      sums from the complete-mode result after the second drain — must
      equal DuckDB's batch aggregate (state survived the cross-drain
      checkpoint restore through the RocksDB files);
    - ``rocksdb_state_ok`` (engine-local flag): every micro-batch's
      state operator reported RocksDB custom metrics (the provider
      actually served — a silent fallback to the default provider would
      flip this, not just pass vacuously).

    The provider is a session-wide conf read at query start; the prior
    values are restored in ``finally`` so no other query inherits it."""
    from ..streaming.windows import use_rocksdb_state

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    chg_key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

    def _get(k):
        try:
            return spark.conf.get(k)
        except Exception:
            return None

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        agg = (
            _events_stream(spark, src)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("sum_v_micro"),
            )
        )
        sink = agg.writeStream.foreachBatch(_overwrite_sink(out_dir)).outputMode(
            "complete"
        )
        progresses = drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        progresses += drain(sink)
        data_batches = [
            p for p in progresses if p.stateOperators and p.numInputRows > 0
        ]
        served = bool(data_batches) and all(
            any("rocksdb" in m.lower() for m in (so.customMetrics or {}))
            for p in data_batches
            for so in p.stateOperators
        )
        out_schema = "event_type string, n_events long, sum_v_micro long"
        return _read_or_empty(spark, out_dir, out_schema).withColumn(
            "rocksdb_state_ok", F.lit(served)
        )

    old_prov, old_chg = _get(prov_key), _get(chg_key)
    try:
        use_rocksdb_state(spark)
        return _drained(run)
    finally:
        for k, old in ((prov_key, old_prov), (chg_key, old_chg)):
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


N_BACKPRESSURE_FILES = 6


def q_stream_backpressure_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B110 oracle-backed: source rate limiting — ``maxFilesPerTrigger``
    under ``Trigger.AvailableNow``, the BACKFILL operating mode at
    100 TB (replaying a month of landed files cannot be one giant
    micro-batch; the limiter bounds per-batch input so state updates,
    checkpoints and retries stay incremental).  Every other equivalence
    drain feeds one file per restart; this is the one that makes a
    SINGLE query run chop a pre-loaded backlog into many micro-batches.

    ``N_BACKPRESSURE_FILES`` pre-landed files are all written BEFORE
    the stream starts; with ``maxFilesPerTrigger=1`` the availableNow
    drain must process them as ≥ that many data micro-batches
    (``n_batches_ok`` — engine-local flag from the progress log; a
    limiter silently ignored would collapse to one batch and flip it),
    and the complete-mode aggregate accumulated ACROSS those batches
    must equal DuckDB's one-shot batch aggregate (hashed columns:
    per-type exact count + micro-unit sum)."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    # Chop the backlog into N POSITIONAL slices — no value-range math,
    # so no spurious red on the degenerate all-equal-ts / all-equal-id
    # shapes the r7/r8 range splits tripped over (r8 ADVICE), and no
    # eager min/max driver actions.  coalesce(1) first: within ONE
    # partition monotonically_increasing_id is contiguous from 0, so
    # residues mod N provably cycle and >= 2 slices are non-empty for
    # any >= 2-row input (across partitions the id bases are
    # partitionId * 2^33, whose residues can collide — e.g. two
    # single-row partitions at indices 0 and 3 both land residue 0).
    # Single-task is fine: this is test scaffolding writing the
    # backlog files, and the complete-mode aggregate unions all
    # slices, so ANY partition of the rows exercises the limiter
    # equally.  One localCheckpoint pins the nondeterministic ids so
    # all N slice filters see the same values.
    sliced = (
        ev.coalesce(1)
        .withColumn(
            "__fidx",
            F.monotonically_increasing_id() % N_BACKPRESSURE_FILES,
        )
        .localCheckpoint(eager=True)
    )
    slices = [
        sliced.filter(F.col("__fidx") == i).drop("__fidx")
        for i in range(N_BACKPRESSURE_FILES)
    ]
    counts = [p.count() for p in slices]
    n_nonempty = sum(1 for c in counts if c > 0)

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        for i, p in enumerate(slices):
            p.coalesce(1).write.parquet(f"{src}/b{i:02d}")
        agg = (
            spark.readStream.schema(_EVENT_COLS)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("sum_v_micro"),
            )
        )
        progress = drain(
            agg.writeStream.foreachBatch(_overwrite_sink(out_dir)).outputMode(
                "complete"
            )
        )
        n_data_batches = sum(1 for p in progress if p.numInputRows > 0)
        # a <2-row backlog cannot populate two slices; the limiter check
        # is vacuous there rather than spuriously red
        ok = n_data_batches >= n_nonempty and (n_nonempty > 1 or sum(counts) < 2)
        out_schema = "event_type string, n_events long, sum_v_micro long"
        return _read_or_empty(spark, out_dir, out_schema).withColumn(
            "n_batches_ok", F.lit(bool(ok))
        )

    return _drained(run)


REPLAY_FAULT_BATCH = 1  # fail the first attempt of the SECOND data batch


def q_stream_replay_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B118 oracle-backed: failure replay + idempotent sink — the
    exactly-once contract under a mid-stream SINK crash, which is how
    exactly-once actually breaks in production (B108 rehearses the clean
    stop/restart; this rehearses the dirty one).  Structured Streaming's
    guarantee is at-least-once delivery to foreachBatch + deterministic
    batch ids; end-to-end exactly-once is only real if the sink is
    idempotent per batch id — the same contract the reference's
    deterministic-``_id`` bulk sink relies on (main.go:555-559, replayed
    Firehose batches dedup in OpenSearch).

    Sequence: a 4-file backlog drains with ``maxFilesPerTrigger=1``; the
    foreachBatch sink THROWS on its first attempt at batch
    ``REPLAY_FAULT_BATCH`` (transient-fault marker on the driver), which
    fails the whole query AFTER the offset WAL pinned that batch's
    input.  A second query on the SAME checkpoint must replay exactly
    that batch (same id, same files) into the now-healthy sink.

    Hashed columns: the complete-mode per-type aggregate after recovery
    must equal DuckDB's one-shot batch aggregate — lost state, skipped
    input, or double-counted replay all flip it.  Engine-local flags:
    ``fault_injected_ok`` (the crash really happened and really killed
    query 1) and ``batch_replayed_ok`` (the faulted batch id was
    attempted ≥ 2×, proving recovery re-delivered it rather than
    skipping ahead)."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        i_min, i_max = ev.agg(F.min("event_id"), F.max("event_id")).first()
        step = max(1, (int(i_max) - int(i_min) + 1) // 4)
        for i in range(4):
            p = ev.filter(F.col("event_id") >= F.lit(int(i_min) + i * step))
            if i < 3:
                p = p.filter(F.col("event_id") < F.lit(int(i_min) + (i + 1) * step))
            p.coalesce(1).write.parquet(f"{src}/b{i:02d}")
        marker = os.path.join(work, "fault_fired")
        attempts_dir = os.path.join(work, "attempts")
        os.makedirs(attempts_dir)

        def faulty_sink(bdf: DataFrame, bid: int) -> None:
            # driver-side foreachBatch: sequential invocations, no races
            n_prior = len(os.listdir(attempts_dir))
            with open(os.path.join(attempts_dir, f"b{bid}_a{n_prior}"), "w"):
                pass
            if bid == REPLAY_FAULT_BATCH and not os.path.exists(marker):
                with open(marker, "w"):
                    pass
                raise RuntimeError("injected-replay-fault")
            bdf.write.mode("overwrite").parquet(out_dir)

        agg = (
            spark.readStream.schema(_EVENT_COLS)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("sum_v_micro"),
                F.min("event_id").cast("long").alias("min_id"),
                F.max("event_id").cast("long").alias("max_id"),
            )
        )
        sink = agg.writeStream.foreachBatch(faulty_sink).outputMode("complete")
        crashed = False
        try:
            drain(sink)
        except Exception as e:  # noqa: BLE001 - StreamingQueryException expected
            if "injected-replay-fault" not in str(e):
                raise
            crashed = True
        drain(sink)  # recovery on the same checkpoint
        fault_attempts = [
            f
            for f in os.listdir(attempts_dir)
            if f.startswith(f"b{REPLAY_FAULT_BATCH}_")
        ]
        out_schema = (
            "event_type string, n_events long, sum_v_micro long, "
            "min_id long, max_id long"
        )
        return (
            _read_or_empty(spark, out_dir, out_schema)
            .withColumn(
                "fault_injected_ok", F.lit(bool(crashed and os.path.exists(marker)))
            )
            .withColumn("batch_replayed_ok", F.lit(len(fault_attempts) >= 2))
        )

    return _drained(run)


OUTER_JOIN_WM_DELAY = "1 day"
OUTER_JOIN_SENTINEL_DAYS = 400  # pushes the final watermark past every click


def q_stream_outer_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B125 oracle-backed: stream-stream LEFT OUTER interval join — the
    semantically hardest streaming join shape: matched pairs emit like
    B101's inner join, but an UNMATCHED left row may only emit (with
    null right columns) once the watermark proves no match can still
    arrive — i.e. when the right-side state for its interval is evicted.
    A funnel pipeline needs exactly this ("clicks that never converted")
    and cannot get it from the inner join plus a batch anti-join without
    a second full pass.

    Emission mechanics under test: real (finite) watermark delay, state
    eviction, and the null-flush on the drain-final no-data micro-batch
    (``noDataMicroBatches.enabled``, the B106 mechanism).  The one
    construction subtlety, empirically pinned (r8): the watermark
    sentinel must be PER SIDE — Catalyst pushes the event-type filter
    BELOW the EventTimeWatermark node, so each side's watermark
    bookkeeping only sees its own type, and a neutral 'noop' sentinel
    advances NEITHER watermark (measured: the final watermark tracked
    max(click ts), stranding the last day of unmatched clicks; the
    post-pushdown ``numInputRows`` of 0 for the sentinel file initially
    masqueraded as a file-discovery bug — SCALING.md r8 pitfalls).  One
    'click' (user −1) and one 'purchase' (user −2) sentinel
    ``OUTER_JOIN_SENTINEL_DAYS`` past the span drag both watermarks;
    neither can join (negative user ids) and neither EMITS — each
    sentinel's own eviction horizon sits past the final watermark, which
    the batch-twin equality also proves.  The sentinels ride inside the
    second file group (one fewer drain; a typed-sentinel third drain
    works identically).  A join that loses state across the checkpointed
    restart, never evicts, or evicts without emitting the null row
    diverges from the batch twin.

    Hashed columns: the full outer-join row set (ids, both timestamps,
    matched flag) vs DuckDB's LEFT JOIN with the same interval — exact
    values only."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    out_schema = (
        "user_id long, click_id long, click_ts timestamp,"
        " purchase_id long, purchase_ts timestamp"
    )

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        _b1, b2, _tmid = _time_split_batches(ev, "ts", src)
        t_max = ev.agg(F.max("ts")).first()[0]
        clicks = (
            _events_stream(spark, src)
            .withWatermark("ts", OUTER_JOIN_WM_DELAY)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
        )
        purchases = (
            _events_stream(spark, src)
            .withWatermark("ts", OUTER_JOIN_WM_DELAY)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        sink = (
            clicks.join(
                purchases,
                (F.col("c_user") == F.col("p_user"))
                & (F.col("purchase_ts") >= F.col("click_ts"))
                & (
                    F.col("purchase_ts")
                    <= F.col("click_ts")
                    + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
                ),
                "leftOuter",
            )
            .select(
                F.col("c_user").alias("user_id"),
                "click_id",
                "click_ts",
                "purchase_id",
                "purchase_ts",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        sentinels = spark.createDataFrame(
            [(10**12, -1, "click", 0.0), (10**12 + 1, -2, "purchase", 0.0)],
            "event_id long, user_id long, event_type string, value double",
        ).select(
            "event_id",
            "user_id",
            (
                F.lit(t_max)
                + F.expr(f"INTERVAL {OUTER_JOIN_SENTINEL_DAYS} DAYS")
            ).alias("ts"),
            "event_type",
            "value",
        )
        drain(sink)
        b2.unionByName(sentinels).coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return _read_or_empty(spark, out_dir, out_schema)

    stream_out = _drained(run)

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_twin = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )
    eq = frames_equal_flag(stream_out, batch_twin, "stream_equals_batch_ok")
    return stream_out.crossJoin(F.broadcast(eq)).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        F.col("purchase_id").isNotNull().alias("matched"),
        "stream_equals_batch_ok",
    )


def q_stream_update_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B131 oracle-backed: UPDATE output mode — the third and last output
    mode (complete: B108/B110, append: every windowed/join drain).  In
    update mode each micro-batch emits ONLY the aggregate rows that
    changed in that batch — the mode a keyed sink (OpenSearch upsert by
    ``_id``, the reference's own write shape) consumes, paying
    O(changed keys) per batch instead of O(all keys) like complete mode.

    The drain logs every emission with its batch id (foreachBatch
    append); the FINAL STATE is reconstructed exactly as a keyed sink
    would hold it — per key, the emission from the highest batch id —
    and must hash-equal DuckDB's one-shot aggregate.  Engine-local
    flags: ``incremental_ok`` (keys present in both time-split batches
    were emitted MORE than once — a complete-mode impostor also passes
    the final-state check, but emits every key every batch, while a
    broken incremental emits once; this pins true update semantics) and
    ``changed_only_ok`` (batch 2's emission count covers only keys that
    actually changed).  Two drains over the time-split fixture also
    exercise update-mode state recovery from the checkpoint."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    def run(work, drain):
        src, out_dir = os.path.join(work, "src"), os.path.join(work, "out")
        b1, b2, _tmid = _time_split_batches(ev, "ts", src)

        def log_sink(bdf: DataFrame, bid: int) -> None:
            (
                bdf.withColumn("batch_id", F.lit(int(bid)).cast("long"))
                .write.mode("append")
                .parquet(out_dir)
            )

        agg = (
            _events_stream(spark, src)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("sum_v_micro"),
            )
        )
        sink = agg.writeStream.foreachBatch(log_sink).outputMode("update")
        drain(sink)
        b2.coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        log_schema = (
            "event_type string, n_events long, sum_v_micro long, batch_id long"
        )
        log = _read_or_empty(spark, out_dir, log_schema)
        # keys in both fixture batches must have been emitted >= twice
        both = (
            b1.select("event_type")
            .distinct()
            .join(b2.select("event_type").distinct(), "event_type", "left_semi")
        )
        emit_counts = log.groupBy("event_type").agg(F.count("*").alias("n_emits"))
        incremental_ok = (
            both.join(emit_counts, "event_type")
            .agg(F.min("n_emits").alias("m"))
            .first()
            .m
            or 0
        ) >= 2
        # batch-2 emissions cover exactly the keys present in b2
        b2_keys = {r.event_type for r in b2.select("event_type").distinct().collect()}
        late_emits = {
            r.event_type
            for r in log.filter(F.col("batch_id") > 0)
            .select("event_type")
            .distinct()
            .collect()
        }
        return log.withColumn("incremental_ok", F.lit(bool(incremental_ok))).withColumn(
            "changed_only_ok", F.lit(late_emits == b2_keys)
        )

    wlast = W.partitionBy("event_type").orderBy(F.desc("batch_id"))
    return (
        _drained(run)
        .withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", "n_events", "sum_v_micro", "incremental_ok", "changed_only_ok"
        )
    )


def q_stream_matview_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B126 streaming leg, oracle-backed: continuous materialized-view
    maintenance (``streaming/matview_stream.py``) — orders arrive in two
    micro-batches (o_orderkey parity) across a CHECKPOINT RESTART (two
    availableNow drains, the q_stream_cms_equiv pattern), each batch
    delta-aggregated and merged into the VERSIONED MV state through the
    SAME ``mv_project``/``mv_aggregate``/``mv_merge`` the batch operator
    (q_matview_delta, B126) ships — one definition of the view, two
    execution modes.

    Hashed columns: the full final MV state (per status × month count,
    exact cents sum, min/max order key).  DuckDB recomputes it as a
    ONE-SHOT aggregate over ALL orders, so any merge-rule defect,
    dropped one-sided group, double-merge on replay, or state loss
    across the restart flips the hash; ``stream_equals_batch_mv_ok``
    additionally pins the Spark-side one-shot aggregate
    (frames_equal_flag).  Replay idempotence of the versioned state
    writer is unit-proven separately (tests/test_streaming.py)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    from ..streaming.matview_stream import matview_writer, read_matview


    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        sink = (
            spark.readStream.schema(
                "o_orderkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp"
            )
            .parquet(src + "/*")
            .writeStream.foreachBatch(matview_writer(spark, state))
        )
        _two_batch_source(o, "o_orderkey", src)
        drain(sink)
        _write_second_batch(o, "o_orderkey", src)
        drain(sink)
        return read_matview(spark, state)

    stream_mv = _drained(run)

    from ..operators.tableops import mv_aggregate, mv_project

    batch_mv = mv_aggregate(mv_project(o))
    eq = frames_equal_flag(stream_mv, batch_mv, "stream_equals_batch_mv_ok")
    return stream_mv.crossJoin(F.broadcast(eq))


def q_stream_quantile_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B136 oracle-backed: continuous quantile-histogram maintenance
    (``streaming/quantile_stream.py``) — events arrive in two
    micro-batches (event_id parity) across a checkpoint restart, each
    batch's fixed-grid bin counts add-merged into the materialized
    per-type histogram (the mergeable-sketch discipline of B65/B102
    applied to ORDER STATISTICS).  The readout — per-type lower median
    and p90, estimated as the containing bin's lower edge — is a window
    over the BOUNDED histogram, never the data.

    Everything hashed is exact BIGINT arithmetic both engines replay:
    the grid is fixed (no data-dependent edges), ranks are B107's
    ``1 + (p·(n−1)) div 100`` convention, the exact med/p90 the
    estimates are checked against are rank-selected micro-values, and
    the sketch guarantee ``est <= exact < est + bin_width`` ships as
    per-type flags.  Out-of-grid mass lands in the explicit OVERFLOW
    bucket and is surfaced as ``oob_cnt`` (0 on this fixture — the grid
    covers the value domain with headroom); a quantile whose rank fell
    in the overflow bucket would yield NULL estimates and FALSE flags,
    never a silently-clamped value.  ``stream_equals_batch_hist_ok``
    pins the merged streaming counter table against the one-shot batch
    histogram row-for-row (mergeability is the whole point).  The exact
    med/p90 twin here is the VERIFICATION leg (per-type rank windows);
    the production path at 100 TB is the histogram itself.  The state
    writer is replay-idempotent (versioned by batch id — the B126
    discipline; crash-replay unit test in tests/test_streaming.py)."""
    from ..streaming.quantile_stream import (
        QHIST_OVERFLOW_BIN,
        QHIST_W_MICRO,
        continuous_qhist_writer,
        qhist_partials,
        read_qhist,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        sink = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .parquet(src + "/*")
            .writeStream.foreachBatch(continuous_qhist_writer(spark, state))
        )
        _two_batch_source(ev, "event_id", src)
        drain(sink)
        _write_second_batch(ev, "event_id", src)
        drain(sink)
        return read_qhist(spark, state)

    stream_hist = _drained(run)

    batch_hist = qhist_partials(ev.select("event_type", "value"))
    eq = frames_equal_flag(stream_hist, batch_hist, "stream_equals_batch_hist_ok")

    wcum = W.partitionBy("event_type").orderBy("bin").rowsBetween(
        W.unboundedPreceding, 0
    )
    wall = W.partitionBy("event_type").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = stream_hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    med_rank = 1 + F.expr("(n - 1) div 2")
    p90_rank = 1 + F.expr("(90 * (n - 1)) div 100")
    in_grid = F.col("bin") < QHIST_OVERFLOW_BIN
    est = c.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(~in_grid, F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("oob_cnt"),
        (
            F.min(F.when((F.col("cum") >= med_rank) & in_grid, F.col("bin")))
            * QHIST_W_MICRO
        )
        .cast("long")
        .alias("est_med_micro"),
        (
            F.min(F.when((F.col("cum") >= p90_rank) & in_grid, F.col("bin")))
            * QHIST_W_MICRO
        )
        .cast("long")
        .alias("est_p90_micro"),
    )
    vm = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
    )
    wr = W.partitionBy("event_type").orderBy("vm")
    r = vm.withColumn("rn", F.row_number().over(wr))
    ex = (
        r.join(F.broadcast(est.select("event_type", "n")), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("rn") == 1 + F.expr("(n - 1) div 2"), F.col("vm"))
            )
            .cast("long")
            .alias("exact_med_micro"),
            F.min(
                F.when(
                    F.col("rn") == 1 + F.expr("(90 * (n - 1)) div 100"),
                    F.col("vm"),
                )
            )
            .cast("long")
            .alias("exact_p90_micro"),
        )
    )
    within = lambda e, x: (F.col(x) >= F.col(e)) & (  # noqa: E731
        F.col(x) < F.col(e) + QHIST_W_MICRO
    )
    return (
        est.join(ex, "event_type")
        .crossJoin(F.broadcast(eq))
        .select(
            "event_type",
            "n",
            "oob_cnt",
            "est_med_micro",
            "exact_med_micro",
            "est_p90_micro",
            "exact_p90_micro",
            within("est_med_micro", "exact_med_micro").alias("med_within_bin_ok"),
            within("est_p90_micro", "exact_p90_micro").alias("p90_within_bin_ok"),
            "stream_equals_batch_hist_ok",
        )
    )


def q_stream_cdc_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B155 oracle-backed: streaming CDC apply through the snapshot
    protocol (``streaming/cdc_stream.py``) — the events change stream
    (event_type 'error' = tombstone, anything else = upsert) arrives in
    two TIME-ORDERED micro-batches across a checkpoint restart; each
    batch reduces to last-op-per-key and lands as an equality-delete
    commit + an append commit + one atomic ref publish (B152+B153), so
    the final ``read_branch`` merge-on-read must equal B47's one-shot
    ``cdc_latest`` state machine.

    Batches split by event-TIME (second granularity: every row of one
    second lands in one batch), honoring the CDC ordering contract —
    a key's changes arrive in event order ACROSS batches; within a
    batch the argmax reduction restores order.  Hashed columns: the
    final state grouped by last event_type (count, exact value cents,
    min/max user) — DuckDB recomputes it from the raw events via
    latest-per-key (ts desc, event_id desc) excluding tombstones; any
    sequence-rule defect (delete eating its own batch's upsert, stale
    row surviving, tombstone leak, replay double-apply) flips counts by
    value.  ``stream_equals_batch_cdc_ok`` additionally pins the
    row-level state against the in-engine one-shot twin."""
    from ..streaming.cdc_stream import cdc_writer, read_cdc_table

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    med = ev.agg(
        F.expr("percentile(cast(ts as bigint), 0.5)").alias("m")
    ).first()["m"]
    split = F.col("ts").cast("bigint") <= float(med)

    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        ev.filter(split).coalesce(1).write.parquet(src + "/b1")
        sink = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, "
                "ts timestamp, value double"
            )
            .parquet(src + "/*")
            .writeStream.foreachBatch(cdc_writer(spark, state))
        )
        drain(sink)
        ev.filter(~split).coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        return read_cdc_table(spark, state)

    stream_state = _drained(run)

    # in-engine one-shot twin: the same argmax state machine over all events
    batch_state = (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_type", "ts", "value"),
                F.struct("ts", "event_id"),
            ).alias("m")
        )
        .select("user_id", "m.event_type", "m.ts", "m.value")
        .filter(F.col("event_type") != "error")
    )
    eq = frames_equal_flag(stream_state, batch_state, "stream_equals_batch_cdc_ok")
    return (
        stream_state.groupBy(F.col("event_type").alias("last_event_type"))
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("sum_value_cents"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
        )
        .crossJoin(F.broadcast(eq))
    )


def q_stream_cdf_view_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B179 oracle-backed: the full CDC-to-downstream composition —
    events drive the B155 streaming CDC apply (delete+append commits +
    ref publish per batch), and AFTER EACH DRAIN a downstream sync
    (``sync_view_from_feed``) folds the source's row-level change feed
    (B171) into a per-event-type (count, cents) view with retractions
    (B174), cursor carried by version alignment.  The final view must
    equal DuckDB's declarative aggregate of latest-per-key-excluding-
    tombstones — i.e. the view stayed exact through upserts that MOVED
    keys between groups (delete old row + insert new row in the feed)
    and through tombstones that removed them.

    Flags: ``incremental_ok`` pins that the second sync was a DELTA
    application (its cursor started where the first ended, not at the
    bootstrap), and ``view_equals_recompute_ok`` pins the view
    row-for-row against an in-engine full re-aggregate of the CDC
    state (the B174 invariant, streamed)."""
    from ..streaming.cdc_stream import (
        cdc_writer,
        read_cdc_table,
        sync_view_from_feed,
    )
    from ..operators.timetravel import read_asof

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    med = ev.agg(
        F.expr("percentile(cast(ts as bigint), 0.5)").alias("m")
    ).first()["m"]
    split = F.col("ts").cast("bigint") <= float(med)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def run(work, drain):
        src, state = os.path.join(work, "src"), os.path.join(work, "state")
        view = os.path.join(work, "view")
        ev.filter(split).coalesce(1).write.parquet(src + "/b1")
        sink = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, "
                "ts timestamp, value double"
            )
            .parquet(src + "/*")
            .writeStream.foreachBatch(cdc_writer(spark, state))
        )
        drain(sink)
        s1 = sync_view_from_feed(spark, state, view, ["event_type"], cents)
        ev.filter(~split).coalesce(1).write.parquet(src + "/b2")
        drain(sink)
        s2 = sync_view_from_feed(spark, state, view, ["event_type"], cents)
        incremental_ok = bool(
            s1["applied_to"] is not None
            and s2["applied_from"] == s1["applied_to"]
            and s2["applied_from"] > -1
            and s2["n_changes"] > 0
        )
        got_view = read_asof(spark, view)
        recompute = (
            read_cdc_table(spark, state)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(cents).cast("long").alias("sum_val"),
            )
        )
        a = sorted(map(tuple, got_view.collect()))
        b = sorted(map(tuple, recompute.collect()))
        return got_view.select(
            F.col("event_type").alias("last_event_type"),
            F.col("n_rows").alias("n_keys"),
            F.col("sum_val").alias("sum_value_cents"),
            F.lit(incremental_ok).alias("incremental_ok"),
            F.lit(bool(a == b)).alias("view_equals_recompute_ok"),
        )

    return _drained(run)


def _orders_by_status(sink: DataFrame, exactly_once: bool) -> DataFrame:
    """Per-status count / exact cents / min-max key of a streamed orders
    sink, with its ``exactly_once_ok`` flag — the hashed shape of the
    Delta and Iceberg source/sink legs."""
    return (
        sink.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .withColumn("exactly_once_ok", F.lit(exactly_once))
    )


def q_stream_delta_src_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B205 streaming leg, oracle-backed: a DELTA TABLE as the stream
    SOURCE (``sources/delta_stream.py`` — the interop-log twin of
    delta-spark's readStream): orders land in the Delta table as two
    append commits split by o_orderkey parity, and the stream drains
    each across a CHECKPOINT RESTART (two availableNow runs — the
    second must emit ONLY commit 2's rows, pinning the version-offset
    resume contract), one InputPartition per added data file, partition
    values typed worker-side.

    Hashed columns: per-status count / exact cents / min-max key over
    the SINK parquet, so a dropped file partition, a re-emitted commit
    (offset regression), or a mistyped injected partition column flips
    the hash; ``exactly_once_ok`` additionally pins sink rows == source
    rows.  DuckDB recomputes from raw orders."""
    from ..sources import delta_log as dl
    from ..sources.delta_stream import DeltaStreamDataSource

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass  # already registered in this session
    k2 = F.col("o_orderkey") % 2

    def run(work, drain):
        table, out = os.path.join(work, "t"), os.path.join(work, "out")
        dl.delta_append(
            spark, table, o.filter(k2 == 0), partition_by=["o_orderstatus"]
        )
        sink = (
            spark.readStream.format("delta_interop")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
        )
        drain(sink)
        n_first = spark.read.parquet(out).count()
        dl.delta_append(
            spark, table, o.filter(k2 == 1), partition_by=["o_orderstatus"]
        )
        drain(sink)
        sink_rows = spark.read.parquet(out)
        exactly_once = bool(
            n_first == o.filter(k2 == 0).count() and sink_rows.count() == o.count()
        )
        return _orders_by_status(sink_rows, exactly_once)

    return _drained(run)


def q_stream_delta_sink_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B215 streaming leg, oracle-backed: the exactly-once Delta SINK
    (``delta_stream_sink`` — foreachBatch + the spec's setTransaction
    idempotence token): orders stream from a parquet source in two
    micro-batches across a CHECKPOINT RESTART into a Delta table, one
    txn-stamped commit per batch; the table is then read back through
    the interop reader and hashed per status.  ``exactly_once_ok``
    pins sink rows == source rows AND that the txn watermark equals
    the last batch id (a replayed batch that re-appended would flip
    both the counts and the hash)."""
    from ..sources import delta_log as dl

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def run(work, drain):
        src, table = os.path.join(work, "src"), os.path.join(work, "t")
        sink = (
            spark.readStream.schema(
                "o_orderkey long, o_orderstatus string, o_totalprice double"
            )
            .parquet(src + "/*")
            .writeStream.foreachBatch(
                dl.delta_stream_sink(table, "k2e-sink", partition_by=["o_orderstatus"])
            )
        )
        _two_batch_source(o, "o_orderkey", src)
        drain(sink)
        _write_second_batch(o, "o_orderkey", src)
        drain(sink)
        table_rows = dl.read_delta(spark, table)
        txns = dl.delta_snapshot(table)["txns"]
        exactly_once = bool(
            table_rows.count() == o.count() and txns.get("k2e-sink") == 1
        )
        return _orders_by_status(table_rows, exactly_once)

    return _drained(run)


def q_stream_iceberg_src_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B217 streaming leg, oracle-backed: an ICEBERG TABLE as the
    stream source (``sources/iceberg_stream.py`` — the B205 twin over
    snapshot lineage): orders land as two append snapshots and the
    stream drains each across a CHECKPOINT RESTART (sequence-number
    offset resume), one InputPartition per added data file.
    ``exactly_once_ok`` pins sink rows == source rows after both
    drains."""
    from ..sources import iceberg_meta as im
    from ..sources.iceberg_stream import IcebergStreamDataSource

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    try:
        spark.dataSource.register(IcebergStreamDataSource)
    except Exception:
        pass  # already registered in this session
    k2 = F.col("o_orderkey") % 2

    def run(work, drain):
        table, out = os.path.join(work, "t"), os.path.join(work, "out")
        im.iceberg_append(spark, table, o.filter(k2 == 0))
        sink = (
            spark.readStream.format("iceberg_interop")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
        )
        drain(sink)
        n_first = spark.read.parquet(out).count()
        im.iceberg_append(spark, table, o.filter(k2 == 1))
        drain(sink)
        sink_rows = spark.read.parquet(out)
        exactly_once = bool(
            n_first == o.filter(k2 == 0).count() and sink_rows.count() == o.count()
        )
        return _orders_by_status(sink_rows, exactly_once)

    return _drained(run)


QUERIES = {
    "q_stream_delta_src_equiv": q_stream_delta_src_equiv,
    "q_stream_delta_sink_equiv": q_stream_delta_sink_equiv,
    "q_stream_iceberg_src_equiv": q_stream_iceberg_src_equiv,
    "q_stream_cdf_view_equiv": q_stream_cdf_view_equiv,
    "q_stream_shard_equiv": q_stream_shard_equiv,
    "q_stream_dedup_equiv": q_stream_dedup_equiv,
    "q_stream_rollup_equiv": q_stream_rollup_equiv,
    "q_stream_tumble_equiv": q_stream_tumble_equiv,
    "q_stream_session_equiv": q_stream_session_equiv,
    "q_stream_sliding_equiv": q_stream_sliding_equiv,
    "q_stream_dedup_w_equiv": q_stream_dedup_w_equiv,
    "q_stream_stateful_equiv": q_stream_stateful_equiv,
    "q_stream_static_join_equiv": q_stream_static_join_equiv,
    "q_stream_stream_join_equiv": q_stream_stream_join_equiv,
    "q_stream_cms_equiv": q_stream_cms_equiv,
    "q_stream_timeout_equiv": q_stream_timeout_equiv,
    "q_stream_rocksdb_equiv": q_stream_rocksdb_equiv,
    "q_stream_backpressure_equiv": q_stream_backpressure_equiv,
    "q_stream_replay_equiv": q_stream_replay_equiv,
    "q_stream_outer_join_equiv": q_stream_outer_join_equiv,
    "q_stream_update_equiv": q_stream_update_equiv,
    "q_stream_matview_equiv": q_stream_matview_equiv,
    "q_stream_quantile_equiv": q_stream_quantile_equiv,
    "q_stream_cdc_equiv": q_stream_cdc_equiv,
}


def _shard_manifest_sql() -> str:
    from ..operators.corpus import N_SHARDS

    return f"""
        WITH s AS (
          SELECT doc_id,
                 ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                   % {N_SHARDS} AS shard_id
          FROM documents)
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id,
               TRUE AS stream_equals_batch_ok
        FROM s GROUP BY shard_id
    """


ORACLE = {
    "q_stream_iceberg_src_equiv": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               TRUE AS exactly_once_ok
        FROM orders GROUP BY o_orderstatus
    """,
    "q_stream_delta_sink_equiv": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               TRUE AS exactly_once_ok
        FROM orders GROUP BY o_orderstatus
    """,
    "q_stream_delta_src_equiv": """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               TRUE AS exactly_once_ok
        FROM orders GROUP BY o_orderstatus
    """,
    "q_stream_cdc_equiv": """
        WITH ranked AS (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events),
        state AS (
          SELECT user_id, event_type, value
          FROM ranked WHERE rn = 1 AND event_type <> 'error')
        SELECT event_type AS last_event_type,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents,
               CAST(min(user_id) AS BIGINT) AS min_user,
               CAST(max(user_id) AS BIGINT) AS max_user,
               TRUE AS stream_equals_batch_cdc_ok
        FROM state GROUP BY event_type
    """,
    "q_stream_cdf_view_equiv": """
        WITH ranked AS (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events),
        state AS (
          SELECT user_id, event_type, value
          FROM ranked WHERE rn = 1 AND event_type <> 'error')
        SELECT event_type AS last_event_type,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents,
               TRUE AS incremental_ok,
               TRUE AS view_equals_recompute_ok
        FROM state GROUP BY event_type
    """,
    "q_stream_shard_equiv": _shard_manifest_sql(),
    # identical exact-ground-truth shape as ORACLE["q_minhash_incremental"]
    # (the batch twin), with the streaming flags constant-true
    "q_stream_dedup_equiv": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(words) >= 3
                      THEN list_distinct(list_transform(range(1, len(words) - 1),
                             i -> array_to_string(list_slice(words, i, i + 2), ' ')))
                      ELSE [array_to_string(words, ' ')] END AS sh
               FROM w),
        hi AS (SELECT 1 AS x FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE (a.doc_id % 2) <> (b.doc_id % 2)
                 AND len(list_intersect(a.sh, b.sh)) * 10
                     >= len(list_distinct(list_concat(a.sh, b.sh))) * 9)
        SELECT (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS n_new,
               (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_old,
               CAST((SELECT count(*) FROM hi) AS BIGINT) AS n_exact_cross_hi_pairs,
               TRUE AS stream_recall_hi_ok,
               TRUE AS stream_equals_batch_ok
    """,
    "q_stream_rollup_equiv": """
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS est_within_5pct_ok
        FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    "q_stream_tumble_equiv": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n, round(sum(value), 2) AS sum_value,
               TRUE AS stream_equals_batch_ok, TRUE AS late_drop_ok
        FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    # lag-gap sessionization (the q_session_overlap oracle discipline);
    # session_end = last event + gap per Spark's session_window contract
    "q_stream_session_equiv": """
        WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS session_value,
               TRUE AS stream_equals_batch_ok
        FROM sess GROUP BY user_id, sid
    """,
    # each event covers exactly two 10-min/5-min-slide windows: its
    # floor-to-5-minutes start and that minus 5 minutes
    "q_stream_sliding_equiv": """
        WITH exp AS (
          SELECT user_id,
                 make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w0
          FROM events),
        wins AS (
          SELECT user_id, w0 AS window_start FROM exp
          UNION ALL
          SELECT user_id, w0 - INTERVAL 5 MINUTE AS window_start FROM exp)
        SELECT window_start, user_id, count(*) AS n,
               TRUE AS stream_equals_batch_ok
        FROM wins GROUP BY window_start, user_id
    """,
    "q_stream_dedup_w_equiv": """
        SELECT event_id, event_type, TRUE AS each_event_exactly_once_ok
        FROM events
    """,
    "q_stream_stateful_equiv": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY user_id
    """,
    "q_stream_static_join_equiv": """
        SELECT c.c_mktsegment, e.event_type,
               count(*) AS n,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
               round(sum(e.value), 2) AS sum_value,
               TRUE AS stream_equals_batch_ok
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
    """,
    "q_stream_cms_equiv": """
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        t AS (SELECT token FROM toks WHERE token <> ''),
        exact AS (
          SELECT token, CAST(count(*) AS BIGINT) AS freq
          FROM t GROUP BY token ORDER BY freq DESC, token LIMIT 20),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
        SELECT token, freq, n_total,
               TRUE AS est_ge_freq_ok,
               TRUE AS within_bound_ok,
               TRUE AS stream_equals_batch_cms_ok
        FROM exact CROSS JOIN total
    """,
    "q_stream_stream_join_equiv": f"""
        SELECT a.user_id,
               a.event_id AS click_id,
               b.event_id AS purchase_id,
               a.ts AS click_ts,
               b.ts AS purchase_ts,
               CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT)
                 AS latency_sec,
               TRUE AS stream_equals_batch_ok
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
    """,
    # lag-gap sessionization twin in exact micro-units; the streamed
    # EventTimeTimeout emission set is the engine-local flag
    "q_stream_timeout_equiv": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, sum(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) AS session_last,
               count(*) AS n_events,
               CAST(sum(v) AS BIGINT) AS sum_v_micro,
               TRUE AS timeout_emission_ok
        FROM sess GROUP BY user_id, sid
    """,
    "q_stream_rocksdb_equiv": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_v_micro,
               TRUE AS rocksdb_state_ok
        FROM events GROUP BY event_type
    """,
    "q_stream_backpressure_equiv": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_v_micro,
               TRUE AS n_batches_ok
        FROM events GROUP BY event_type
    """,
    "q_stream_replay_equiv": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_v_micro,
               CAST(min(event_id) AS BIGINT) AS min_id,
               CAST(max(event_id) AS BIGINT) AS max_id,
               TRUE AS fault_injected_ok,
               TRUE AS batch_replayed_ok
        FROM events GROUP BY event_type
    """,
    "q_stream_outer_join_equiv": f"""
        WITH c AS (
          SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
        p AS (
          SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
          FROM events WHERE event_type = 'purchase')
        SELECT c.c_user AS user_id, c.click_id, c.click_ts,
               p.purchase_id, p.purchase_ts,
               p.purchase_id IS NOT NULL AS matched,
               TRUE AS stream_equals_batch_ok
        FROM c LEFT JOIN p
          ON c.c_user = p.p_user
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES
    """,
    "q_stream_matview_equiv": """
        SELECT o_orderstatus,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS stream_equals_batch_mv_ok
        FROM orders GROUP BY o_orderstatus, month
    """,
    "q_stream_update_equiv": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_v_micro,
               TRUE AS incremental_ok,
               TRUE AS changed_only_ok
        FROM events GROUP BY event_type
    """,
}


def _qhist_oracle_sql() -> str:
    from ..streaming.quantile_stream import QHIST_OVERFLOW_BIN, QHIST_W_MICRO

    return f"""
    WITH vm AS (
      SELECT event_type, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
      FROM events),
    b AS (SELECT event_type,
                 least({QHIST_OVERFLOW_BIN}, greatest(0, vm // {QHIST_W_MICRO})) AS bin
          FROM vm),
    h AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2),
    c AS (SELECT event_type, bin, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM h),
    est AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                   CAST(coalesce(sum(CASE WHEN bin >= {QHIST_OVERFLOW_BIN}
                                          THEN c END), 0) AS BIGINT) AS oob_cnt,
                   CAST(min(CASE WHEN cum >= 1 + (n - 1) // 2
                                  AND bin < {QHIST_OVERFLOW_BIN} THEN bin END)
                        * {QHIST_W_MICRO} AS BIGINT) AS est_med_micro,
                   CAST(min(CASE WHEN cum >= 1 + (90 * (n - 1)) // 100
                                  AND bin < {QHIST_OVERFLOW_BIN} THEN bin END)
                        * {QHIST_W_MICRO} AS BIGINT) AS est_p90_micro
            FROM c GROUP BY 1),
    r AS (SELECT event_type, vm,
                 row_number() OVER (PARTITION BY event_type ORDER BY vm) AS rn
          FROM vm),
    ex AS (SELECT r.event_type,
                  CAST(min(CASE WHEN rn = 1 + (e.n - 1) // 2 THEN vm END)
                       AS BIGINT) AS exact_med_micro,
                  CAST(min(CASE WHEN rn = 1 + (90 * (e.n - 1)) // 100 THEN vm END)
                       AS BIGINT) AS exact_p90_micro
           FROM r JOIN est e USING (event_type) GROUP BY 1)
    SELECT est.event_type, n, oob_cnt, est_med_micro, exact_med_micro,
           est_p90_micro, exact_p90_micro,
           exact_med_micro >= est_med_micro
             AND exact_med_micro < est_med_micro + {QHIST_W_MICRO}
             AS med_within_bin_ok,
           exact_p90_micro >= est_p90_micro
             AND exact_p90_micro < est_p90_micro + {QHIST_W_MICRO}
             AS p90_within_bin_ok,
           TRUE AS stream_equals_batch_hist_ok
    FROM est JOIN ex USING (event_type)
"""


ORACLE["q_stream_quantile_equiv"] = _qhist_oracle_sql()
