"""Continuous quantile-histogram maintenance (B136): a foreachBatch-merged
fixed-grid value histogram per group — the MERGEABLE quantile sketch that
completes the repo's sketch family (B65 HLL for distincts, B102 CMS for
frequencies, this for order statistics).  Continuous latency/value
percentiles over an unbounded stream cannot keep raw values; a fixed
integer bin grid gives counter state that merges by plain addition
across batches/partitions/days, with a deterministic worst-case error of
ONE bin width for any quantile that lands inside the grid.

Grid: values snap to integer micro-units (``floor(v*1e6 + 0.5)``) and
bin = ``vm div QHIST_W_MICRO`` with two explicit boundary buckets —
negative values clamp to bin 0, and values at/above the grid top land in
the dedicated OVERFLOW bucket ``bin == QHIST_BINS`` (NOT folded into the
last real bin: clamped mass stays visible, and a quantile whose rank
falls in the overflow bucket yields a NULL estimate instead of a silent
one-bin-width lie).  Edges are FIXED, so two batches' histograms are
over the same grid and addition is exact (an adaptive-edge sketch like
t-digest merges approximately; the fixed grid trades a configured value
range for exact mergeability and cross-engine reproducibility — every
readout is pure BIGINT arithmetic both engines replay identically).
The grid covers [0, 1024): the events fixture's value domain tops out
at ~560 at sf0.1, so real data has ~1.8x headroom before the overflow
bucket sees any mass.

Per micro-batch:
1. partial-aggregate the batch into (group, bin, cnt) cells — at most
   |groups| x (``QHIST_BINS``+1) rows out regardless of batch size;
2. add-merge them into the PRE-batch histogram and publish the sum as
   snapshot ``batch_id`` through ``state_commit.commit_batch_state`` —
   the replay-safe commit the B126 matview and B102 CMS writers share: a
   replay after a crash between state write and checkpoint commit
   re-merges from the same pre-batch snapshot, idempotent by
   construction (crash-replay pytest in test_streaming.py).

At 100 TB: per-batch shuffle <= |groups|x4097 counter cells per map
partition; state is a fixed-size table (<=2 versions retained); quantile
readout is a window over the BOUNDED histogram, never the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timetravel import read_asof
from .state_commit import add_counts, commit_batch_state

QHIST_BINS = 4096
QHIST_W_MICRO = 250_000  # 0.25-unit bins: real grid covers [0, 1024)
QHIST_OVERFLOW_BIN = QHIST_BINS  # explicit out-of-range bucket
QHIST_STATE_SCHEMA = "event_type string, bin long, cnt long"


def qhist_partials(df: DataFrame) -> DataFrame:
    """(event_type, value) rows → (event_type, bin, cnt) counter cells.
    bin ∈ [0, QHIST_BINS]: real grid cells plus the overflow bucket."""
    bin_ = F.expr(
        f"least({QHIST_OVERFLOW_BIN}, greatest(0, "
        f"CAST(floor(value * 1000000 + 0.5) AS BIGINT) div {QHIST_W_MICRO}))"
    )
    return df.groupBy("event_type", bin_.alias("bin")).agg(
        F.count("*").cast("long").alias("cnt")
    )


def merge_qhist(
    spark: SparkSession, state_dir: str, partials: DataFrame, batch_id: int
) -> None:
    """Add-merge one batch's counter cells into snapshot ``batch_id``."""
    cells = partials.selectExpr("event_type", "bin", "cnt")
    commit_batch_state(
        spark,
        state_dir,
        batch_id,
        QHIST_STATE_SCHEMA,
        lambda prev: add_counts(prev, cells, ["event_type", "bin"]),
    )


def continuous_qhist_writer(spark: SparkSession, state_dir: str):
    """foreachBatch body: events batch → bin cells → versioned add-merge."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        merge_qhist(
            spark,
            state_dir,
            qhist_partials(batch_df.select("event_type", "value")),
            int(batch_id),
        )

    return fb


def read_qhist(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_asof(spark, state_dir, None, schema=QHIST_STATE_SCHEMA)
