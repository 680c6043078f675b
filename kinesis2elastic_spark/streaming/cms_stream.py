"""Continuous count-min sketch maintenance (B102): a foreachBatch-merged
token-frequency sketch — the count-side sibling of the continuous HLL
rollup (``streaming/rollup.py``).

Per micro-batch:

1. partial-aggregate the batch's tokens into counter cells
   (``corpus.cms_partials`` — at most depth × width rows out, regardless
   of batch size or vocabulary);
2. read the PRE-batch counter table (bounded: ``CMS_DEPTH × CMS_WIDTH``
   = 4096 rows total, ever);
3. merge by plain addition — the defining CMS property: partial matrices
   from batches/partitions/days combine with ``+``, so a year of sketch
   state never re-touches raw data;
4. publish the sum as snapshot ``batch_id`` through the replay-safe
   ``state_commit.commit_batch_state`` — a batch replayed after its state
   write re-merges from the pre-batch snapshot instead of counting
   itself twice.

At 100 TB the shuffle per batch is ≤ 4096 counter cells per map
partition and the state is a fixed 4096-row table — monitoring-grade
token-frequency tracking whose cost is independent of history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.timetravel import read_asof
from .state_commit import add_counts, commit_batch_state

CMS_STATE_SCHEMA = "row int, bucket bigint, cnt bigint"


def merge_cms(
    spark: SparkSession, state_path: str, batch_partials: DataFrame, batch_id: int
) -> None:
    """Add-merge one batch's counter partials into snapshot ``batch_id``."""
    cells = batch_partials.selectExpr("row", "bucket", "cnt")
    commit_batch_state(
        spark,
        state_path,
        batch_id,
        CMS_STATE_SCHEMA,
        lambda prev: add_counts(prev, cells, ["row", "bucket"]),
    )


def continuous_cms_writer(spark: SparkSession, state_path: str):
    """foreachBatch body: documents batch → token cells → merge."""
    from ..operators.corpus import cms_partials, doc_token_stream

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        merge_cms(spark, state_path, cms_partials(doc_token_stream(batch_df)), batch_id)

    return fb


def read_cms(spark: SparkSession, state_path: str) -> DataFrame:
    return read_asof(spark, state_path, None, schema=CMS_STATE_SCHEMA)
