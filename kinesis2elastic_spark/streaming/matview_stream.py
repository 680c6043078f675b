"""Continuous materialized-view maintenance (B126 streaming leg): a
foreachBatch-maintained aggregate table — the form a 100 TB MV actually
runs: deltas land continuously, the view updates by merging ONLY each
micro-batch's aggregate into the persisted state, and the base data is
never re-aggregated.

Per micro-batch (reusing the batch operators' ONE definition of the view —
``tableops.mv_project`` / ``mv_aggregate`` / ``mv_merge`` — so the batch
oracle pins the streaming state machine row-for-row):

1. aggregate the batch's delta (bounded by the view's group cardinality,
   not the batch size — the shuffle is map-combinable);
2. read the PRE-batch MV state;
3. ``mv_merge`` (counts/sums add, min/max fold, one-sided groups pass);
4. publish the merged state as a REPLACE snapshot commit at version =
   batch id (B138 protocol: data under ``data/c{batch_id}/``, then the
   atomic manifest rename IS the commit).

The commit is ``state_commit.commit_batch_state`` — the replay-safe step
the B102 CMS and B136 histogram writers share — so replay idempotence
falls out of commit ATOMICITY (a crash between the data write and the
manifest rename leaves an orphan ``data/c{N}/`` that no manifest
references; the replayed batch re-reads the latest snapshot STRICTLY
BELOW its batch id and deterministically re-publishes), and the whole
time-travel read surface works over the streaming table for free:
``read_asof(version=batch_id)`` is the MV as of any retained batch.
Retention keeps the last 2 snapshots, and reads below the floor fail
loudly instead of re-reading vacuumed files.

At 100 TB: per-batch cost = one delta scan + an |MV|-sized merge; the
manifest dance is metadata-rate.  (An ACID table format's MERGE INTO
with snapshot isolation is the productionized form of exactly this
loop; the mechanism here is format-free on purpose.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.tableops import MV_STATE_SCHEMA, mv_aggregate, mv_merge, mv_project
from ..operators.timetravel import read_asof
from .state_commit import commit_batch_state


def matview_writer(spark: SparkSession, state_dir: str):
    """foreachBatch body: orders delta batch → aggregate → merge →
    replace-commit snapshot v{batch_id} → vacuum to the last 2."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        delta = mv_aggregate(mv_project(batch_df))
        commit_batch_state(
            spark,
            state_dir,
            batch_id,
            MV_STATE_SCHEMA,
            lambda prev: delta if prev is None else mv_merge(prev, delta),
        )

    return fb


def read_matview(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_asof(spark, state_dir, None, schema=MV_STATE_SCHEMA)
