"""Replay-safe state commits for foreachBatch maintainers — the one
commit step behind the materialized-view (B126), count-min sketch (B102)
and quantile-histogram (B136) writers.

The contract (B118 exactly-once applied to STATE, not just sinks):
Structured Streaming delivers each micro-batch to foreachBatch at least
once, with a deterministic batch id, so a state maintainer is
exactly-once iff re-running a batch attempt leaves the state unchanged.
Each state table is a snapshot table (``operators.timetravel``'s B138
manifest protocol) whose version IS the batch id:

1. the batch merges FROM the latest snapshot strictly BELOW its batch id
   (the pre-batch state — never its own possibly-published output);
2. the merged state is materialized, then published as a REPLACE commit
   at version = batch id (data under ``data/c{batch_id}/``, then the
   atomic manifest rename is the commit), so a replay deterministically
   rewrites the same snapshot and a crash before the rename leaves an
   orphan no manifest references;
3. ``vacuum(keep_last=2)`` — a replay of batch N needs its merge source,
   never anything older; reads below the floor fail loudly.

Because every version is a snapshot, ``read_asof(version=batch_id)`` is
the state as of any retained batch.  At 100 TB the manifest dance is
metadata-rate; an ACID table format's snapshot-isolated MERGE INTO is
the productionized form of exactly this loop.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timetravel import (
    commit_snapshot,
    read_asof,
    snapshot_versions,
    vacuum,
)


def commit_batch_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    schema: str,
    merge: Callable[[DataFrame | None], DataFrame],
) -> None:
    """Publish ``merge(pre-batch state)`` as snapshot ``batch_id``;
    ``merge`` gets None before the first commit."""
    prev_v = max(
        (v for v in snapshot_versions(state_dir) if v < int(batch_id)), default=None
    )
    prev = None if prev_v is None else read_asof(spark, state_dir, prev_v, schema=schema)
    # materialize BEFORE writing: data/c{batch_id} may exist from a failed
    # prior attempt of this same batch and the overwrite would otherwise
    # race the lazy read of it
    merged = merge(prev).localCheckpoint(eager=True)
    commit_snapshot(
        spark,
        state_dir,
        merged.coalesce(1),
        int(batch_id),
        carry_forward=False,  # each version IS the whole state table
    )
    # min_age_s=0 is safe: the maintainer is the table's only writer, so
    # there are no concurrent uncommitted files to protect
    vacuum(state_dir, keep_last=2)


def add_counts(prev: DataFrame | None, cells: DataFrame, keys: list[str]) -> DataFrame:
    """Counter-table merge by plain addition (CMS cells, histogram bins)."""
    src = cells if prev is None else prev.unionByName(cells)
    return src.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("cnt"))

