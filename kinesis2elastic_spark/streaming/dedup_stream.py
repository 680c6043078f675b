"""Streaming incremental near-dup: the continuous form of the B87 batch
operator (``minhash_incremental_detail``) — every micro-batch of arriving
documents is deduped against the PERSISTED corpus banding index, then its
own band rows join the index, so the historical corpus is never
re-shingled.

State layout under ``state_dir`` (all parquet, all partitioned by
``batch_id`` so a replayed micro-batch dynamic-overwrites ITS OWN
partition instead of appending a second copy — which makes the whole
pipeline effectively exactly-once on top of foreachBatch's
at-least-once; the continuous rollup's touched-bucket merge is NOT this
idiom, see ``rollup.py``):

- ``band_index/``  (doc_id, band_id, band_hash, batch_id) — 24 bytes/row
  + partition key; THE index a 100 TB corpus persists once.
- ``doc_store/``   (doc_id, text, batch_id) — the verify-side lookup.  At
  production scale this is the existing corpus table (or a shingle-digest
  store); it exists here so exact verification never needs the stream's
  history in memory.
- ``pairs/``       (doc_new, doc_old, jaccard, batch_id) — verified
  cross-batch near-dup decisions, the stream's output.

Per-batch cost: one band equi-join of the batch against the index, shingle
re-attach for surviving candidates only (semi-joins into doc_store), one
exact verify — proportional to the batch and its candidate set, never to
corpus age.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..functions.numerics import stable_round
from ..operators.llmops import _shingles, minhash_band_rows

PAIRS_SCHEMA = "doc_new bigint, doc_old bigint, jaccard double, batch_id bigint"


def _exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        not f.startswith(("_", ".")) for f in os.listdir(path)
    )


def dedup_stream_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 10_000,
) -> None:
    """foreachBatch body: verify this batch against the current index,
    emit cross pairs, then admit the batch's band rows + docs to state.

    Ordering is load-bearing: candidates are generated against the index
    AS OF the previous batch (read BEFORE this batch's partitions are
    written), so a document never matches itself and replays see the
    identical index prefix."""
    index_path = os.path.join(state_dir, "band_index")
    store_path = os.path.join(state_dir, "doc_store")
    pairs_path = os.path.join(state_dir, "pairs")

    b = batch_df.select("doc_id", "text").localCheckpoint(eager=True)
    bands_df = (
        minhash_band_rows(b, num_hashes=num_hashes, bands=bands)
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .localCheckpoint(eager=True)
    )

    if _exists(index_path):
        idx = spark.read.parquet(index_path)
        # a replayed batch must not see its own (or any later) partition:
        # the index prefix is pinned to strictly-earlier batches
        idx = idx.filter(F.col("batch_id") < batch_id)
        hot = (
            idx.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band_id", "band_hash")
        )
        idx = idx.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")
        cand = (
            bands_df.alias("n")
            .join(idx.alias("o"), ["band_id", "band_hash"])
            .select(
                F.col("n.doc_id").alias("doc_new"),
                F.col("o.doc_id").alias("doc_old"),
            )
            .filter(F.col("doc_new") != F.col("doc_old"))
            .dropDuplicates(["doc_new", "doc_old"])
        )
        old_sh = (
            spark.read.parquet(store_path)
            .join(
                cand.select(F.col("doc_old").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            .select("doc_id", _shingles(F.col("text")).alias("sh"))
        )
        new_sh = b.join(
            cand.select(F.col("doc_new").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        ).select("doc_id", _shingles(F.col("text")).alias("sh"))
        paired = cand.join(
            new_sh.select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_n")),
            "doc_new",
        ).join(
            old_sh.select(F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_o")),
            "doc_old",
        )
        jac = F.size(F.array_intersect("sh_n", "sh_o")) / F.size(
            F.array_union("sh_n", "sh_o")
        )
        pairs = (
            paired.withColumn("_jac_raw", jac)
            .filter(F.col("_jac_raw") >= jaccard_threshold)
            .select(
                "doc_new",
                "doc_old",
                # stable_round, in lockstep with minhash_incremental_detail:
                # q_stream_dedup_equiv compares the two pair sets row-exact
                stable_round(F.col("_jac_raw"), 4).alias("jaccard"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            .localCheckpoint(eager=True)
        )
        # dynamic overwrite scoped to each write (a session-wide conf set
        # would silently change later partitioned overwrites' semantics)
        (
            pairs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pairs_path)
        )

    (
        bands_df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(index_path)
    )
    (
        b.withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_path)
    )


def incremental_dedup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    state_dir: str,
    **kwargs,
) -> DataStreamWriter:
    """Wire a streaming documents source through the incremental dedup and
    return the unstarted writer: the caller sets its checkpoint and
    trigger and starts it (``availableNow`` drains what exists and stops,
    for tests and batch-cadence production runs; no trigger runs it
    continuously)."""
    return stream_df.writeStream.foreachBatch(
        lambda df, bid: dedup_stream_batch(df.sparkSession, df, bid, state_dir, **kwargs)
    )
