"""The complete service: everything the reference does, composed end to end
(SURVEY §3.1 lifecycle) —

    HTTP receiver (sources.firehose)  →  spool files (S3-backup shape)
      →  readStream envelopes          (A1)
      →  decode chain + doc metrics    (A8-A16, operators.decode, metrics)
      →  ingest-pipeline interpreter   (A17-A31, operators.pipeline_dsl,
                                        runs reference-shaped JSON configs)
      →  deterministic _id             (idempotency fix)
      →  foreachBatch bulk sink        (A5-A7, streaming.sink)

A user of the reference points Firehose at :func:`FirehoseReceiver` instead
of the Go service, hands :func:`run_service` the same ingest-pipeline JSON,
and gets the same documents in the same index — with per-record dead-letter
and effectively-once writes on top.

Checkpointing gives the micro-batch commit/abort semantics of the
reference's 200-ack / redeliver-on-5xx contract (A7): a failed batch is
replayed from the spool, and the deterministic _id makes the replay
idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metrics import with_doc_metrics
from .operators.decode import decode_envelopes
from .operators.pipeline_dsl import PipelineInterpreter
from .streaming.sink import BulkSink, document_id
from .streaming.windows import stream_envelopes


def flatten_for_pipeline(docs: DataFrame) -> DataFrame:
    """Document struct → the flat dotted-path columns the ingest-pipeline
    ctx addresses (e.g. 'records.data.logGroup',
    'records.data.logEvents.message.text'; SURVEY §1.1 last row)."""
    return docs.select(
        F.col("requestId").alias("requestId"),
        F.col("timestamp").alias("@timestamp"),
        F.col("record.data.messageType").alias("records.data.messageType"),
        F.col("record.data.owner").alias("records.data.owner"),
        F.col("record.data.logGroup").alias("records.data.logGroup"),
        F.col("record.data.logStream").alias("records.data.logStream"),
        F.col("record.data.logEvents.id").alias("records.data.logEvents.id"),
        F.col("record.data.logEvents.timestamp").alias("records.data.logEvents.timestamp"),
        F.col("record.data.logEvents.message").alias("records.data.logEvents.message"),
        F.get_json_object(F.col("record.data.logEvents.message"), "$.text").alias(
            "records.data.logEvents.message.text"
        ),
        F.col("error_message").alias("decode.error"),
    )


def run_service(
    spark: SparkSession,
    spool_dir: str,
    sink: BulkSink,
    pipelines: dict[str, dict] | None = None,
    entry_pipeline: str = "one-pipeline-to-rule-them-all",
    geoip_dim: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    logger=None,
):
    """Start the full ingest service; returns the StreamingQuery.

    ``available_now=True`` drains the spool and stops (tests / batch
    replay); otherwise a 60 s trigger mirrors the upstream Firehose buffer
    cadence (cloudformation-template.yaml:147-149).  ``logger`` (A33,
    :class:`kinesis2elastic_spark.logs.StructuredLogger`) gets an
    epoch-bound child per micro-batch with batch lifecycle + per-chunk
    sink outcomes — the request-scoped pattern of main.go:151-197."""
    interp = PipelineInterpreter(pipelines, geoip_dim=geoip_dim) if pipelines else None

    def handle(batch_df: DataFrame, epoch_id: int):
        log = logger.bind(epoch=epoch_id) if logger else None
        if log:
            log.info("batch_start")
        flat = flatten_for_pipeline(batch_df)
        if interp is not None:
            flat = interp.run(flat, entry_pipeline)
        flat = document_id(flat, event_id_col="`records.data.logEvents.id`")
        results = sink.write_batch(flat, epoch_id)
        if log:
            for r in results:
                if r["errors"]:
                    log.error("bulk_chunk_failed", **r)
                else:
                    log.debug("bulk_chunk_ok", **r)
            log.info(
                "batch_done",
                n_chunks=len(results),
                n_items=sum(r["n_items"] for r in results),
                n_failed_chunks=sum(1 for r in results if r["errors"]),
            )

    # Observed on the stream itself: Spark reports a streaming query's
    # observations per trigger, and drops those of a foreachBatch DataFrame.
    docs = with_doc_metrics(decode_envelopes(stream_envelopes(spark, spool_dir)))
    writer = docs.writeStream.foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
