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
and gets the same documents in the same index — with effectively-once
writes on top.  Item-level ``_bulk`` errors are reported per chunk but not
yet retried or dead-lettered.

Checkpointing gives the micro-batch commit/abort semantics of the
reference's 200-ack / redeliver-on-5xx contract (A7): when a bulk chunk is
still refused after its retries, ``BulkSink.write_batch`` raises, the
query stops with that error and the batch's offset is not committed; the
next run on the same checkpoint replays the batch from the spool, and the
deterministic _id makes the replay idempotent.

Structured Streaming plans every micro-batch afresh, so each per-batch
step is compiled once and replayed: flattening, the interpreter,
``document_id`` and the sink's serialization are each ``selectExpr`` calls
over precompiled SQL text.  The GeoIP dimension the caller passes is
broadcast again by every batch's plan, so it must be JVM-resident (a
``LocalTableScan``, as ``sources.geoip``'s builders return): a relation
backed by a Python RDD would rerun a Python job per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .metrics import with_doc_metrics
from .operators.decode import decode_envelopes
from .operators.pipeline_dsl import PipelineInterpreter
from .streaming.sink import BulkDeliveryError, BulkSink, document_id
from .streaming.windows import stream_envelopes

_FLATTEN = (
    "`requestId` AS `requestId`",
    "`timestamp` AS `@timestamp`",
    "record.data.messageType AS `records.data.messageType`",
    "record.data.owner AS `records.data.owner`",
    "record.data.logGroup AS `records.data.logGroup`",
    "record.data.logStream AS `records.data.logStream`",
    "record.data.logEvents.id AS `records.data.logEvents.id`",
    "record.data.logEvents.timestamp AS `records.data.logEvents.timestamp`",
    "record.data.logEvents.message AS `records.data.logEvents.message`",
    "get_json_object(record.data.logEvents.message, '$.text') AS `records.data.logEvents.message.text`",
    "`error_message` AS `decode.error`",
)


def flatten_for_pipeline(docs: DataFrame) -> DataFrame:
    """Document struct → the flat dotted-path columns the ingest-pipeline
    ctx addresses (e.g. 'records.data.logGroup',
    'records.data.logEvents.message.text'; SURVEY §1.1 last row)."""
    return docs.selectExpr(*_FLATTEN)


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
    sink outcomes — the request-scoped pattern of main.go:151-197.

    ``geoip_dim`` must be JVM-resident (see the module docstring).  A batch
    whose bulk chunks are not all delivered raises
    :class:`~kinesis2elastic_spark.streaming.sink.BulkDeliveryError`: the
    query stops with it and the batch stays uncommitted, to be replayed by
    the next run on ``checkpoint_dir``."""
    interp = PipelineInterpreter(pipelines, geoip_dim=geoip_dim) if pipelines else None

    def report(log, event: str, results: list[dict]) -> None:
        for r in results:
            if r["errors"]:
                log.error("bulk_chunk_failed", **r)
            else:
                log.debug("bulk_chunk_ok", **r)
        (log.error if event == "batch_failed" else log.info)(
            event,
            n_chunks=len(results),
            n_items=sum(r["n_items"] for r in results),
            n_failed_chunks=sum(1 for r in results if r["errors"]),
            retries=sum(r["retries"] for r in results),
            post_s=sum(r["post_s"] for r in results),
        )

    def handle(batch_df: DataFrame, epoch_id: int):
        log = logger.bind(epoch=epoch_id) if logger else None
        if log:
            log.info("batch_start")
        flat = flatten_for_pipeline(batch_df)
        if interp is not None:
            flat = interp.run(flat, entry_pipeline)
        flat = document_id(flat, event_id_col="`records.data.logEvents.id`")
        try:
            results = sink.write_batch(flat, epoch_id)
        except BulkDeliveryError as e:
            if log:
                report(log, "batch_failed", e.results)
            raise
        if log:
            report(log, "batch_done", results)

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
