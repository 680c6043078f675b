"""Production-wiring config builders: Kinesis source / OpenSearch sink.

The reference (Moulick/kinesis2elastic) is an always-on service wired
Firehose → HTTP endpoint → OpenSearch bulk indexer.  The Spark-native
deployment of the same pipeline is readStream (Kinesis connector) →
decode/pipeline operators → writeStream (opensearch-hadoop/es-hadoop) —
but an actual connector round-trip needs AWS credentials, a live
cluster, and the connector jars, none of which exist in this sandbox.
What CAN be built and tested here is the exact configuration surface a
deployer needs: option dicts and writer/reader builders that translate
the reference's measured operating envelope (BASELINE.md; main.go
constants) into the public connector option names, so standing the
pipeline up is `spark-submit --packages ... + deploy.py` rather than a
config archaeology exercise.

Reference envelope → Spark mapping (sources: `main.go:45-48,402-436`,
`cloudformation-template.yaml:147-162`):

- bulk flush threshold 5,000,000 B (`flushBytes`) → `es.batch.size.bytes`
  (per-task bulk buffer in es/opensearch-hadoop);
- bulk flush interval 5 s (`FlushInterval`) → the writeStream processing
  trigger (es-hadoop flushes per batch; the trigger IS the interval);
- 3 bulk worker goroutines (`numWorkers`) → sink-side parallelism =
  partitions of the written micro-batch (`sink_partitions`);
- retry on 429/502/503/504 with exponential backoff → es-hadoop's
  `es.batch.write.retry.count/.wait` (es-hadoop retries overload
  responses; REST-level 5xx retry rides on `es.http.retries`);
- Firehose buffering 1 MB / 60 s and the 300 s redelivery window concern
  the UPSTREAM of the reference; in the Spark deployment they map to the
  Kinesis stream itself (producer side) and to
  `kinesis.maxFetchRecordsPerShard` / micro-batch sizing.

The option KEY names follow the public connector docs: elasticsearch-
hadoop (`es.*`, format ``org.elasticsearch.spark.sql``), its OpenSearch
fork opensearch-hadoop (`opensearch.*`, format
``org.opensearch.spark.sql``), and the AWS Labs Structured Streaming
connector (format ``aws-kinesis``, options ``kinesis.*``).  Pin the
connector artifact for your Spark/Scala build (e.g.
``org.opensearch.client:opensearch-spark-30_2.12``) — `PACKAGES` lists
the coordinates to verify against the release you deploy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from .streaming.sink import DEFAULT_FLUSH_BYTES

# the reference's measured operating envelope (BASELINE.md); the bulk
# flush threshold is the in-repo sink's (main.go:46 flushBytes)
FLUSH_INTERVAL_SECS = 5  # main.go:436 FlushInterval
SINK_WORKERS = 3  # main.go:45 numWorkers
RETRY_COUNT = 6  # exponential backoff envelope (main.go:402-409)
RETRY_WAIT_SECS = 10  # base wait between bulk retries

# Maven coordinate TEMPLATES for spark-submit --packages.  This sandbox
# has no network, so these are transcribed from the connectors' public
# docs, NOT resolved against Maven Central — verify groupId:artifactId
# AND version against the connector release notes for your Spark/Scala
# build before deploying (spark_submit_line() repeats this warning).
PACKAGES = {
    "opensearch": "org.opensearch.client:opensearch-spark-30_2.12:1.2.0",
    "elasticsearch": "org.elasticsearch:elasticsearch-spark-30_2.12:8.13.4",
    # AWS Labs repo github.com/awslabs/spark-sql-kinesis-connector; its
    # README's --packages line uses the longer artifactId below — if
    # resolution fails, check the repo for the artifactId it publishes
    "kinesis": "software.amazon.kinesis:spark-streaming-sql-kinesis-connector_2.12:1.0.0",
}


def opensearch_sink_options(
    nodes: str,
    index: str,
    dialect: str = "opensearch",
    doc_id_col: str | None = "doc_id",
    username: str | None = None,
    password_env: str | None = None,
    wan_only: bool = True,
) -> dict[str, str]:
    """Bulk-sink options carrying the reference envelope.

    ``password_env`` names an ENVIRONMENT VARIABLE to read at submit
    time — the secret itself never lands in a config dict or log (the
    reference reads OPENSEARCH_PASSWORD the same way, `main.go:390`).
    """
    if dialect not in ("opensearch", "elasticsearch"):
        raise ValueError(f"dialect must be opensearch|elasticsearch: {dialect!r}")
    p = "opensearch" if dialect == "opensearch" else "es"
    opts = {
        f"{p}.nodes": nodes,
        f"{p}.resource": index,
        f"{p}.batch.size.bytes": str(DEFAULT_FLUSH_BYTES),
        f"{p}.batch.write.retry.count": str(RETRY_COUNT),
        f"{p}.batch.write.retry.wait": f"{RETRY_WAIT_SECS}s",
        # serverless/managed endpoints sit behind a load balancer: client
        # must not discover data nodes
        f"{p}.nodes.wan.only": "true" if wan_only else "false",
        # the reference's recursive null-scrub at the sink boundary
        # (processor.go drop-nulls) = don't index null fields
        f"{p}.spark.dataframe.write.null": "false",
    }
    if doc_id_col:
        # idempotent indexing: replays overwrite instead of duplicating —
        # the at-least-once upstream contract needs this
        opts[f"{p}.mapping.id"] = doc_id_col
    if username:
        opts[f"{p}.net.http.auth.user"] = username
    if password_env:
        import os

        pw = os.environ.get(password_env)
        if pw:
            opts[f"{p}.net.http.auth.pass"] = pw
    return opts


def opensearch_writestream(
    df: DataFrame,
    nodes: str,
    index: str,
    checkpoint: str,
    dialect: str = "opensearch",
    **kw,
) -> DataStreamWriter:
    """Configured (NOT started) writeStream: bulk format, envelope
    options, the reference's 5 s flush cadence as the processing trigger,
    and sink parallelism matched to the 3-worker bulk indexer.  Caller
    `.start()`s it where the connector jar and the cluster exist."""
    fmt = (
        "org.opensearch.spark.sql"
        if dialect == "opensearch"
        else "org.elasticsearch.spark.sql"
    )
    return (
        df.repartition(SINK_WORKERS)
        .writeStream.format(fmt)
        .options(**opensearch_sink_options(nodes, index, dialect=dialect, **kw))
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{FLUSH_INTERVAL_SECS} seconds")
        .outputMode("append")
    )


def kinesis_source_options(
    stream_name: str,
    region: str,
    starting_position: str = "TRIM_HORIZON",
    endpoint_url: str | None = None,
    consumer_type: str = "GetRecords",
) -> dict[str, str]:
    """Source options for the AWS Labs Structured Streaming Kinesis
    connector (format ``aws-kinesis``).  TRIM_HORIZON by default: the
    reference's upstream keeps a 300 s redelivery window + full S3
    backup, i.e. the pipeline is built to replay — a LATEST default
    would silently drop the backlog on first deploy."""
    opts = {
        "kinesis.streamName": stream_name,
        "kinesis.region": region,
        "kinesis.consumerType": consumer_type,
        "kinesis.startingPosition": starting_position,
        # fail loudly if shards expired past the retention window instead
        # of skipping data (the reference's at-least-once posture)
        "kinesis.failOnDataLoss": "true",
    }
    if endpoint_url:
        opts["kinesis.endpointUrl"] = endpoint_url
    return opts


def kinesis_readstream(spark, stream_name: str, region: str, **kw):
    """Configured (NOT loaded) readStream builder.  `.load()` requires
    the connector jar + AWS credentials; everything up to that point is
    plain configuration and is what this returns."""
    return spark.readStream.format("aws-kinesis").options(
        **kinesis_source_options(stream_name, region, **kw)
    )


def spark_submit_line(
    dialect: str = "opensearch", with_kinesis: bool = True
) -> str:
    """The --packages fragment for spark-submit, from PACKAGES.

    The coordinates are unresolved TEMPLATES (no network in this
    sandbox): confirm each against Maven Central / the connector repo
    for your Spark + Scala build before submitting."""
    pkgs = [PACKAGES[dialect]]
    if with_kinesis:
        pkgs.append(PACKAGES["kinesis"])
    return "--packages " + ",".join(pkgs)
