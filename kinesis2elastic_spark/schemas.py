"""Fixed schemas for the Firehose → CloudWatch Logs → Document dataflow.

Mirrors the reference's three stage structs (SURVEY §1.1):

- FirehoseRequest{RequestID, Timestamp, Records[]}   (incoming/firehose.go:21-25)
- Data{MessageType, Owner, LogGroup, LogStream,
       SubscriptionFilters[], LogEvents[]}           (incoming/firehose.go:31-38)
- LogEvent{ID, Timestamp, Message}                   (incoming/firehose.go:40-44)
- Document{RequestID, @timestamp, Record.Data{..., LogEvent}}
                                                     (outgoing/elasticOutput.go:12-35)

``LogEvent.Message`` is deliberately dynamic (json.RawMessage in the
reference, outgoing/elasticOutput.go:34): we keep it as a JSON **string**
column and extract with get_json_object — forcing a schema would silently
drop unknown fields the reference preserves verbatim.
"""

from __future__ import annotations

from pyspark.sql import types as T


def sql_ident(name: str) -> str:
    """Backtick-quoted SQL identifier for a column name (flat dotted-path
    names, physical names with '-')."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value) -> str:
    """SQL literal of a Python value, typed as ``F.lit`` types it.
    Strings are escaped for Spark's default string-literal rules."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value) if -(2**31) <= value < 2**31 else f"{value}L"
    if isinstance(value, float):
        return f"{value!r}D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise ValueError(f"unsupported SQL literal: {value!r}")


# One logEvent inside a CloudWatch payload (incoming/firehose.go:40-44).
LOG_EVENT = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("timestamp", T.LongType()),  # epoch-ms (firehose.go:42)
        T.StructField("message", T.StringType()),  # arbitrary JSON or text
    ]
)

# The CloudWatch Logs payload carried (b64+gzip) in each record
# (incoming/firehose.go:31-38).
CLOUDWATCH_PAYLOAD = T.StructType(
    [
        T.StructField("messageType", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("logGroup", T.StringType()),
        T.StructField("logStream", T.StringType()),
        T.StructField("subscriptionFilters", T.ArrayType(T.StringType())),
        T.StructField("logEvents", T.ArrayType(LOG_EVENT)),
    ]
)

# The HTTP envelope: one request == one micro-batch (incoming/firehose.go:21-29,
# example JSON main.go:236-247).
FIREHOSE_ENVELOPE = T.StructType(
    [
        T.StructField("requestId", T.StringType()),
        T.StructField("timestamp", T.LongType()),  # epoch-ms (firehose.go:23)
        T.StructField(
            "records",
            T.ArrayType(T.StructType([T.StructField("data", T.StringType())])),
        ),
    ]
)

# Flattened output document, one per (record x logEvent)
# (outgoing/elasticOutput.go:12-35; flattening loop main.go:492-539).
DOCUMENT = T.StructType(
    [
        T.StructField("requestId", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),  # "@timestamp" = envelope time (main.go:515)
        T.StructField(
            "record",
            T.StructType(
                [
                    T.StructField(
                        "data",
                        T.StructType(
                            [
                                T.StructField("messageType", T.StringType()),
                                T.StructField("owner", T.StringType()),
                                T.StructField("logGroup", T.StringType()),
                                T.StructField("logStream", T.StringType()),
                                T.StructField("subscriptionFilters", T.ArrayType(T.StringType())),
                                T.StructField(
                                    "logEvents",
                                    T.StructType(
                                        [
                                            T.StructField("id", T.StringType()),
                                            # event time, kept distinct from @timestamp
                                            # (main.go:524-526 comment)
                                            T.StructField("timestamp", T.TimestampType()),
                                            T.StructField("message", T.StringType()),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    )
                ]
            ),
        ),
    ]
)
