"""Decode core (SURVEY §2 A8-A15): the reference's record dataflow
``splitRecords`` (main.go:456-543) as a declarative DataFrame chain:

    explode(records) → unbase64 → gunzip (pandas UDF) → from_json(payload)
    → explode(logEvents) → json-or-text message fallback → epoch-ms → UTC ts
    → restructure into the Document shape (outgoing/elasticOutput.go:12-35)

Design deviations from the reference (documented, deliberate):

- **Per-record dead-letter instead of fail-the-batch.**  The reference 500s
  the whole HTTP request on the first bad record (main.go:463-488); here a
  bad record yields NULLs + an ``error_message`` column (the same pattern as
  the ingest pipelines' per-document ``on_failure`` trap,
  ingest/axway-ingest.json:145-152) so one poison record can't stall a
  100 TB replay.
- **Kept-distinct timestamps**: ``timestamp`` (envelope/request time,
  main.go:515) vs ``record.data.logEvents.timestamp`` (event time,
  main.go:524-526) — event time is the watermark column downstream.

Operator-placement note for Catalyst: the gunzip UDF is nondeterministic to
the optimizer, so cheap envelope-level filters must be applied *before*
calling :func:`decode_envelopes` — Catalyst will not push a filter through
the UDF (SURVEY §4).

The oracle-checked queries below exercise each primitive on data
synthesized in-query from the driver testdata tables, so DuckDB can run the
identical logic; the full chain (gzip involved) is rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.gzip_udf import gunzip_text, gzip_bytes
from ..schemas import CLOUDWATCH_PAYLOAD


# --------------------------------------------------------------------------
# Library transforms (pure DataFrame -> DataFrame)
# --------------------------------------------------------------------------

_B64_SHAPE = "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"


def safe_unbase64(col: str) -> str:
    """SQL text of a NULL-on-invalid base64 decode of the expression
    ``col``.  Spark's ``unbase64`` *throws* on malformed input
    (``IllegalArgumentException: Last unit does not have enough valid
    bits``), which would fail the whole batch — the reference behavior
    (main.go:463-470) we deliberately improve on.  Guard with a strict
    RFC-4648 shape check (padding required, like Go's StdEncoding) so bad
    records dead-letter instead."""
    clean = rf"regexp_replace({col}, '\\s', '')"
    return f"CASE WHEN {col} IS NOT NULL AND {clean} RLIKE '{_B64_SHAPE}' THEN unbase64({clean}) END"


def message_json_or_text(col: str) -> str:
    """SQL text of A12 (main.go:494-510) over the expression ``col``: keep a
    valid-JSON message verbatim, else wrap the raw text as
    ``{"text": "<message>"}``."""
    return (
        f"CASE WHEN get_json_object({col}, '$') IS NOT NULL THEN {col} "
        f"ELSE to_json(named_struct('text', {col})) END"
    )


# decode_envelopes as constant SQL text, built once at import: the chain
# runs once per streaming query, and parsing text is cheaper for the driver
# than composing the same plan from Column objects.  Only the gunzip (a
# pandas UDF, no SQL name) stays a Column, between _RAW and _PAYLOAD.
_RECORDS = ("requestId", "timestamp AS _req_ms", "explode(records) AS _rec")   # one row per record
_RAW = ("requestId", "_req_ms", f"{safe_unbase64('_rec.data')} AS _raw")        # A8
_PAYLOAD = (                                                                     # A10
    "requestId", "_req_ms", "_raw", "_payload_json",
    f"from_json(_payload_json, '{CLOUDWATCH_PAYLOAD.simpleString()}') AS _payload",
)
# Materialize payload scalars + the per-record error BEFORE the explode.
# Leaving `_payload` unexpanded here makes every post-explode row (one per
# logEvent) re-run from_json(gunzip(...)) on the full multi-KB payload —
# measured 115s vs ~2s at sf0.1.  One row per *record* is the right place
# to pay for parse; the explode then carries small scalars.
_PARSED = (
    "requestId", "_req_ms",
    "_payload.messageType AS _messageType",
    "_payload.owner AS _owner",
    "_payload.logGroup AS _logGroup",
    "_payload.logStream AS _logStream",
    "_payload.subscriptionFilters AS _subscriptionFilters",
    "_payload.logEvents AS _logEvents",
    "CASE WHEN _raw IS NULL THEN 'base64 decode failed'"
    " WHEN _payload_json IS NULL THEN 'gzip decompress failed'"
    " WHEN _payload IS NULL OR get_json_object(_payload_json, '$') IS NULL THEN 'json parse failed'"
    " ELSE CAST(NULL AS STRING) END AS _record_error",
)
_EVENTS = (
    "requestId", "_req_ms", "_messageType", "_owner", "_logGroup", "_logStream",
    "_subscriptionFilters", "_record_error",
    "explode_outer(_logEvents) AS _ev",                                          # A11
)
_DOCUMENTS = (
    "requestId",
    "timestamp_millis(_req_ms) AS `timestamp`",                                  # A13 (@timestamp)
    "named_struct('data', named_struct("                                         # A14 restructure
    "'messageType', _messageType, 'owner', _owner, 'logGroup', _logGroup,"
    " 'logStream', _logStream, 'subscriptionFilters', _subscriptionFilters,"
    " 'logEvents', named_struct('id', _ev.id,"
    " 'timestamp', timestamp_millis(_ev.`timestamp`),"                           # A13 event time
    f" 'message', CASE WHEN _ev.message IS NOT NULL THEN {message_json_or_text('_ev.message')} END)"
    ")) AS record",
    "coalesce(_record_error, CASE WHEN _ev IS NULL THEN 'no logEvents' END) AS error_message",
)


def decode_envelopes(env_df: DataFrame) -> DataFrame:
    """A8-A14: Firehose envelopes → flattened documents (one row per
    record x logEvent, the cardinality rule of main.go:492 /
    outgoing/elasticOutput.go:8-11).

    Input schema: FIREHOSE_ENVELOPE (requestId, timestamp epoch-ms,
    records array<struct<data:string>>).  Output: one row per logEvent with
    the Document nesting plus an ``error_message`` dead-letter column.
    """
    raw = env_df.selectExpr(*_RECORDS).selectExpr(*_RAW)
    staged = raw.withColumn("_payload_json", gunzip_text(F.col("_raw")))        # A9
    return (
        staged.selectExpr(*_PAYLOAD)
        .selectExpr(*_PARSED)
        .selectExpr(*_EVENTS)
        .selectExpr(*_DOCUMENTS)
    )


def build_envelopes(spark: SparkSession, sf_dir: str, records_per_envelope: int = 10) -> DataFrame:
    """Synthesize deterministic Firehose envelopes from the events table
    (wire format of main.go:236-247): each event becomes one logEvent whose
    message is its ``props`` JSON (or plain text for every 3rd event, to
    exercise the A12 fallback); events are grouped ``records_per_envelope``
    per envelope; each record's data is base64(gzip(payload JSON)).
    """
    e = load(spark, sf_dir, "events")
    ev = e.select(
        (F.col("event_id") % 50).alias("_env"),
        F.struct(
            F.col("event_id").cast("string").alias("id"),
            F.unix_millis("ts").alias("timestamp"),
            F.when(F.col("event_id") % 3 == 0, F.concat(F.lit("plain text event "), F.col("event_id")))
            .otherwise(F.col("props"))
            .alias("message"),
        ).alias("ev"),
        (F.col("event_id") % records_per_envelope).alias("_rec_in_env"),
    )
    payloads = ev.groupBy("_env", "_rec_in_env").agg(
        F.to_json(
            F.struct(
                F.lit("DATA_MESSAGE").alias("messageType"),
                F.lit("111111111111").alias("owner"),
                F.concat(F.lit("/aws/app/group-"), F.col("_env")).alias("logGroup"),
                F.lit("stream-0").alias("logStream"),
                F.array(F.lit("all")).alias("subscriptionFilters"),
                F.sort_array(F.collect_list("ev")).alias("logEvents"),
            )
        ).alias("payload_json")
    )
    return (
        payloads.withColumn("data", F.base64(gzip_bytes(F.col("payload_json"))))
        .groupBy("_env")
        .agg(
            F.concat(F.lit("req-"), F.col("_env")).alias("requestId"),
            F.lit(1635622518652).alias("timestamp"),
            F.sort_array(F.collect_list(F.struct(F.col("data").alias("data")))).alias("records"),
        )
        .select("requestId", "timestamp", "records")
    )


# --------------------------------------------------------------------------
# Oracle-checked queries (each primitive, DuckDB-expressible)
# --------------------------------------------------------------------------

def q_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: base64 encode/decode roundtrip (reference decodes record.Data at
    main.go:463-470)."""
    e = load(spark, sf_dir, "events")
    b64 = F.base64(F.col("props").cast("binary"))
    return e.select(
        "event_id",
        b64.alias("b64"),
        F.unbase64(b64).cast("string").alias("roundtrip"),
    )


def q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: fixed-schema JSON parse (from_json ≙ json.Unmarshal at
    main.go:480-488)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.from_json("props", "k BIGINT").getField("k").alias("k_parsed"),
    )


def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: array explode — cardinality rule 'one row per element'
    (main.go:492, outgoing/elasticOutput.go:8-11)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.explode(F.array(F.col("event_id") * 10 + 1, F.col("event_id") * 10 + 2)).alias("item"),
    )


def q_json_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: json-or-text message fallback (main.go:494-510): valid JSON
    passes through verbatim, anything else becomes {"text": ...}; the
    same SQL text as the decode chain's."""
    e = load(spark, sf_dir, "events")
    msg = F.when(F.col("event_id") % 3 == 0, F.concat(F.lit("plain text event "), F.col("event_id"))).otherwise(
        F.col("props")
    )
    return e.select("event_id", msg.alias("message_in")).select(
        "event_id",
        "message_in",
        F.expr(message_json_or_text("message_in")).alias("message_out"),
    )


def q_epoch_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: epoch-ms ↔ UTC timestamp conversions (time.UnixMilli().UTC()
    at main.go:515,526; session TZ pinned to UTC)."""
    e = load(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    return e.select(
        "event_id",
        ms.alias("epoch_ms"),
        F.timestamp_millis(ms).alias("ts_roundtrip"),
    )


def q_restructure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14+A24: build the nested Document shape (main.go:513-531) and
    serialize it; event.created-style copy of the envelope timestamp is
    kept as a separate column (ingest/axway-ingest.json:68-73)."""
    e = load(spark, sf_dir, "events")
    doc = F.struct(
        F.concat(F.lit("req-"), (F.col("event_id") % 50).cast("string")).alias("requestId"),
        F.struct(
            F.col("event_type").alias("messageType"),
            F.col("user_id").alias("owner"),
            F.struct(
                F.col("event_id").cast("string").alias("id"),
                F.col("props").alias("message"),
            ).alias("logEvents"),
        ).alias("data"),
    )
    return e.select(
        "event_id",
        F.to_json(doc).alias("doc_json"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_created"),
    )


def q_firehose_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A8-A15 end-to-end, ORACLE-CHECKED: synthesize envelopes from
    events, run the full decode chain (unbase64 → gunzip pandas UDF →
    from_json → explode → json-or-text fallback → restructure), and prove
    the cardinality contract: one output row per logEvent, all decoded.

    DuckDB cannot gunzip — but it doesn't need to: the fixture is built
    deterministically FROM the events table, so the base64+gzip roundtrip
    cancels out and the oracle predicts the entire flattened output from
    first principles (requestId/logGroup from event_id % 50, the envelope
    constant @timestamp, the ms-truncated event time, the json-or-text
    wrapped message).  Any corruption anywhere in the decode chain
    changes a value and fails the hash."""
    env = build_envelopes(spark, sf_dir)
    docs = decode_envelopes(env)
    return docs.select(
        "requestId",
        "timestamp",
        F.col("record.data.logGroup").alias("logGroup"),
        F.col("record.data.logEvents.id").alias("event_id"),
        F.col("record.data.logEvents.timestamp").alias("event_ts"),
        F.col("record.data.logEvents.message").alias("message"),
        "error_message",
    )


def q_udf_gunzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9, oracle-checked via the est_ok pattern: the compressed bytes are
    engine-local (zlib impl/level), but the CONTRACT is not — gunzip
    inverts gzip for every document, malformed input dead-letters to NULL
    (never throws), and the compressed size stays inside a sane band
    (non-empty, < input + gzip overhead; a pass-through or
    double-compressing UDF trips it).  The oracle expects one all-TRUE
    row per document."""
    d = load(spark, sf_dir, "documents")
    gz = gzip_bytes(F.col("text"))
    gz_len = F.length(gz)
    return d.select(
        "doc_id",
        (gunzip_text(gz) == F.col("text")).alias("roundtrip_ok"),
        gunzip_text(F.col("text").cast("binary")).isNull().alias("malformed_is_null"),
        ((gz_len > 0) & (gz_len <= F.length("text") + 64)).alias("gz_len_sane"),
    )


_SPOOL_FIXTURE_DIR = os.path.normpath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "fixtures", "spool")
)


def q_spool_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B85 oracle-checked: the custom Python DataSource (A1's spool/backup
    surface, ``sources/spool_source.py``; reference semantics
    main.go:463-488) reads the COMMITTED fixture spool
    (``fixtures/spool/*.jsonl``, regenerate with
    ``tools/gen_spool_fixture.py``) via ``format("firehose_spool")`` and
    flattens each envelope to its delivery accounting: record count and
    total decoded payload bytes.  The oracle reads the SAME committed
    files with DuckDB ``read_json`` — connector partition planning,
    schema binding, and per-record base64 all under the hash gate
    (pytest keeps covering the malformed-line and incremental-stream
    legs, which typed read_json cannot express).

    The fixture is input-complete (sf-independent): the query exercises
    the connector, not the tables."""
    from ..sources.spool_source import FirehoseSpoolDataSource

    try:
        spark.dataSource.register(FirehoseSpoolDataSource)
    except Exception:
        pass  # already registered in this session
    env = (
        spark.read.format("firehose_spool")
        .option("path", _SPOOL_FIXTURE_DIR)
        .load()
    )
    decoded_bytes = F.aggregate(
        "records",
        F.lit(0).cast("long"),
        lambda acc, r: acc + F.octet_length(F.unbase64(r["data"])),
    )
    return env.select(
        "requestId",
        F.timestamp_millis(F.col("timestamp")).alias("ts_utc"),
        F.coalesce(F.size("records"), F.lit(0)).cast("long").alias("n_records"),
        F.coalesce(decoded_bytes, F.lit(0).cast("long")).alias("decoded_bytes"),
    )


_CSV_FIXTURE = os.path.normpath(
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..",
        "fixtures",
        "csv",
        "orders_extract.csv",
    )
)


def q_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B95: CSV source surface, oracle-checked on a COMMITTED fixture
    (``fixtures/csv/orders_extract.csv``, regenerate with
    ``tools/gen_csv_fixture.py``) that concentrates the RFC-4180 edge
    cases where parsers disagree: quoted delimiters, ``""`` escapes,
    embedded newlines (→ ``multiLine``), empty fields, negative and
    empty numerics.  Spark's default escape is backslash, so RFC-4180
    requires ``escape='"'`` explicitly — exactly the kind of silent
    misparse the hash gate exists to catch.  Empty-string-vs-NULL is the
    one genuinely engine-ambiguous cell, so both sides normalize through
    ``nullif(x, '')``.

    Scale note: the CSV reader is a splittable file scan like parquet
    minus pushdown/pruning (multiLine forces one-file-per-task); the
    production posture is CSV at the EDGE, converted once to parquet
    (``layout.write_partitioned_sorted``) before heavy queries.
    Malformed-row tolerance (PERMISSIVE + ``_corrupt_record``) is
    pytest-only — typed ``read_csv`` has no corrupt-record equivalent."""
    df = (
        spark.read.schema(
            "id bigint, customer string, note string, qty bigint, price double"
        )
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(_CSV_FIXTURE)
    )
    return df.select(
        "id",
        F.nullif(F.col("customer"), F.lit("")).alias("customer"),
        F.nullif(F.col("note"), F.lit("")).alias("note"),
        "qty",
        "price",
    )


_BLOB_FIXTURE_DIR = os.path.normpath(
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "fixtures", "blobs"
    )
)


def q_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B104: the ``binaryFile`` source surface — the ingest path for
    opaque multimodal payloads (B42's data model: asset bytes as a
    ``binary`` column + typed metadata, decode behind a Pandas UDF).
    Reads the COMMITTED fixture blobs (``fixtures/blobs/``, regenerate
    with ``tools/gen_blob_fixture.py``) and emits name, exact length,
    magic sniff (the A3 content-sniff discipline applied to files), and
    a content digest.

    Cross-engine digest: Spark's ``md5`` accepts binary but DuckDB 1.0's
    only takes VARCHAR, so both sides digest the UPPERCASE HEX of the
    bytes (``md5(hex(content))``) — byte-identical input strings by
    construction.

    Scale shape: binaryFile is a splittable listing scan (one task per
    file up to ``maxPartitionBytes``); payload bytes never shuffle — the
    projection reduces to (name, length, digest) before any exchange."""
    df = spark.read.format("binaryFile").load(_BLOB_FIXTURE_DIR + "/*.bin")
    name = F.element_at(F.split("path", "/"), -1)
    # magic sniff on the hex string — BLOB slicing is not portable
    # (DuckDB 1.0 can't subscript blobs), hex prefixes are; the literal
    # is the module-level _BLOB_MAGIC_HEX shared with the oracle SQL
    return df.select(
        name.alias("name"),
        F.col("length").cast("long").alias("n_bytes"),
        (F.substring(F.hex("content"), 1, 16) == F.lit(_BLOB_MAGIC_HEX)).alias(
            "magic_ok"
        ),
        F.md5(F.hex("content")).alias("content_md5"),
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B105: the ORC format surface (Spark's second native columnar
    format — the interchange format of the Hive/Trino world): events
    rows are written to ORC and read back, and the per-type aggregate of
    the roundtripped data must hash-equal DuckDB's aggregate of the
    ORIGINAL parquet — any loss in the ORC writer/reader (timestamp
    semantics, double payloads, nulls) breaks the hash.

    Values stay exact through the doctrine: micro-unit BIGINT sums and
    µs-precision timestamp extrema (UTC session both engines).  The
    write targets a tempdir and the result is localCheckpoint-ed before
    cleanup."""
    import shutil
    import tempfile

    e = load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v_micro"),
    )
    work = tempfile.mkdtemp(prefix="k2e_orc_")
    try:
        path = os.path.join(work, "events_orc")
        e.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        out = (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("v_micro").cast("long").alias("sum_v_micro"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
                F.countDistinct("event_id").cast("long").alias("n_ids"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B113: the JSONL (newline-delimited JSON) format surface — the
    lingua franca of LLM training-corpus interchange (every public corpus
    release and most data-loader stacks speak it).  Documents are
    serialized with ``to_json(struct(...))`` over Spark's text sink and
    read back with an EXPLICIT schema — ``spark.read.json`` without one
    schema-infers with a full extra pass over 100 TB, so inference is
    banned here by construction — and the per-(lang, source) aggregate of
    the roundtripped rows must hash-equal DuckDB's aggregate of the
    ORIGINAL parquet.

    The checksum column pins CONTENT, not just counts: an exact BIGINT
    sum of each text's 32-bit md5 prefix, so any loss in the JSON
    writer/reader pair — escaping (documents embed quotes/whitespace),
    unicode round-tripping, null vs empty-string conflation, line
    splitting on text containing escaped newlines — flips the hash.
    Scale shape: the sink is an embarrassingly parallel per-partition
    write (no shuffle), the read-back scan splits on newlines exactly
    like a production JSONL lake, and the aggregate is one
    map-combinable groupBy with ≤ |lang×source| rows out."""
    import shutil
    import tempfile

    d = load(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="k2e_jsonl_")
    try:
        path = os.path.join(work, "documents_jsonl")
        d.select(
            F.to_json(
                F.struct("doc_id", "text", "lang", "source", "n_chars")
            ).alias("value")
        ).write.mode("overwrite").text(path)
        back = spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        ).json(path)
        out = (
            back.groupBy("lang", "source")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("doc_id").cast("long").alias("n_ids"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.sum(
                    F.conv(
                        F.substring(F.md5(F.col("text").cast("binary")), 1, 8),
                        16,
                        10,
                    ).cast("long")
                )
                .cast("long")
                .alias("text_checksum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B129: the Spark 4 VARIANT semi-structured surface — ``parse_json``
    into the binary Variant encoding + typed ``variant_get`` extraction,
    the engine-native path that replaces string-JSON ``get_json_object``
    probing (B22's shape) for open-schema columns: Variant parses once
    into a shredded binary form and every subsequent field access is a
    binary walk, not a re-parse — the difference between O(fields) and
    O(fields × accesses) string scans on a 100-TB props column.

    The extraction (`$.k` as long), a missing-path probe
    (``try_variant_get`` of `$.absent` must be null, not an error), and
    the variant-null check all feed one map-combinable per-type
    aggregate whose exact counts/sums must hash-equal DuckDB's plain
    JSON reading of the same column — proving the binary round-trip is
    lossless for the typed access."""
    e = load(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "long")
    absent = F.try_variant_get(v, "$.absent", "string")
    return (
        e.select("event_type", k.alias("k"), absent.alias("a"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count("k").cast("long").alias("n_k_present"),
            F.sum(F.col("a").isNull().cast("long")).alias("n_absent_null"),
        )
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B120: schema evolution on read (``mergeSchema``) — what a
    long-lived 100-TB parquet table looks like after a column is added
    mid-life: old files lack the column, new files carry it, and ONE
    scan must read both vintages with the union schema (old rows null).

    Fixture: documents split by ``doc_id % 2`` into an old-vintage file
    set (doc_id, lang, n_chars) and a new-vintage set that adds a
    derived ``quality_tag`` column; both land in one table directory.
    Read back two ways and cross-checked:
    - ``mergeSchema=true`` (footer-union inference — correct but pays a
      footer read per file, so production pins the schema instead);
    - the EXPLICIT union schema (the 100-TB path: no footer pass; parquet
      fills missing columns with null by name).
    ``paths_agree_ok`` flags the two scans agreeing row-for-row (via
    exact per-lang aggregate comparison); hashed columns are the
    per-lang counts of old/new-vintage rows and tagged rows, which the
    oracle recomputes from the original parquet with the same %2 rule —
    a reader that drops the evolved column, misaligns by position, or
    nulls the wrong vintage flips them."""
    import shutil
    import tempfile

    d = load(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="k2e_schevo_")
    try:
        table = os.path.join(work, "table")
        old = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
        new = d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(F.col("n_chars") > 500, "long").otherwise("short").alias(
                "quality_tag"
            ),
        )
        old.write.parquet(os.path.join(table, "vintage=old"))
        new.write.parquet(os.path.join(table, "vintage=new"))
        union_schema = "doc_id long, lang string, n_chars long, quality_tag string"

        def agg(df):
            return df.groupBy("lang").agg(
                F.count("*").cast("long").alias("n"),
                F.sum((F.col("doc_id") % 2 == 0).cast("long")).alias("n_old_vintage"),
                F.sum(F.col("quality_tag").isNotNull().cast("long")).alias(
                    "n_tagged"
                ),
                F.sum((F.col("quality_tag") == "long").cast("long")).alias(
                    "n_tag_long"
                ),
            )

        merged = agg(
            spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true")
            .parquet(table)
        ).localCheckpoint(eager=True)
        pinned = agg(
            spark.read.schema(union_schema)
            .option("recursiveFileLookup", "true")
            .parquet(table)
        ).localCheckpoint(eager=True)
        agree = (
            merged.exceptAll(pinned).isEmpty() and pinned.exceptAll(merged).isEmpty()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return merged.withColumn("paths_agree_ok", F.lit(bool(agree)))


N_LINEAGE_FILES = 4


def q_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B109: the hidden ``_metadata`` file-source columns — Spark's
    row-level provenance surface (``_metadata.file_name`` /
    ``row_index``), what a 100-TB pipeline uses to stamp lineage ids
    (file + offset) onto every ingested row without any shuffle: the
    metadata struct is produced by the scan itself.

    Events are chopped into ``N_LINEAGE_FILES`` contiguous dense
    event_id ranges and each range written sorted as its OWN parquet
    file — the shape a real 100-TB scan produces (row_index restarts at
    0 per file; a single-file fixture, the r7 version, never exercises
    that restart).  Read back selecting ``_metadata.row_index`` /
    ``file_name`` and checked three ways (r8, VERDICT #6):
    - hashed columns: per event_type, exact count + BIGINT sum of the
      GLOBAL position reconstructed as (per-file id-rank base + scan
      row_index) — equal to DuckDB's ``sum(event_id - min)`` only if
      every file's row indexes are right;
    - ``n_files`` (hashed): distinct files contributing rows per
      event_type — DuckDB recomputes the range assignment
      ``((event_id - min) * N) // n`` arithmetically, so a collapsed
      single-file write (or a dropped file) mismatches;
    - ``lineage_ok`` (engine-local flag): EVERY row's scan-produced
      row_index equals its event_id rank WITHIN its file (per-file min
      via a broadcast groupBy(file) join — no global-sort window; each
      file holds a contiguous dense id slice, so rank = id − file_min)
      — pinned row-by-row before aggregating, so one misplaced row
      flips the flag even if the sums happened to collide."""
    import shutil
    import tempfile

    e = load(spark, sf_dir, "events").select("event_id", "event_type")
    work = tempfile.mkdtemp(prefix="k2e_lineage_")
    try:
        path = os.path.join(work, "events_sorted")
        # test scaffolding (not the measured operator): two bounded scalars
        # drive the contiguous range chop; each range lands sorted in one file
        mn, n = e.agg(F.min("event_id").cast("long"), F.count("*")).first()
        mn, n = int(mn), int(n)
        # one scan, one shuffle: repartition by range index puts each dense
        # id slice in exactly one task → exactly one sorted file per slice
        e.withColumn(
            "fidx",
            F.expr(f"(event_id - {mn}) * {N_LINEAGE_FILES} div {n}"),
        ).repartition(N_LINEAGE_FILES, "fidx").sortWithinPartitions(
            "fidx", "event_id"
        ).write.mode("overwrite").partitionBy("fidx").parquet(path)
        back = spark.read.parquet(path).select(
            "event_id",
            "event_type",
            F.col("_metadata.row_index").alias("ri"),
            # file_path, not file_name: one task writing several partition
            # dirs reuses its part-file NAME across dirs — only the full
            # path is unique per physical file
            F.col("_metadata.file_path").alias("fn"),
        )
        file_mins = back.groupBy("fn").agg(
            F.min("event_id").cast("long").alias("file_min")
        )
        checked = back.join(F.broadcast(file_mins), "fn").withColumn(
            "ok", F.col("ri") == F.col("event_id") - F.col("file_min")
        )
        out = (
            checked.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("file_min") - F.lit(mn) + F.col("ri"))
                .cast("long")
                .alias("sum_row_index"),
                F.countDistinct("fn").cast("long").alias("n_files"),
                (
                    F.min(F.col("ok").cast("int")) == 1
                ).alias("lineage_ok"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out




XML_SLICE_MOD = 101


def q_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B212: native XML source AND sink (Spark 4's built-in
    ``format("xml")`` — previously the external spark-xml package),
    round-tripped: the o_orderkey%101 slice becomes nested documents
    via the XML WRITER (``rootTag``/``rowTag``, ``_``-prefixed struct
    fields emitted as ATTRIBUTES — each output file is one well-formed
    document; rootless row-tag streams are rejected by the reader,
    measured), then read back with ``rowTag`` + an EXPLICIT schema
    exercising the XML mappings that differ from JSON: attributes land
    as ``_name`` fields, repeated child elements nest as
    struct-of-array, element text round-trips numerics shortest-repr.

    The aggregate hashes per-status order counts, exact price cents,
    line counts and floored-qty sums — a mis-mapped attribute, dropped
    repeated element, or numeric re-parse drift flips the row.  DuckDB
    has no XML reader, so the oracle restates RELATIONALLY from
    orders x lineitem (the fixture is built from table columns, so the
    XML layer must be the identity — the q_variant doctrine).

    Scale note: XML is an EDGE format — the reader splits per FILE
    (each file one document), so ingest parallelism = file count; the
    posture is convert-once-to-parquet.  The writer side is file-per-
    partition, so generation is fully distributed."""
    import tempfile as _tf

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sl = o.filter(F.col("o_orderkey") % XML_SLICE_MOD == 0)
    lines = (
        li.join(
            sl.select(F.col("o_orderkey").alias("__k")),
            F.col("l_orderkey") == F.col("__k"),
            "left_semi",
        )
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("_n"),
                        F.col("l_quantity").alias("_qty"),
                    )
                )
            ).alias("line")
        )
    )
    docs = sl.join(lines, sl.o_orderkey == lines.l_orderkey).select(
        F.col("o_orderkey").alias("_id"),
        F.col("o_orderstatus").alias("_status"),
        F.col("o_totalprice").alias("price"),
        F.struct(F.col("line")).alias("lines"),
    )
    work = _tf.mkdtemp(prefix="k2e_xml_")
    try:
        (
            docs.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "orders")
            .option("rowTag", "order")
            .save(work)
        )
        xml = (
            spark.read.format("xml")
            .option("rowTag", "order")
            .schema(
                "_id bigint, _status string, price double, "
                "lines struct<line: array<struct<_n: bigint, _qty: double>>>"
            )
            .load(work)
        )
        out = (
            xml.groupBy(F.col("_status").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.sum(F.size("lines.line")).cast("long").alias("n_lines"),
                F.sum(
                    F.aggregate(
                        "lines.line",
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + F.floor(x["_qty"]).cast("long"),
                    )
                )
                .cast("long")
                .alias("qty_floor_sum"),
                F.min("_id").cast("long").alias("min_key"),
            )
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        import shutil as _sh

        _sh.rmtree(work, ignore_errors=True)
    return out


QUERIES = {
    "q_base64": q_base64,
    "q_binary_source": q_binary_source,
    "q_orc_roundtrip": q_orc_roundtrip,
    "q_jsonl_roundtrip": q_jsonl_roundtrip,
    "q_schema_evolution": q_schema_evolution,
    "q_variant_json": q_variant_json,
    "q_row_lineage": q_row_lineage,
    "q_json_parse": q_json_parse,
    "q_explode": q_explode,
    "q_json_fallback": q_json_fallback,
    "q_epoch_ts": q_epoch_ts,
    "q_restructure": q_restructure,
    "q_firehose_flatten": q_firehose_flatten,
    "q_udf_gunzip": q_udf_gunzip,
    "q_spool_flatten": q_spool_flatten,
    "q_csv_source": q_csv_source,
    "q_xml_source": q_xml_source,
}

ORACLE = {
    "q_base64": """
        SELECT event_id,
               to_base64(encode(props))                         AS b64,
               decode(from_base64(to_base64(encode(props))))    AS roundtrip
        FROM events
    """,
    "q_json_parse": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed
        FROM events
    """,
    "q_explode": """
        SELECT event_id, unnest([event_id * 10 + 1, event_id * 10 + 2]) AS item
        FROM events
    """,
    "q_json_fallback": """
        WITH m AS (
          SELECT event_id,
                 CASE WHEN event_id % 3 = 0 THEN concat('plain text event ', CAST(event_id AS VARCHAR))
                      ELSE props END AS message_in
          FROM events)
        SELECT event_id, message_in,
               CASE WHEN json_valid(message_in) THEN message_in
                    ELSE to_json(struct_pack(text := message_in)) END AS message_out
        FROM m
    """,
    "q_epoch_ts": """
        SELECT event_id,
               epoch_ms(ts)                        AS epoch_ms,
               make_timestamp(epoch_ms(ts) * 1000) AS ts_roundtrip
        FROM events
    """,
    "q_restructure": """
        SELECT event_id,
               to_json(struct_pack(
                   requestId := concat('req-', CAST(event_id % 50 AS VARCHAR)),
                   data := struct_pack(
                       messageType := event_type,
                       owner := user_id,
                       logEvents := struct_pack(
                           id := CAST(event_id AS VARCHAR),
                           message := props)))) AS doc_json,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_created
        FROM events
    """,
    # The decode chain's end-to-end output, predicted from first
    # principles: build_envelopes derives every envelope field from the
    # events table, so the oracle reconstructs the expected flattened rows
    # without ever gunzipping (the base64+gzip roundtrip cancels out).
    # The json-or-text wrapping mirrors the r1-green q_json_fallback
    # oracle (to_json(struct_pack(...)) matches Spark's to_json format).
    "q_firehose_flatten": """
        SELECT concat('req-', CAST(event_id % 50 AS VARCHAR)) AS requestId,
               make_timestamp(1635622518652 * 1000)           AS timestamp,
               concat('/aws/app/group-', CAST(event_id % 50 AS VARCHAR)) AS logGroup,
               CAST(event_id AS VARCHAR)                      AS event_id,
               make_timestamp(epoch_ms(ts) * 1000)            AS event_ts,
               CASE WHEN event_id % 3 = 0 THEN to_json(struct_pack(
                        text := concat('plain text event ', CAST(event_id AS VARCHAR))))
                    ELSE props END                            AS message,
               CAST(NULL AS VARCHAR)                          AS error_message
        FROM events
    """,
    "q_udf_gunzip": """
        SELECT doc_id, TRUE AS roundtrip_ok, TRUE AS malformed_is_null,
               TRUE AS gz_len_sane
        FROM documents
    """,
}

# Same committed fixture bytes the Spark DataSource reads — typed
# newline-delimited read_json, per-record base64 decoded with list_transform
ORACLE["q_spool_flatten"] = f"""
    SELECT requestId,
           make_timestamp("timestamp" * 1000) AS ts_utc,
           CAST(coalesce(len(records), 0) AS BIGINT) AS n_records,
           CAST(coalesce(list_sum(list_transform(
                   records, r -> octet_length(from_base64(r.data)))), 0) AS BIGINT)
             AS decoded_bytes
    FROM read_json('{_SPOOL_FIXTURE_DIR}/*.jsonl',
                   format='newline_delimited',
                   columns={{'requestId': 'VARCHAR',
                             'timestamp': 'BIGINT',
                             'records': 'STRUCT(data VARCHAR)[]'}})
"""

ORACLE["q_xml_source"] = f"""
    WITH sl AS (
        SELECT * FROM orders WHERE o_orderkey % {XML_SLICE_MOD} = 0
    ), la AS (
        SELECT l_orderkey, COUNT(*) AS n_lines,
               CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qf
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM sl)
        GROUP BY l_orderkey
    )
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(qf) AS BIGINT) AS qty_floor_sum,
           MIN(o_orderkey) AS min_key
    FROM sl JOIN la ON la.l_orderkey = sl.o_orderkey
    GROUP BY o_orderstatus
"""

ORACLE["q_csv_source"] = f"""
    SELECT id, nullif(customer, '') AS customer, nullif(note, '') AS note,
           qty, price
    FROM read_csv('{_CSV_FIXTURE}', header=true,
                  columns={{'id': 'BIGINT', 'customer': 'VARCHAR',
                            'note': 'VARCHAR', 'qty': 'BIGINT',
                            'price': 'DOUBLE'}})
"""

_BLOB_MAGIC_HEX = b"\x89FAKEIMG".hex().upper()

ORACLE["q_binary_source"] = f"""
    SELECT list_extract(string_split(filename, '/'), -1) AS name,
           CAST(size AS BIGINT) AS n_bytes,
           substr(hex(content), 1, 16) = '{_BLOB_MAGIC_HEX}' AS magic_ok,
           md5(hex(content)) AS content_md5
    FROM read_blob('{_BLOB_FIXTURE_DIR}/*.bin')
"""

ORACLE["q_orc_roundtrip"] = """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_v_micro,
           min(ts) AS min_ts,
           max(ts) AS max_ts,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events GROUP BY event_type
"""

from ..functions.hashing import md5_hex_sql as _md5_hex_sql

_MD5_HEX8 = _md5_hex_sql("text")

ORACLE["q_jsonl_roundtrip"] = f"""
    SELECT lang, source,
           count(*) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({_MD5_HEX8}) AS BIGINT) AS text_checksum
    FROM documents GROUP BY lang, source
"""

ORACLE["q_variant_json"] = """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(props->>'$.k') AS BIGINT) AS n_k_present,
           CAST(count(*) AS BIGINT) AS n_absent_null
    FROM events GROUP BY event_type
"""

ORACLE["q_schema_evolution"] = """
    SELECT lang,
           count(*) AS n,
           CAST(count(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS n_old_vintage,
           CAST(count(*) FILTER (doc_id % 2 = 1) AS BIGINT) AS n_tagged,
           CAST(count(*) FILTER (doc_id % 2 = 1 AND n_chars > 500) AS BIGINT)
             AS n_tag_long,
           TRUE AS paths_agree_ok
    FROM documents GROUP BY lang
"""

ROWS_ONLY: set[str] = set()

ORACLE["q_row_lineage"] = f"""
    WITH m AS (SELECT min(event_id) AS mn, count(*) AS n FROM events)
    SELECT event_type,
           count(*) AS n,
           CAST(sum(event_id - m.mn) AS BIGINT) AS sum_row_index,
           CAST(count(DISTINCT ((event_id - m.mn) * {N_LINEAGE_FILES}) // m.n)
                AS BIGINT) AS n_files,
           TRUE AS lineage_ok
    FROM events CROSS JOIN m
    GROUP BY event_type
"""
