"""Hidden partitioning with Iceberg-style transforms + spec evolution
(B173).

Hive-style partitioning (layout.py, B66/B79) makes the USER name the
partition column (`WHERE dt = '2024-01-01'`): forget the derived column
and the engine scans everything.  Iceberg's fix — implemented here on
the repo's own snapshot protocol — is HIDDEN partitioning: the table
declares a spec of (source_column, transform) pairs, the writer derives
partition values at commit time, and the reader prunes by mapping
predicates ON THE SOURCE COLUMN through the transforms.  A query says
``ts BETWEEN a AND b AND user_id = 7`` and the manifest prunes to the
day-partitions in range intersected with one hash bucket — the user
never sees a partition column.

Transforms (the Iceberg v1 set minus void): ``identity``,
``bucket[N]`` (md5-based — deterministic across engines and sessions,
per repo doctrine; Murmur3 would tie pruning to one engine's hash),
``truncate[W]`` (integer width-floor / string prefix), ``year``,
``month``, ``day``, ``hour`` (UTC calendar floors).

Spec EVOLUTION: each manifest entry records the spec its file was
written under plus that file's partition values, so a table re-specced
at v2 prunes v0 files by the OLD spec and v2 files by the new one in
the same read (Iceberg's per-spec split planning).  A file whose spec
cannot decide a predicate is scanned — pruning is an optimization,
never a semantics change (the B150 rule).  This module owns the
transforms and the partitioned writer; pruning and reading are the
scan core's (sources/scan.py), reached through the native manifest
resolver ``timetravel.snapshot_plan``.

Reference parity note: the reference (Go relay) has no partitioning
layer; this extends the repo's lakehouse (B138/B150/B152) the way a
100 TB event table is actually laid out: day × bucket.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .timetravel import (
    _list_data_files,
    _write_manifest,
    manifest_entries,
    prune_files,
    read_where,
    snapshot_versions,
)

_PT = "__pt_"  # derived-column prefix used only inside the write job

_TRANSFORM_RE = re.compile(r"^(identity|year|month|day|hour)$|^(bucket|truncate)\[(\d+)\]$")

_TIME_FMT = {
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}
_PY_TIME_FMT = {
    "year": "%Y",
    "month": "%Y-%m",
    "day": "%Y-%m-%d",
    "hour": "%Y-%m-%d-%H",
}


def _parse_transform(t: str) -> tuple[str, int | None]:
    m = _TRANSFORM_RE.match(t)
    if not m:
        raise ValueError(f"unknown partition transform {t!r}")
    if m.group(1):
        return m.group(1), None
    return m.group(2), int(m.group(3))


def _bucket_of(value, n: int) -> int:
    """Engine-independent bucket: md5 of the canonical string form.
    Matches the Spark-side expression in ``_transform_col`` exactly."""
    return int(hashlib.md5(str(value).encode("utf-8")).hexdigest()[:8], 16) % n


def _transform_col(df: DataFrame, col: str, t: str):
    """The Spark column computing a row's partition VALUE (as string —
    partition values live in paths and manifests)."""
    kind, arg = _parse_transform(t)
    c = F.col(col)
    if kind == "identity":
        return c.cast("string")
    if kind == "bucket":
        # md5(str(value)) first 8 hex chars -> int % N; cast long->string
        # matches python str(int) so _bucket_of agrees row-for-row
        return (
            F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % arg
        ).cast("string")
    if kind == "truncate":
        dt = dict(df.dtypes).get(col)
        if dt in ("tinyint", "smallint", "int", "bigint"):
            # floor-to-width with correct negative handling
            return F.expr(
                f"CAST(`{col}` - ((( `{col}` % {arg}) + {arg}) % {arg}) AS STRING)"
            )
        return F.substring(c, 1, arg)
    return F.date_format(F.date_trunc(kind, c), _TIME_FMT[kind])


def _transform_value(value, t: str):
    """Python-side transform of a PROBE value — must agree with
    ``_transform_col`` on every supported input type."""
    kind, arg = _parse_transform(t)
    if kind == "identity":
        return str(value)
    if kind == "bucket":
        return str(_bucket_of(value, arg))
    if kind == "truncate":
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            return None
        if isinstance(value, int):
            return str(value - ((value % arg) + arg) % arg)
        return value[:arg]
    if isinstance(value, str):
        value = _dt.datetime.fromisoformat(value)
    if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
        # a plain date probe (e.g. o_orderdate filters) floors the same
        # way midnight does — without this, date-typed predicates
        # silently never pruned (found building the Iceberg interop)
        value = _dt.datetime(value.year, value.month, value.day)
    if not isinstance(value, _dt.datetime):
        return None
    return value.strftime(_PY_TIME_FMT[kind])


def write_partitioned_layout(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    version: int,
    spec: list[tuple[str, str]],
    sort_within: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` under the hidden spec (one file group per partition
    tuple) and return the manifest ENTRIES — no manifest publish, so
    both ``commit_partitioned`` (append path) and
    ``timetravel.optimize_snapshot`` (rewrite path, r12 ADVICE: an
    OPTIMIZE of a hidden-partitioned table must re-derive
    partition_json, not silently drop pruning) share one layout writer.
    ``sort_within`` additionally sorts rows inside each partition's
    files (the optimize cluster_by leg)."""
    for col, t in spec:
        _parse_transform(t)  # validate early
        if col not in df.columns:
            raise ValueError(f"spec column {col!r} not in DataFrame")
    data_dir = os.path.join(table_dir, "data", f"c{int(version)}")
    derived = [
        _transform_col(df, col, t).alias(f"{_PT}{i}")
        for i, (col, t) in enumerate(spec)
    ]
    out = df.select("*", *derived).repartition(
        *[F.col(f"{_PT}{i}") for i in range(len(spec))]
    )
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    (
        out.write.mode("overwrite")
        .partitionBy(*[f"{_PT}{i}" for i in range(len(spec))])
        .parquet(data_dir)
    )
    spec_json = [[c, t] for c, t in spec]
    live: list[dict] = []
    for p in _list_data_files(data_dir):
        values = {}
        for i, (col, t) in enumerate(spec):
            m = re.search(rf"{_PT}{i}=([^/]+)/", p)
            if not m:
                raise ValueError(f"partition dir missing in {p}")
            # partitionBy URL-encodes; the derived values here are
            # digits/dates/prefixes, but unquote defensively
            from urllib.parse import unquote

            values[f"{col}:{t}"] = unquote(m.group(1))
        live.append(
            {
                "path": p,
                "kind": "data",
                "seq": int(version),
                "partition_json": json.dumps(
                    {"spec": spec_json, "values": values}, sort_keys=True
                ),
            }
        )
    return live


def commit_partitioned(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    version: int,
    spec: list[tuple[str, str]],
    carry_forward: bool = True,
) -> list[str]:
    """Commit ``df`` partitioned by the hidden spec: derive one column
    per (source_col, transform), write with ``partitionBy`` on the
    derived columns (one file group per partition tuple), parse each
    file's partition values back off its path, and record
    ``partition_json`` = {"spec": [...], "values": {...}} per manifest
    entry.  Carried-forward entries keep the partition_json THEY were
    written with — spec evolution needs no rewrite."""
    live = write_partitioned_layout(spark, table_dir, df, version, spec)
    if carry_forward:
        vs = [v for v in snapshot_versions(table_dir) if v < int(version)]
        if vs:
            live = manifest_entries(table_dir, vs[-1]) + live
    _write_manifest(table_dir, version, live)
    return [e["path"] for e in live]


def prune_partitions(
    table_dir: str, filters: list[tuple], version: int | None = None
) -> tuple[list[str], int]:
    """Manifest-rate hidden-partition pruning: keep files whose recorded
    partition values MAY satisfy every filter on SOURCE columns.  Files
    written under an older spec prune by that spec; a spec that cannot
    decide a filter (range op on a bucket, unknown transform) keeps the
    file.  The manifest resolver and pruner are the scan core's
    (``timetravel.prune_files``), so recorded stats prune too."""
    return prune_files(table_dir, filters, version)


def read_partitioned(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Read with hidden-partition pruning + the residual filter applied
    (pruning is an optimization, never a semantics change) — the scan
    core's ``timetravel.read_where``; the read schema is the data files'
    footer, so the derived partition columns never appear."""
    return read_where(spark, table_dir, filters, version)


def q_hidden_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B173 contract query: commit events hidden-partitioned by
    (day(ts), bucket[8](user_id)) — the canonical 100 TB event-table
    layout — then answer ``ts IN a 3-day window AND user_id = 7``
    WITHOUT naming any partition column.  The manifest must prune by
    BOTH transforms (day range + one hash bucket) and the surviving
    residual read must hash-equal DuckDB's restatement from the raw
    table.

    Flags pin that each transform pruned independently:
    ``day_pruned_ok`` (the ts filter alone drops files) and
    ``bucket_pruned_ok`` (adding the user filter drops MORE files) —
    a regression that silently stops pruning (spec dropped from the
    manifest, probe-transform drift vs write-transform) flips a flag
    even though the row values would still agree."""
    import datetime
    import shutil
    import tempfile

    from ..catalog import load

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    lo = datetime.datetime(2024, 1, 10, 0, 0, 0)
    hi = datetime.datetime(2024, 1, 12, 23, 59, 59)
    work = tempfile.mkdtemp(prefix="k2e_hiddenpart_")
    try:
        commit_partitioned(
            spark, work, e, 0, [("ts", "day"), ("user_id", "bucket[8]")]
        )
        f_ts = [("ts", "between", (lo, hi))]
        f_both = f_ts + [("user_id", "=", 7)]
        kept_ts, total = prune_partitions(work, f_ts)
        kept_both, _ = prune_partitions(work, f_both)
        df = read_partitioned(spark, work, f_both)
        agg = (
            df.groupBy(F.col("event_type").alias("etype"))
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long"))
                .cast("long")
                .alias("sum_milli"),
                F.min("event_id").cast("long").alias("min_event"),
                F.max("event_id").cast("long").alias("max_event"),
            )
            .withColumn("day_pruned_ok", F.lit(0 < len(kept_ts) < total))
            .withColumn(
                "bucket_pruned_ok", F.lit(0 < len(kept_both) < len(kept_ts))
            )
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


QUERIES = {"q_hidden_partition": q_hidden_partition}

ORACLE = {
    "q_hidden_partition": """
        SELECT event_type AS etype,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_milli,
               CAST(min(event_id) AS BIGINT) AS min_event,
               CAST(max(event_id) AS BIGINT) AS max_event,
               TRUE AS day_pruned_ok,
               TRUE AS bucket_pruned_ok
        FROM events
        WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                     AND TIMESTAMP '2024-01-12 23:59:59'
          AND user_id = 7
        GROUP BY event_type
    """,
}

ROWS_ONLY: set[str] = set()


def partitioned_ingest_writer(
    spark: SparkSession, table_dir: str, spec: list[tuple[str, str]]
):
    """Streaming hidden-partitioned ingest (B187): a foreachBatch body
    committing each micro-batch THROUGH ``commit_partitioned`` — the
    event-firehose-to-lakehouse landing path: every batch's files carry
    their (day, bucket, ...) partition values in the manifest, so
    ``read_partitioned`` prunes the accumulating table from the first
    batch on, with no compaction prerequisite.

    Versions derive from the batch id (the B126/B155 replay discipline):
    a replayed batch rewrites ITS OWN version's manifest and data dir
    deterministically (non-exclusive atomic-replace publish), so
    exactly-once lands structurally, not via sink transactions.  The
    replay contract is CRASH RECOVERY — re-running the LATEST batch
    after a failed attempt, the only replay Structured Streaming's
    checkpoint ever issues; reprocessing a HISTORICAL batch id after
    later versions carried its files forward would orphan those
    references (their manifests name the overwritten part files) and is
    out of contract, as in every version-by-batch-id writer here.  The
    batch frame is materialized before the write because the commit
    dirs may survive a failed prior attempt of the same batch (the
    matview_stream discipline)."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        commit_partitioned(
            spark,
            table_dir,
            batch_df.localCheckpoint(eager=True),
            int(batch_id),
            spec,
            carry_forward=True,
        )

    return fb
