"""Table loading helpers for the driver testdata star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

Scale note: at 100 TB these would be partitioned/ bucketed tables behind a
catalog; ``load`` keeps the read declarative (``spark.read.parquet``) so
Catalyst retains predicate pushdown, column pruning, and partition pruning.
Dimension tables (region/nation/supplier/part at TPC-H proportions) are small
enough to broadcast — ``dim`` marks them so joins skip the shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small-by-construction dimensions: safe to broadcast at any scale factor
# (region=5, nation=25 rows always; supplier/part grow slowly with sf).
BROADCAST_DIMS = {"region", "nation", "supplier"}


# Parquet columns physically stored as INT64 TIMESTAMP(NANOS), which Spark
# does not map to TimestampType natively: read them as raw longs
# (spark.sql.legacy.parquet.nanosAsLong) and convert ns -> us ourselves.
# Integer DIV (not /) keeps exactness — epoch-nanos exceed double's 53-bit
# mantissa, so a float division would corrupt the low microseconds.
#
# The column set is detected from the parquet FOOTER (pyarrow schema read —
# metadata only, no data scan), not hardcoded: the driver testdata has
# changed timestamp encodings between rounds before (round-2 postmortem),
# and a new ns-encoded column in any table would otherwise surface as a
# bigint and crash every chrono function downstream.
_NANO_COLS_CACHE: dict[str, tuple[str, ...]] = {}


def _nano_ts_cols(path: str) -> tuple[str, ...]:
    """Column names stored as timestamp[ns] per the parquet footer."""
    if path not in _NANO_COLS_CACHE:
        try:
            import glob as _glob

            import pyarrow.parquet as pq

            target = path
            if os.path.isdir(path):  # multi-file dataset: footer of any part
                parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
                if parts:
                    target = parts[0]
            schema = pq.read_schema(target)
            cols = tuple(
                f.name
                for f in schema
                if str(f.type).startswith("timestamp[ns")
            )
        except Exception:
            cols = ()
        _NANO_COLS_CACHE[path] = cols
    return _NANO_COLS_CACHE[path]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (session-TZ aware).

    The driver testdata has stored ``events.ts`` under several parquet
    encodings across rounds: INT64 TIMESTAMP(NANOS) (handled via
    ``nanosAsLong`` below) and plain ``timestamp[us]`` with no TZ annotation,
    which Spark reads as TIMESTAMP_NTZ.  Chrono functions like
    ``F.unix_micros`` accept only TIMESTAMP, so we normalize once at load.
    The session TZ is pinned UTC (session.py), making the cast a pure
    re-tag — identical microsecond values, no wall-clock shift — and it
    stays a metadata-only projection that Catalyst folds into the scan.
    """
    for cname, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return df


# Inferred-schema cache (r14, guide §1/§6): a schema-less
# ``spark.read.parquet`` runs a schema-inference Spark JOB on every call
# (measured 0.1-0.5 s each, even for a path read seconds earlier) — pure
# per-query overhead the bench pays ~150x across the headline set.  The
# first load of a path still uses Spark's own inference (so downstream
# semantics are bit-identical); repeats pass that schema explicitly, which
# skips the job entirely (measured: 0 jobs).  This is table METADATA, the
# thing a real catalog serves — not result caching (keyed on path+mtime so
# a rewritten fixture re-infers).
_SCHEMA_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (lazy; pushdown-friendly)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = (path, None)
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    for col in _nano_ts_cols(path):
        if col in df.columns and dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    return normalize_timestamps(df)


def read_parquet_footer(spark: SparkSession, *paths: str) -> DataFrame:
    """Explicit-schema parquet read for files THIS engine wrote: the
    schema comes from the first path's FOOTER (pyarrow, driver-side
    metadata — no cluster job) instead of Spark's schema-inference JOB,
    which costs 0.1-0.5 s per schema-less ``spark.read.parquet`` call
    (r14 measurement; the interop fixture builders paid it dozens of
    times per query).  Use only where all paths share one writer schema
    — exactly the single-commit / single-protocol file groups the
    snapshot and interop readers scan.  ``prefer_timestamp_ntz`` matches
    Spark 4's parquet inference default, so the resulting schema is the
    one inference would have produced."""
    return spark.read.schema(parquet_footer_schema(paths[0])).parquet(*paths)


def parquet_footer_schema(path: str):
    """The Spark schema of one parquet file's footer (see
    ``read_parquet_footer``) — driver-side metadata, no cluster job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a dimension table with a broadcast hint applied."""
    df = load(spark, sf_dir, name)
    return F.broadcast(df) if name in BROADCAST_DIMS else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from the parquet FOOTER —
    metadata-only (no Spark job, no data scan).  The width-hint source
    for iterative kernels: ``_loop_parts`` needs an order of magnitude,
    so paying a cluster count job for it is pure overhead.  Handles the
    single-file layout and a multi-file directory (sum of part footers,
    still metadata-rate)."""
    import glob as _glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(p).num_rows
            for p in sorted(_glob.glob(os.path.join(path, "*.parquet")))
        )
    return pq.read_metadata(path).num_rows
