"""GeoIP enrichment dimension (SURVEY §2 A28).

The reference calls the OpenSearch ``geoip`` processor twice on ``source.ip``
(city db → source.geo, ASN db → source.as; ingest/axway-ingest.json:90-108).
Spark-first equivalent: a **broadcast range join** against a CIDR-range
dimension table (ip_lo..ip_hi as int64), which the pipeline interpreter's
``geoip`` processor runs (``operators/pipeline_dsl.py``; adjacent geoip
processors on one field share one join).  This module builds the
dimension and the SQL of the IP → int64 key.  At 100 TB the dim stays a
few MB (GeoLite2 scale: ~4M ranges ≈ 200 MB — still broadcastable; if
not, bucket by /8 prefix and equi-join on the bucket before the range
filter).

No MaxMind data ships here; :func:`synthetic_geoip_dim` provides the
deterministic stand-in ranges (FIXTURES.md §5) used by tests and oracle,
and :func:`mmdb_geoip_dim` reads a real .mmdb.

Both builders return a JVM-resident relation (a ``LocalTableScan``),
handed over as one Arrow table with explicit column types.  A streaming
service re-plans its batches, and each plan broadcasts the dimension
again: from driver memory this costs milliseconds, whereas a
``createDataFrame(list)`` relation is a Python-backed RDD that reruns a
Python job on every batch.  The explicit types keep a missing ASN NULL
(type inference from Python rows, or pandas, would make it NaN).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# (ip_lo, ip_hi, country, city, as_number, as_org) — 10.0.0.0-based ranges so
# the synthesized test IPs (10.{user_id%200}.x.7) hit ~3/4 of the space and
# leave the rest NULL (ignore_missing semantics).
SYNTH_RANGES = [
    (167772160, 173015039, "US", "Springfield", 64500, "Acme Backbone"),
    (173015040, 177602559, "DE", "Berlin", 64501, "Beta Net"),
    (177602560, 179568639, "JP", "Osaka", 64502, "Gamma Corp"),
]


DIM_SCHEMA = pa.schema(
    [
        ("ip_lo", pa.int64()),
        ("ip_hi", pa.int64()),
        ("geo_country", pa.string()),
        ("geo_city", pa.string()),
        ("as_number", pa.int64()),
        ("as_org", pa.string()),
    ]
)


def _local_dim(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Dimension rows (in ``DIM_SCHEMA`` order) → a JVM-local relation,
    built through one Arrow table of the declared types."""
    columns = list(zip(*rows)) if rows else [()] * len(DIM_SCHEMA)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(values, type=field.type) for values, field in zip(columns, DIM_SCHEMA)],
        schema=DIM_SCHEMA,
    ))


def synthetic_geoip_dim(spark: SparkSession) -> DataFrame:
    return _local_dim(spark, SYNTH_RANGES)


def ip_to_int_sql(ip: str) -> str:
    """Dotted-quad IPv4 string → int64, as SQL text over the SQL
    expression ``ip`` (JVM-side split/cast, no UDF)."""
    p = rf"split({ip}, '\\.', -1)"
    return (
        f"CAST(element_at({p}, 1) AS BIGINT) * 16777216 + CAST(element_at({p}, 2) AS BIGINT) * 65536"
        f" + CAST(element_at({p}, 3) AS BIGINT) * 256 + CAST(element_at({p}, 4) AS BIGINT)"
    )


def write_fixture_mmdb(path: str) -> None:
    """Build the deterministic test .mmdb (r11 VERDICT #8): the
    SYNTH_RANGES dimension encoded as a spec-conformant MaxMind DB —
    records shaped like GeoLite2-City + ASN fields so the dim loader
    exercises the same key paths a real database needs."""
    from .mmdb import build_mmdb

    build_mmdb(
        path,
        [
            (
                lo,
                hi,
                {
                    "country": {"iso_code": c},
                    "city": {"names": {"en": ci}},
                    "autonomous_system_number": asn,
                    "autonomous_system_organization": org,
                },
            )
            for lo, hi, c, ci, asn, org in SYNTH_RANGES
        ],
    )


def mmdb_geoip_dim(spark: SparkSession, path: str) -> DataFrame:
    """GeoIP dimension table FROM a .mmdb binary (A28's real-artifact
    leg): parse the search tree driver-side (the db is metadata-scale),
    emit one row per stored network with the GeoLite2 field paths
    flattened to the join schema (a field the record lacks is NULL).
    Ranges arrive CIDR-granular — finer than SYNTH_RANGES but covering
    the identical IP space, so the broadcast range join enriches
    identically."""
    from .mmdb import read_mmdb_ranges

    def g(rec: dict, *path_, default=None):
        cur = rec
        for p in path_:
            if not isinstance(cur, dict) or p not in cur:
                return default
            cur = cur[p]
        return cur

    rows = [
        (
            lo,
            hi,
            g(rec, "country", "iso_code"),
            g(rec, "city", "names", "en"),
            g(rec, "autonomous_system_number"),
            g(rec, "autonomous_system_organization"),
        )
        for lo, hi, rec in read_mmdb_ranges(path)
    ]
    return _local_dim(spark, rows)


# The same dim as an inline SQL VALUES clause, for the DuckDB oracle.
SQL_VALUES = (
    "(VALUES "
    + ", ".join(f"({lo}, {hi}, '{c}', '{ci}', {asn}, '{org}')" for lo, hi, c, ci, asn, org in SYNTH_RANGES)
    + ") AS geoip(ip_lo, ip_hi, geo_country, geo_city, as_number, as_org)"
)
