"""The scan core's file pruner, table-driven and Spark-free.

One row per decision the Delta, Iceberg, native-manifest and
hidden-partition pruners each made before they shared
``sources/scan.may_match``: provably disjoint files are dropped, and
every pair the comparison cannot decide keeps the file.  Files are
built through each format's resolver where that needs no Spark session
(Delta from a snapshot dict, native from a pyarrow-written manifest);
Iceberg files are built the way ``iceberg_plan`` builds them.
"""

import base64
import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kinesis2elastic_spark.operators import timetravel as tt
from kinesis2elastic_spark.operators.partitioning import _transform_value
from kinesis2elastic_spark.sources import delta_log as dl
from kinesis2elastic_spark.sources import iceberg_meta as im
from kinesis2elastic_spark.sources.scan import (
    _BLOOM_K,
    DataFile,
    _bloom_probes,
    may_match,
)

AWARE = dt.datetime(1998, 1, 2, tzinfo=dt.timezone.utc)
DELTA_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("ts", TimestampType()),
        StructField("g", StringType()),
        StructField("d", DateType()),
    ]
)
DELTA_STATS = json.dumps(
    {
        "numRecords": 10,
        "minValues": {"k": 10, "ts": "2024-01-10 00:00:00"},
        "maxValues": {"k": 20, "ts": "2024-01-12 00:00:00"},
    }
)


def delta(partition=None, stats=None):
    def build(_tmp):
        snap = {
            "schema": DELTA_SCHEMA,
            "partition_columns": ["g", "d"],
            "physical_names": {},
            "files": [
                {"path": "/t/f.parquet", "partitionValues": partition, "stats": stats}
            ],
        }
        return dl.delta_plan("/t", snap).files[0]

    return build


def native(**entry):
    def build(tmp):
        data = str(tmp / "f.parquet")
        pq.write_table(pa.table({"k": [1]}), data)
        row = dict({"path": data, "kind": "data", "seq": 0, "n_rows": 5}, **entry)
        table = str(tmp / "t")
        os.makedirs(tt._manifest_dir(table))
        pq.write_table(
            pa.Table.from_pylist([row]),
            os.path.join(tt._manifest_dir(table), "v0.parquet"),
        )
        return tt.snapshot_plan(table).files[0]

    return build


def hidden(spec, values):
    return native(
        partition_json=json.dumps(
            {"spec": spec, "values": {f"{c}:{t}": v for (c, t), v in zip(spec, values)}}
        )
    )


def iceberg(col, transform, value):
    return lambda _tmp: DataFile(
        "/t/f.parquet",
        transforms=((col, transform, value),),
        to_partition=im._ice_transform_value,
    )


def bloom_of(values, m=8192):
    bits = bytearray(m // 8)
    for v in values:
        for p in _bloom_probes(v, m):
            bits[p >> 3] |= 1 << (p & 7)
    blob = base64.b64encode(bytes(bits)).decode()
    return json.dumps({"k": {"m": m, "k": _BLOOM_K, "b64": blob}})


def other_bucket(bucket, base, n):
    """A probe whose bucket differs from ``base``'s."""
    return next(p for p in range(base + 1, base + 100) if bucket(p, n) != bucket(base, n))


_MD5_7 = _transform_value(7, "bucket[4]")
_ICE_34 = str(im.iceberg_bucket(34, 16))
_ICE_OTHER = other_bucket(im.iceberg_bucket, 34, 16)
_MD5_OTHER = other_bucket(lambda v, n: _transform_value(v, f"bucket[{n}]"), 7, 4)
_DAY = [("ts", "day")]
_BUCKET = [("uid", "bucket[4]")]

# (id, file factory, (col, op, val), kept?)
CASES = [
    # ---- provably disjoint: dropped
    ("delta-identity-eq", delta({"g": "g1"}), ("g", "=", "g2"), False),
    ("delta-stats-between", delta(stats=DELTA_STATS), ("k", "between", (30, 40)), False),
    ("delta-stats-strict-lt", delta(stats=DELTA_STATS), ("k", "<", 10), False),
    ("delta-stats-ts", delta(stats=DELTA_STATS), ("ts", ">", dt.datetime(2024, 1, 12)), False),
    ("delta-date-grain-eq", delta({"d": "1998-01-03"}), ("d", "=", dt.datetime(1998, 1, 2)), False),
    ("delta-date-grain-le", delta({"d": "1998-01-03"}), ("d", "<=", dt.datetime(1998, 1, 2, 12)), False),
    ("delta-date-probe-date", delta({"d": "1998-01-03"}), ("d", "<", dt.date(1998, 1, 3)), False),
    ("native-stats-gt", native(stats_json=json.dumps({"k": {"min": 10, "max": 20}})), ("k", ">", 20), False),
    ("native-stats-float", native(stats_json=json.dumps({"x": {"min": 2.5, "max": 7.5}})), ("x", ">", 10.0), False),
    ("native-zero-rows", native(n_rows=0), ("k", ">=", 0), False),
    ("native-bloom-miss", native(bloom_json=bloom_of([1, 2, 3])), ("k", "=", 99), False),
    ("hidden-day-between", hidden(_DAY, ["2024-01-10"]), ("ts", "between", (dt.datetime(2024, 1, 12), dt.datetime(2024, 1, 13))), False),
    ("hidden-day-eq-iso-string", hidden(_DAY, ["2024-01-10"]), ("ts", "=", "2024-01-11T08:00:00"), False),
    ("hidden-md5-bucket-eq", hidden(_BUCKET, [_MD5_7]), ("uid", "=", _MD5_OTHER), False),
    ("hidden-truncate-ge", hidden([("k", "truncate[100]")], ["700"]), ("k", ">=", 800), False),
    ("iceberg-murmur3-bucket-eq", iceberg("id", "bucket[16]", _ICE_34), ("id", "=", _ICE_OTHER), False),
    ("iceberg-year-between", iceberg("o_orderdate", "year", "1999"), ("o_orderdate", "between", (dt.datetime(1998, 2, 1), dt.datetime(1998, 11, 30))), False),
    ("iceberg-month-eq", iceberg("ts", "month", "2024-03"), ("ts", "=", dt.datetime(2024, 4, 1)), False),
    # ---- may match: kept
    ("delta-identity-match", delta({"g": "g2"}), ("g", "=", "g2"), True),
    ("delta-stats-le-boundary", delta(stats=DELTA_STATS), ("k", "<=", 10), True),
    ("delta-date-grain-match", delta({"d": "1998-01-02"}), ("d", "=", dt.datetime(1998, 1, 2)), True),
    ("native-bloom-hit", native(bloom_json=bloom_of([1, 2, 3])), ("k", "=", 2), True),
    ("hidden-md5-bucket-match", hidden(_BUCKET, [_MD5_7]), ("uid", "=", 7), True),
    ("iceberg-murmur3-bucket-match", iceberg("id", "bucket[16]", _ICE_34), ("id", "=", 34), True),
    # ---- undecidable: kept
    ("native-cross-type", native(stats_json=json.dumps({"k": {"min": 1, "max": 2}})), ("k", ">", "zzz"), True),
    ("delta-cross-type", delta(stats=DELTA_STATS), ("k", "=", "zzz"), True),
    ("delta-tz-aware", delta({"d": "1998-01-03"}), ("d", "<", AWARE), True),
    ("hidden-tz-aware", hidden(_DAY, ["1998-01-03"]), ("ts", "=", AWARE), True),
    ("iceberg-tz-aware", iceberg("ts", "day", "1998-01-03"), ("ts", "=", AWARE), True),
    ("iceberg-unknown-transform", iceberg("ts", "week", "5"), ("ts", "=", dt.datetime(2024, 1, 1)), True),
    ("hidden-unknown-transform", hidden([("ts", "week")], ["5"]), ("ts", "=", dt.datetime(2024, 1, 1)), True),
    ("hidden-range-on-bucket", hidden(_BUCKET, [_MD5_7]), ("uid", ">", 100), True),
    ("iceberg-range-on-bucket", iceberg("id", "bucket[16]", _ICE_34), ("id", "<", 0), True),
    ("native-missing-stats", native(), ("k", ">", 10**9), True),
    ("native-malformed-stats", native(stats_json="{not json"), ("k", ">", 10**9), True),
    ("native-malformed-bloom", native(bloom_json="{not json"), ("k", "=", 99), True),
    ("native-bloom-bad-bitmap", native(bloom_json=json.dumps({"k": {"m": 64, "k": _BLOOM_K, "b64": 5}})), ("k", "=", 99), True),
    ("native-nan-probe", native(stats_json=json.dumps({"x": {"min": 2.5, "max": 7.5}})), ("x", "<", float("nan")), True),
    ("delta-missing-stats", delta(), ("k", "=", 999), True),
    ("delta-malformed-stats", delta(stats="{not json"), ("k", "=", 999), True),
    ("delta-zoned-ts-stats", delta(stats=json.dumps({"minValues": {"ts": "2024-01-10T00:00:00.000Z"}, "maxValues": {"ts": "2024-01-12T00:00:00.000Z"}})), ("ts", ">", dt.datetime(2025, 1, 1)), True),
    ("delta-hive-null-partition", delta({"g": "__HIVE_DEFAULT_PARTITION__"}), ("g", "=", "g1"), True),
    ("delta-null-partition", delta({"g": None}), ("g", "=", "g1"), True),
    ("iceberg-null-partition", iceberg("o_orderdate", "year", None), ("o_orderdate", "=", dt.date(1998, 1, 1)), True),
]


@pytest.mark.parametrize(
    "build, flt, kept", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_may_match(build, flt, kept, tmp_path):
    assert may_match(build(tmp_path), *flt) is kept


def test_unknown_op_fails_loud():
    with pytest.raises(ValueError, match="unsupported prune op"):
        may_match(DataFile("/t/f.parquet"), "k", "!=", 5)
