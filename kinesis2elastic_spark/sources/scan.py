"""The lakehouse scan core: one ``ScanPlan``, one file pruner, one
scan executor.

Delta (``sources/delta_log.py``), Iceberg (``sources/iceberg_meta.py``),
the native snapshot manifest (``operators/timetravel.py``) and its
hidden-partition layouts (``operators/partitioning.py``) each RESOLVE
their metadata into a ``ScanPlan`` — a file list with per-file facts,
the Delta Lake paper's (VLDB 2020) view of a table.  The rest is here:

- pruning (``may_match``): a file is dropped only when a comparison
  PROVES it disjoint from ``col <op> val``, against typed ``bounds`` or
  in a transform's partition space.  Undecidable pairs keep the file:
  cross-type, tz-aware vs naive, unknown transform, range op on a
  bucket, missing or malformed stats/Bloom, null partition;
- merge-on-read (``scan``): files group by (sequence, partition tuple),
  one parquet scan per group.  A position delete applies to data with
  seq <= its own, an equality delete to data with seq STRICTLY below
  its own (Iceberg v2: a row re-inserted after a delete survives).
  Callers needing row identity get (POS_PATH, POS_ROW) and join.

Measured construction lessons (OPTIMIZATION_r14.md, r15): ONE
``selectExpr`` per group, never per-Column chains; explicit schemas
from metadata or a footer, never inference; ``coalesce(1)`` for
driver-side position frames.
"""

from __future__ import annotations

import base64
import datetime as _dt
import hashlib
import operator
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..catalog import parquet_footer_schema, read_parquet_footer
from ..schemas import sql_ident as _qid

PRUNE_OPS = ("=", "<", "<=", ">", ">=", "between")

# row-identity columns the executor adds on request (and joins position
# deletes on); ``file:`` URIs are normalized to the plain absolute path
# manifests and delete files record
POS_PATH, POS_ROW = "__pos_file_path", "__pos_row_index"
_IDENTITY = (
    f"regexp_replace(_metadata.file_path, '^file:/*', '/') AS {POS_PATH}",
    f"CAST(_metadata.row_index AS BIGINT) AS {POS_ROW}",
)
_POS_SEQ = "__pos_seq"


@dataclass
class DataFile:
    """One data file and what the resolver knows about it: raw
    ``partition`` strings in ``ScanPlan.partition_columns`` order
    (injected as typed literals; None = null), typed (min, max)
    ``bounds`` per column (None = unknown side), (source column,
    transform, value) partition-space ``transforms`` with
    ``to_partition(probe, transform)`` mapping probes there, and the
    ``rows`` count."""

    path: str
    seq: int = 0
    partition: tuple = ()
    bounds: dict = field(default_factory=dict)
    transforms: tuple = ()
    to_partition: Callable | None = None
    bloom: dict | None = None
    rows: int | None = None


@dataclass
class PositionDelete:
    """Deleted (data file, row index) pairs: a parquet file of
    ``file_path`` + ``pos_column`` pairs, or ``rows`` decoded
    driver-side (data path -> row indexes)."""

    seq: int
    path: str | None = None
    pos_column: str = "pos"
    rows: dict | None = None


@dataclass
class EqualityDelete:
    """A parquet file of key rows: every data row with seq below
    ``seq`` whose ``columns`` equal a key row is deleted."""

    seq: int
    path: str
    columns: tuple


@dataclass
class ScanPlan:
    """A resolved snapshot: data files, delete files, and the logical
    read schema (a StructType or DDL string; None = the first data
    file's footer) with its physical names (logical -> physical, for
    Delta column mapping)."""

    files: list
    schema: StructType | str | None = None
    physical: dict = field(default_factory=dict)
    partition_columns: list = field(default_factory=list)
    position_deletes: list = field(default_factory=list)
    equality_deletes: list = field(default_factory=list)


# ------------------------------------------------------------------ Bloom
# Per-file Bloom bitmaps (written by timetravel._file_bloom_filters) answer
# "definitely not in this file" for = probes on keys min/max cannot split.
_BLOOM_K = 6  # probes (double hashing off one md5)


def _bloom_probes(value, m: int) -> list[int] | None:
    """Bit indices for a value in an m-bit filter, or None if the type
    has no canonical cross-engine string form (floats excluded: repr
    instability)."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None
    d = hashlib.md5(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_may_contain(bloom: dict | None, col: str, value) -> bool:
    """Three-valued 'is value possibly in this file?' collapsed to bool:
    no filter / unsupported value type / foreign parameters → True
    (scan it); only a definite all-k-bits-unset answers False."""
    ent = bloom.get(col) if isinstance(bloom, dict) else None
    if not ent or ent.get("k") != _BLOOM_K or not ent.get("m") or not ent.get("b64"):
        return True
    probes = _bloom_probes(value, int(ent["m"]))
    if probes is None:
        return True
    try:
        bits = base64.b64decode(ent["b64"])
    except (TypeError, ValueError):  # not a base64 string: corrupt bitmap
        return True
    if len(bits) * 8 != int(ent["m"]):
        return True  # corrupt/foreign bitmap: cannot trust a negative
    return all(bits[p >> 3] & (1 << (p & 7)) for p in probes)


# ----------------------------------------------------------------- pruner
def _cmp(a, b) -> int | None:
    """Three-way compare of a file-side value and a probe, or None when
    the pair is undecidable (cross-type, tz-aware vs naive, NaN).  A
    date meets a datetime at midnight — date grain, never str()."""
    if isinstance(a, _dt.date) and not isinstance(a, _dt.datetime):
        if isinstance(b, _dt.datetime):
            a = _dt.datetime(a.year, a.month, a.day)
    elif isinstance(b, _dt.date) and not isinstance(b, _dt.datetime):
        if isinstance(a, _dt.datetime):
            b = _dt.datetime(b.year, b.month, b.day)
    if a != a or b != b:  # NaN orders nowhere
        return None
    try:
        return (a > b) - (a < b)
    except TypeError:
        return None


def _to_partition(f: DataFile, probe, t: str):
    """A probe mapped into transform ``t``'s partition space, or None
    when the mapping cannot decide (tz-aware probe, unknown transform,
    unsupported probe type)."""
    if probe is None or f.to_partition is None:
        return None
    if isinstance(probe, _dt.datetime) and probe.tzinfo is not None:
        return None
    try:
        return f.to_partition(probe, t)
    except (TypeError, ValueError):
        return None


def _partition_num(x):
    """Partition values are canonical strings; integer-valued ones
    (identity/truncate of ints, years, buckets) compare as integers."""
    try:
        return int(x)
    except (TypeError, ValueError):
        return x


def may_match(f: DataFile, col: str, op: str, val) -> bool:
    """Can ``f`` hold a row with ``col <op> val``?  False only when a
    comparison proves it cannot; ops are =, <, <=, >, >= and between
    (``val`` = (lo, hi))."""
    if op not in PRUNE_OPS:
        raise ValueError(f"unsupported prune op {op!r} (use {sorted(PRUNE_OPS)})")
    if f.rows == 0:
        return False
    lo = hi = val
    if op == "between":
        lo, hi = val
    elif op in ("<", "<="):
        lo = None
    elif op in (">", ">="):
        hi = None
    mn, mx = f.bounds.get(col, (None, None))
    if hi is not None and mn is not None:
        c = _cmp(mn, hi)
        if c is not None and (c > 0 or (c == 0 and op == "<")):
            return False
    if lo is not None and mx is not None:
        c = _cmp(mx, lo)
        if c is not None and (c < 0 or (c == 0 and op == ">")):
            return False
    if op == "=" and not _bloom_may_contain(f.bloom, col, val):
        return False
    for pcol, t, fval in f.transforms:
        if pcol != col or fval is None:
            continue
        if op == "=":
            pv = _to_partition(f, val, t)
            if pv is not None and pv != fval:
                return False
        elif not t.startswith("bucket"):
            # the other transforms are monotone non-decreasing, so a
            # range maps to the (non-strict) range of its mapped ends
            plo, phi = _to_partition(f, lo, t), _to_partition(f, hi, t)
            fv = _partition_num(fval)
            if plo is not None and (_cmp(fv, _partition_num(plo)) or 0) < 0:
                return False
            if phi is not None and (_cmp(fv, _partition_num(phi)) or 0) > 0:
                return False
    return True


def prune(plan: ScanPlan, filters) -> list[DataFile]:
    """The plan's files that MAY satisfy every ``(col, op, val)`` filter
    (AND); a file known to hold zero rows never does."""
    return [
        f
        for f in plan.files
        if f.rows != 0 and all(may_match(f, c, op, v) for (c, op, v) in filters)
    ]


_COMPARE = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge}


def _residual(filters):
    cond = F.lit(True)
    for c, op, val in filters:
        col = F.col(c)
        cond = cond & (
            col.between(*val) if op == "between" else _COMPARE[op](col, val)
        )
    return cond


# --------------------------------------------------------------- executor
def _sql_str(s: str) -> str:
    """Single-quoted SQL literal (Spark's parser escapes backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def position_frame(spark: SparkSession, deletes: list) -> DataFrame:
    """All pairs of ``deletes`` as (POS_PATH, POS_ROW, seq) rows.
    Driver-decoded pairs become one ``coalesce(1)`` frame (without it,
    createDataFrame fans the rows across defaultParallelism slices and
    every broadcast build runs a session-width job — r15); delete
    files are read with their footer schema, one scan per (position
    column, seq)."""
    legs: list[DataFrame] = []
    inline = [
        (p, int(i), d.seq)
        for d in deletes
        for p, rows in (d.rows or {}).items()
        for i in rows
    ]
    if inline:
        import pandas as pd

        legs.append(
            spark.createDataFrame(
                pd.DataFrame(inline, columns=[POS_PATH, POS_ROW, _POS_SEQ]),
                schema=f"{POS_PATH} string, {POS_ROW} bigint, {_POS_SEQ} bigint",
            ).coalesce(1)
        )
    by_file: dict[tuple, list[str]] = {}
    for d in deletes:
        if d.path:
            by_file.setdefault((d.pos_column, d.seq), []).append(d.path)
    for (pos_col, seq), paths in sorted(by_file.items()):
        legs.append(
            read_parquet_footer(spark, *paths).selectExpr(
                f"file_path AS {POS_PATH}",
                f"CAST({_qid(pos_col)} AS BIGINT) AS {POS_ROW}",
                f"CAST({int(seq)} AS BIGINT) AS {_POS_SEQ}",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return F.broadcast(out) if not by_file else out


def scan(
    spark: SparkSession,
    plan: ScanPlan,
    filters=(),
    row_identity: bool = False,
) -> DataFrame:
    """Execute ``plan``: prune by ``filters``, scan the survivors with
    merge-on-read applied, and keep the residual filter (pruning is an
    optimization, never a semantics change).  ``row_identity`` adds
    the (POS_PATH, POS_ROW) columns of every surviving row."""
    schema = plan.schema
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    elif schema is None:
        if not plan.files:
            raise ValueError("scan plan has no data files and no schema")
        schema = parquet_footer_schema(plan.files[0].path)
    files = prune(plan, filters) if filters else plan.files
    if not files:
        out = spark.createDataFrame([], schema)
        return out.filter(_residual(filters)) if filters else out
    pcols, phys = plan.partition_columns, plan.physical
    data_fields = [
        StructField(phys.get(f.name, f.name), f.dataType, True)
        for f in schema.fields
        if f.name not in pcols
    ]
    read = spark.read.schema(StructType(data_fields))
    pds, eqs = plan.position_deletes, plan.equality_deletes
    pos = position_frame(spark, pds) if pds else None
    # the highest position-delete seq that may name each file: delete
    # files may name any file, driver-decoded pairs only their own
    any_seq = max((d.seq for d in pds if d.path), default=-1)
    own_seq: dict[str, int] = {}
    for d in pds:
        for p in d.rows or ():
            own_seq[p] = max(d.seq, own_seq.get(p, -1))
    project = bool(pcols) or any(phys.get(c, c) != c for c in schema.names)
    groups: dict[tuple, list[DataFile]] = {}
    for f in files:
        groups.setdefault((f.seq if pds or eqs else 0, f.partition), []).append(f)
    parts: list[DataFrame] = []
    for (seq, part), group in sorted(groups.items(), key=lambda kv: str(kv[0])):
        dirty, clean = [], []
        for f in group:
            deleted = max(any_seq, own_seq.get(f.path, -1)) >= seq
            (dirty if deleted else clean).append(f.path)
        legs: list[DataFrame] = []
        if clean and not row_identity:
            legs.append(read.parquet(*clean))
        paths = dirty + clean if row_identity else dirty
        if paths:
            leg = read.parquet(*paths).selectExpr("*", *_IDENTITY)
            if dirty:
                live = pos.filter(f"{_POS_SEQ} >= {seq}") if seq else pos
                leg = leg.join(live, [POS_PATH, POS_ROW], "left_anti")
            legs.append(leg if row_identity else leg.drop(POS_PATH, POS_ROW))
        df = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
        if project:
            exprs = []
            for f in schema.fields:
                if f.name in pcols:
                    raw = part[pcols.index(f.name)]
                    lit = "NULL" if raw is None else _sql_str(raw)
                    ddl = f.dataType.simpleString()
                    exprs.append(f"CAST({lit} AS {ddl}) AS {_qid(f.name)}")
                else:
                    exprs.append(f"{_qid(phys.get(f.name, f.name))} AS {_qid(f.name)}")
            df = df.selectExpr(*exprs, *([POS_PATH, POS_ROW] if row_identity else []))
        by_cols: dict[tuple, list[str]] = {}
        for d in eqs:
            if d.seq > seq:
                by_cols.setdefault(tuple(d.columns), []).append(d.path)
        for cols, del_paths in sorted(by_cols.items()):
            keys = read_parquet_footer(spark, *del_paths).selectExpr(
                *[_qid(c) for c in cols]
            )
            df = df.join(keys.dropDuplicates(), list(cols), "left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(_residual(filters)) if filters else out
