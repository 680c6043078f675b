"""Iceberg ``metadata.json`` interop reader (B191).

Reads Apache Iceberg table metadata — the open specification at
iceberg.apache.org/spec/ — without the iceberg-spark runtime:

- ``metadata/vN.metadata.json`` (+ ``version-hint.text``): schemas,
  partition specs (spec EVOLUTION: each manifest prunes under the spec
  it was written with), snapshot list + current-snapshot-id;
- snapshot → manifest list (Avro OCF, read via sources/avro_ocf.py)
  → manifest files (Avro) → live data-file set (``status != 2``);
- time travel: any snapshot-id in the metadata's snapshot list (the
  spec's semantics — unlike Delta, ONE metadata file retains the whole
  snapshot history until expiration);
- reading: ``iceberg_plan`` resolves a snapshot into the scan core's
  ``ScanPlan`` (sources/scan.py — where pruning, merge-on-read and
  scanning live).  Partition values are probed through the SAME
  transform mapping as the repo's own hidden partitioning (B173),
  except ``bucket[N]``, which uses Iceberg's mandated murmur3_x86_32
  hash (implemented below from the public algorithm, spec Appendix B
  test vectors in tests) — an md5 bucket probe would silently
  mis-prune a real Iceberg table.  Iceberg data files CONTAIN all
  columns, so nothing is injected.

Fixture writer (``iceberg_append`` / ``iceberg_delete_files``): builds
REAL spec-shaped tables (JSON metadata, Avro manifest lists + manifests,
spec evolution, snapshot lineage) for tests and the oracle query.
Simplification, documented: manifest ``partition`` values are carried
in their canonical STRING form (the same cross-engine canonicalization
B173 records) rather than Iceberg's physical types — the pruner
normalizes both sides through one transform mapping, so skipping
semantics are identical; a type-exact manifest would change encoding,
not decisions.
"""

from __future__ import annotations

import json
import os
import re
import struct
import uuid
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import parquet_footer_schema
from ..operators.partitioning import (
    _parse_transform,
    _transform_col,
    _transform_value,
)
from . import avro_ocf as av
from .scan import (
    POS_PATH,
    POS_ROW,
    DataFile,
    EqualityDelete,
    PositionDelete,
    ScanPlan,
    prune,
    scan,
)

_META = "metadata"
_PT = "__ipt_"


# ------------------------------------------------------------- murmur3
def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3_x86_32 (public domain algorithm; Iceberg spec's required
    bucket hash).  Returns the UNSIGNED 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n & 3)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def iceberg_bucket(value, n: int) -> int | None:
    """Spec rule: ``(murmur3(serialize(v)) & Integer.MAX_VALUE) % N``;
    ints/longs serialize as 8-byte little-endian longs, strings as
    UTF-8.  None → None (null partitions never bucket)."""
    if value is None:
        return None
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None  # unsupported probe type: caller must scan
    if isinstance(value, int):
        data = struct.pack("<q", value)
    else:
        data = value.encode("utf-8")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def _ice_transform_value(value, t: str):
    """B173's transform mapping with the bucket leg swapped to
    Iceberg's murmur3 (md5 would mis-prune real tables)."""
    kind, arg = _parse_transform(t)
    if kind == "bucket":
        b = iceberg_bucket(value, arg)
        return None if b is None else str(b)
    return _transform_value(value, t)


# ------------------------------------------------------------- reading
def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _META)


def is_iceberg_table(table_dir: str) -> bool:
    d = _meta_dir(table_dir)
    return os.path.isdir(d) and any(
        f.endswith(".metadata.json") for f in os.listdir(d)
    )


def _metadata_versions(table_dir: str) -> dict[int, str]:
    d = _meta_dir(table_dir)
    out: dict[int, str] = {}
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        m = re.match(r"^v(\d+)\.metadata\.json$", f)
        if m:
            out[int(m.group(1))] = os.path.join(d, f)
    return out


def load_metadata(table_dir: str, metadata_version: int | None = None) -> dict:
    versions = _metadata_versions(table_dir)
    if not versions:
        raise ValueError(f"not an iceberg table (no metadata.json): {table_dir}")
    if metadata_version is None:
        hint = os.path.join(_meta_dir(table_dir), "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                metadata_version = int(f.read().strip())
        else:
            metadata_version = max(versions)
    if metadata_version not in versions:
        raise ValueError(f"no metadata version {metadata_version} in {table_dir}")
    with open(versions[metadata_version]) as f:
        meta = json.load(f)
    if int(meta.get("format-version", 1)) not in (1, 2):
        raise NotImplementedError(
            f"iceberg format-version {meta.get('format-version')}"
        )
    return meta


def _resolve_snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if not snaps:
        raise ValueError("iceberg table has no snapshots")
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    if sid not in snaps:
        raise ValueError(f"unknown snapshot-id {sid} (expired or never existed)")
    return snaps[sid]


def iceberg_snapshot(
    table_dir: str,
    snapshot_id: int | None = None,
    metadata_version: int | None = None,
) -> dict:
    """Reconstruct one snapshot's live file set — metadata-rate (JSON +
    Avro manifests, never a data file).  Returns {"snapshot_id",
    "files": [{path, partition, spec_id, seq}], "deletes":
    [{path, kind: "pos"|"eq", seq, equality_cols}], "schema", "specs",
    "metadata"}.  ``seq`` is the v2 data sequence number (entry-level
    when recorded, else the manifest's) that scopes merge-on-read:
    a position delete applies to data files with seq <= the delete's,
    an equality delete to files with seq STRICTLY BELOW its own (the
    spec's rule — a row re-inserted after the delete must survive)."""
    meta = load_metadata(table_dir, metadata_version)
    snap = _resolve_snapshot(meta, snapshot_id)
    specs = {s["spec-id"]: s for s in meta.get("partition-specs", [])}
    # field-id -> name over EVERY schema version (externally-written v2
    # equality deletes carry equality_ids, not names; an id minted under
    # an older schema must still resolve)
    id_to_name: dict[int, str] = {}
    for s in meta.get("schemas", []):
        for fld in s.get("fields", []):
            if "id" in fld and "name" in fld:
                id_to_name[int(fld["id"])] = fld["name"]
    _schema, mlist = av.read_ocf(snap["manifest-list"])
    files: list[dict] = []
    deletes: list[dict] = []
    for m in mlist:
        spec_id = int(m.get("partition_spec_id", 0))
        m_seq = int(m.get("sequence_number", 0))
        _s, entries = av.read_ocf(m["manifest_path"])
        for e in entries:
            if int(e.get("status", 0)) == 2:  # deleted
                continue
            dfile = e["data_file"]
            seq = e.get("sequence_number")
            seq = m_seq if seq is None else int(seq)
            content = int(dfile.get("content", 0))
            if content == 0:
                files.append(
                    {
                        "path": dfile["file_path"],
                        "partition": dict(dfile.get("partition") or {}),
                        "spec_id": spec_id,
                        "record_count": dfile.get("record_count"),
                        "seq": seq,
                    }
                )
            elif content == 1:
                deletes.append(
                    {"path": dfile["file_path"], "kind": "pos", "seq": seq}
                )
            elif content == 2:
                # fixture manifests carry column NAMES (equality_cols);
                # real Iceberg v2 manifests carry FIELD IDS (the spec's
                # equality_ids, field 135) — resolve ids via the schemas.
                cols = list(dfile.get("equality_cols") or [])
                if not cols:
                    ids = [int(i) for i in (dfile.get("equality_ids") or [])]
                    unknown = [i for i in ids if i not in id_to_name]
                    if unknown:
                        raise NotImplementedError(
                            f"equality-delete file {dfile['file_path']!r} "
                            f"references field ids {unknown} not present in "
                            "any table schema"
                        )
                    cols = [id_to_name[i] for i in ids]
                if not cols:
                    raise NotImplementedError(
                        f"equality-delete file {dfile['file_path']!r} carries "
                        "no equality_ids/equality_cols — cannot apply it "
                        "soundly, refusing instead of mis-reading"
                    )
                deletes.append(
                    {
                        "path": dfile["file_path"],
                        "kind": "eq",
                        "seq": seq,
                        "equality_cols": cols,
                    }
                )
            else:
                raise NotImplementedError(f"data_file content {content}")
    schemas = {s["schema-id"]: s for s in meta.get("schemas", [])}
    return {
        "snapshot_id": snap["snapshot-id"],
        "files": files,
        "deletes": deletes,
        "schema": schemas.get(meta.get("current-schema-id")),
        "specs": specs,
        "metadata": meta,
    }


def iceberg_plan(
    table_dir: str,
    snapshot_id: int | None = None,
    metadata_version: int | None = None,
) -> ScanPlan:
    """Resolve a snapshot into a ``ScanPlan``: data files with their v2
    sequence number and partition values under the spec they were
    written with (probed through ``_ice_transform_value``), plus the
    position and equality deletes.  Read schema: the table schema
    (B211), else the first data file's footer restricted to it."""
    snap = iceberg_snapshot(table_dir, snapshot_id, metadata_version)
    files = []
    for f in snap["files"]:
        spec = snap["specs"].get(f["spec_id"]) or {}
        facts = tuple(
            (fld.get("source-name"), fld["transform"], f["partition"].get(fld["name"]))
            for fld in spec.get("fields", [])
        )
        files.append(
            DataFile(f["path"], int(f["seq"]), transforms=facts,
                     to_partition=_ice_transform_value)
        )
    schema = _spark_read_schema(snap["schema"])
    names = [f_["name"] for f_ in (snap["schema"] or {}).get("fields", [])]
    if schema is None and files and names:
        foot = parquet_footer_schema(files[0].path)
        schema = StructType([foot[n] for n in names if n in foot.names])
    return ScanPlan(
        files,
        schema,
        position_deletes=[
            PositionDelete(int(d["seq"]), d["path"], "pos")
            for d in snap["deletes"]
            if d["kind"] == "pos"
        ],
        equality_deletes=[
            EqualityDelete(int(d["seq"]), d["path"], tuple(d["equality_cols"]))
            for d in snap["deletes"]
            if d["kind"] == "eq"
        ],
    )


def iceberg_prune(
    table_dir: str,
    filters: list[tuple],
    snapshot_id: int | None = None,
) -> tuple[list[str], int]:
    plan = iceberg_plan(table_dir, snapshot_id)
    return [f.path for f in prune(plan, filters)], len(plan.files)


_ICE_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "date": "date",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
    "boolean": "boolean",
}


def _spark_read_schema(schema_struct: dict | None):
    """B211: the Iceberg schema as an explicit Spark read schema, so a
    schema-EVOLVED table (added columns) reads with native null-fill
    instead of inheriting the first file's footer (which silently
    dropped post-evolution columns from mixed file sets).  Returns None
    when any field's type has no clean Spark mapping — the caller then
    falls back to the first data file's footer."""
    if not schema_struct:
        return None
    parts = []
    for f_ in schema_struct.get("fields", []):
        t = f_.get("type")
        if not isinstance(t, str):
            return None  # nested struct/list/map: fall back
        spark_t = _ICE_TO_SPARK.get(t, t if t.startswith("decimal") else None)
        if spark_t is None:
            return None
        parts.append(f"`{f_['name']}` {spark_t}")
    try:
        return StructType.fromDDL(", ".join(parts))
    except Exception:
        return None


def read_iceberg(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    filters: list[tuple] | None = None,
    metadata_version: int | None = None,
) -> DataFrame:
    """Read a snapshot (manifest-pruned when ``filters`` given, with the
    residual filter applied — exact either way) through the scan core,
    merge-on-read included (format v2 position and equality deletes,
    scoped by data sequence number)."""
    plan = iceberg_plan(table_dir, snapshot_id, metadata_version)
    if not plan.files:
        raise ValueError(f"iceberg snapshot has no data files: {table_dir}")
    return scan(spark, plan, filters or ())


# ------------------------------------------------------------- writing
_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        # v2 data sequence number, entry-level (scopes merge-on-read;
        # a rewrite manifest carries each file's ORIGINAL seq here)
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {"type": "map", "values": ["null", "string"]},
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # equality-delete key columns by NAME (fixture
                    # convenience; scoping/join semantics identical)
                    {
                        "name": "equality_cols",
                        "type": ["null", {"type": "array", "items": "string"}],
                        "default": None,
                    },
                    # ... and by FIELD ID — the spec's equality_ids
                    # (field 135); the reader resolves ids via the
                    # table schemas, so externally-written v2 tables
                    # that only carry ids read correctly
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "long"}],
                        "default": None,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_ICE_TYPES = {
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "date": "date",
    "timestamp": "timestamptz",
    "boolean": "boolean",
}


def _schema_struct(df: DataFrame) -> dict:
    fields = []
    for i, (name, dtype) in enumerate(df.dtypes, start=1):
        fields.append(
            {
                "id": i,
                "name": name,
                "required": False,
                "type": _ICE_TYPES.get(dtype, dtype),
            }
        )
    return {"schema-id": 0, "type": "struct", "fields": fields}


def _spec_struct(spec: list[tuple[str, str]], spec_id: int, schema: dict) -> dict:
    ids = {f_["name"]: f_["id"] for f_ in schema["fields"]}
    return {
        "spec-id": spec_id,
        "fields": [
            {
                "source-id": ids.get(col, -1),
                "source-name": col,  # convenience: spec uses ids; the
                # name is recorded too so the pruner needn't re-derive
                "field-id": 1000 + i,
                "name": f"{col}_{_parse_transform(t)[0]}",
                "transform": t,
            }
            for i, (col, t) in enumerate(spec)
        ],
    }


def _bucket_udf(n: int):
    import pandas as pd  # noqa: F401 — resolves the UDF type hints
    from pyspark.sql.functions import pandas_udf

    def _b(s):
        return s.map(
            lambda v: None
            if v is None
            else str(iceberg_bucket(v if isinstance(v, str) else int(v), n))
        )

    _b.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_b, "string")


def _ice_transform_col(df: DataFrame, col: str, t: str):
    """Write-side partition value: murmur3 bucket via a vectorized
    pandas UDF (fixture write path only — reads never execute this);
    every other transform reuses B173's JVM-side expression."""
    kind, arg = _parse_transform(t)
    if kind == "bucket":
        return _bucket_udf(arg)(F.col(col))
    return _transform_col(df, col, t)


def iceberg_append(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    spec: list[tuple[str, str]] | None = None,
    merge_schema: bool = False,
    summary_props: dict | None = None,
) -> int:
    """Append ``df`` as a new snapshot.  ``spec`` (None = table's
    default) may EVOLVE the partition spec: a new spec-id is registered
    and this snapshot's manifest is written under it, while carried
    manifests keep their own spec-id (the spec's per-manifest split
    planning).  Data files keep ALL columns (the derived partition
    columns exist only as directory names).  Returns the snapshot id."""
    meta_dir = _meta_dir(table_dir)
    os.makedirs(meta_dir, exist_ok=True)
    versions = _metadata_versions(table_dir)
    if versions:
        meta = load_metadata(table_dir)
        schema = {s["schema-id"]: s for s in meta["schemas"]}[
            meta["current-schema-id"]
        ]
        # B211 schema evolution: an append ADDING columns registers a
        # new schema version with FRESH field ids (the spec forbids id
        # reuse) and makes it current; type changes refuse loudly.
        cur_by = {f_["name"]: f_ for f_ in schema["fields"]}
        new_cols = dict(df.dtypes)
        mismatched = [
            n
            for n, t in new_cols.items()
            if n in cur_by and cur_by[n]["type"] != _ICE_TYPES.get(t, t)
        ]
        if mismatched:
            raise ValueError(
                f"append changes column types {mismatched} — iceberg "
                "schema evolution only ADDS columns"
            )
        added = [
            (n, t) for n, t in df.dtypes if n not in cur_by
        ]
        if added:
            if not merge_schema:
                raise ValueError(
                    f"append adds columns {[n for n, _ in added]} — pass "
                    "merge_schema=True to evolve the table schema"
                )
            next_id = int(meta.get("last-column-id", len(cur_by)))
            new_fields = list(schema["fields"])
            for n, t in added:
                next_id += 1
                new_fields.append(
                    {
                        "id": next_id,
                        "name": n,
                        "required": False,
                        "type": _ICE_TYPES.get(t, t),
                    }
                )
            schema = {
                "schema-id": max(s_["schema-id"] for s_ in meta["schemas"])
                + 1,
                "type": "struct",
                "fields": new_fields,
            }
            meta = dict(
                meta,
                schemas=meta["schemas"] + [schema],
                **{
                    "current-schema-id": schema["schema-id"],
                    "last-column-id": next_id,
                },
            )
    else:
        meta = None
        schema = _schema_struct(df)
    specs = list(meta["partition-specs"]) if meta else []
    if spec is None:
        spec_id = meta["default-spec-id"] if meta else 0
        if not specs:
            specs = [_spec_struct([], 0, schema)]
    else:
        want = _spec_struct(spec, 0, schema)
        match = next(
            (
                s
                for s in specs
                if [(f["source-name"], f["transform"]) for f in s["fields"]]
                == [(f["source-name"], f["transform"]) for f in want["fields"]]
            ),
            None,
        )
        if match:
            spec_id = match["spec-id"]
        else:
            spec_id = max((s["spec-id"] for s in specs), default=-1) + 1
            specs.append(_spec_struct(spec, spec_id, schema))
    spec_fields = next(s for s in specs if s["spec-id"] == spec_id)["fields"]

    seq = (meta.get("last-sequence-number", 0) + 1) if meta else 1
    snap_id = seq  # deterministic, unique per table (single-writer fixture)
    sub = os.path.join(table_dir, "data", f"s{seq:05d}")
    out = df
    derived = []
    for i, fld in enumerate(spec_fields):
        derived.append(
            _ice_transform_col(df, fld["source-name"], fld["transform"]).alias(
                f"{_PT}{i}"
            )
        )
    if derived:
        out = df.select("*", *derived).repartition(
            *[F.col(f"{_PT}{i}") for i in range(len(derived))]
        )
        out.write.mode("overwrite").partitionBy(
            *[f"{_PT}{i}" for i in range(len(derived))]
        ).parquet(sub)
    else:
        out.write.mode("overwrite").parquet(sub)

    import pyarrow.parquet as pq
    from urllib.parse import unquote

    entries = []
    for root, _d, fs in os.walk(sub):
        for fname in sorted(fs):
            if not fname.endswith(".parquet") or fname.startswith(("_", ".")):
                continue
            p = os.path.join(root, fname)
            part = {}
            rel = os.path.relpath(p, sub)
            for i, fld in enumerate(spec_fields):
                m = re.search(rf"(?:^|/){_PT}{i}=([^/]+)/", rel)
                if not m:
                    raise ValueError(f"partition dir missing in {rel}")
                raw = unquote(m.group(1))
                part[fld["name"]] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                )
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": 0,
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": part,
                        "record_count": pq.read_metadata(p).num_rows,
                        "file_size_in_bytes": os.path.getsize(p),
                    },
                }
            )
    manifest_path = os.path.join(meta_dir, f"manifest-{seq:05d}.avro")
    av.write_ocf(manifest_path, _MANIFEST_SCHEMA, entries)
    mlist_rows = [
        {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": spec_id,
            "content": 0,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
        }
    ]
    if meta and meta.get("current-snapshot-id") is not None:
        prev = _resolve_snapshot(meta, None)
        _s, carried = av.read_ocf(prev["manifest-list"])
        mlist_rows = carried + mlist_rows
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    av.write_ocf(mlist_path, _MANIFEST_LIST_SCHEMA, mlist_rows)
    new_snap = {
        "snapshot-id": snap_id,
        "parent-snapshot-id": meta.get("current-snapshot-id") if meta else None,
        "sequence-number": seq,
        "timestamp-ms": 0,
        "manifest-list": mlist_path,
        "summary": dict({"operation": "append"}, **(summary_props or {})),
        "schema-id": schema["schema-id"],
    }
    new_meta = {
        "format-version": 2,
        "table-uuid": meta["table-uuid"] if meta else str(uuid.uuid4()),
        "location": table_dir,
        "last-sequence-number": seq,
        "last-updated-ms": 0,
        # evolution (B211): carry EVERY schema version forward — a
        # one-schema rewrite here would orphan older snapshots' ids
        "last-column-id": (
            meta["last-column-id"] if meta else len(schema["fields"])
        ),
        "schemas": (meta["schemas"] if meta else [schema]),
        "current-schema-id": schema["schema-id"],
        "partition-specs": specs,
        "default-spec-id": spec_id,
        "properties": {},
        "current-snapshot-id": snap_id,
        "snapshots": (meta.get("snapshots", []) if meta else []) + [new_snap],
        "snapshot-log": (meta.get("snapshot-log", []) if meta else [])
        + [{"timestamp-ms": 0, "snapshot-id": snap_id}],
    }
    _publish_metadata(table_dir, new_meta)
    return snap_id


def iceberg_delete_files(table_dir: str, pred) -> int:
    """New snapshot dropping every live file whose manifest entry
    satisfies ``pred({"path", "partition", "spec_id"})`` — file-level
    delete via a REWRITE manifest per surviving spec (carried entries
    re-emitted with status=0 existing), the base-format granularity
    (row-level needs v2 delete files, out of interop scope)."""
    snap = iceberg_snapshot(table_dir)
    if snap["deletes"]:
        raise NotImplementedError(
            "file-level rewrite over a table with live delete files would "
            "drop them and resurrect rows — compact the deletes first"
        )
    meta = snap["metadata"]
    seq = meta["last-sequence-number"] + 1
    snap_id = seq
    meta_dir = _meta_dir(table_dir)
    by_spec: dict[int, list[dict]] = {}
    n_dropped = 0
    for f in snap["files"]:
        if pred(f):
            n_dropped += 1
            continue
        by_spec.setdefault(f["spec_id"], []).append(f)
    if n_dropped == 0:
        raise ValueError("delete predicate matched no live files")
    mlist_rows = []
    for i, (spec_id, files) in enumerate(sorted(by_spec.items())):
        entries = [
            {
                "status": 0,
                "snapshot_id": snap_id,
                # rewrite manifests carry each file's ORIGINAL data
                # sequence number so delete-file scoping survives
                "sequence_number": int(f.get("seq", 0)),
                "data_file": {
                    "content": 0,
                    "file_path": f["path"],
                    "file_format": "PARQUET",
                    "partition": f["partition"],
                    "record_count": f.get("record_count") or 0,
                    "file_size_in_bytes": os.path.getsize(f["path"]),
                },
            }
            for f in files
        ]
        mpath = os.path.join(meta_dir, f"manifest-{seq:05d}-{i}.avro")
        av.write_ocf(mpath, _MANIFEST_SCHEMA, entries)
        mlist_rows.append(
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": spec_id,
                "content": 0,
                "sequence_number": seq,
                "added_snapshot_id": snap_id,
            }
        )
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    av.write_ocf(mlist_path, _MANIFEST_LIST_SCHEMA, mlist_rows)
    new_snap = {
        "snapshot-id": snap_id,
        "parent-snapshot-id": meta["current-snapshot-id"],
        "sequence-number": seq,
        "timestamp-ms": 0,
        "manifest-list": mlist_path,
        "summary": {"operation": "delete"},
        "schema-id": 0,
    }
    new_meta = dict(
        meta,
        **{
            "last-sequence-number": seq,
            "current-snapshot-id": snap_id,
            "snapshots": meta["snapshots"] + [new_snap],
            "snapshot-log": meta["snapshot-log"]
            + [{"timestamp-ms": 0, "snapshot-id": snap_id}],
        },
    )
    _publish_metadata(table_dir, new_meta)
    return snap_id


def _publish_delete_snapshot(
    table_dir: str,
    delete_file: str,
    content: int,
    equality_cols=None,
    equality_ids=None,
) -> int:
    """Shared v2 merge-on-read commit: a new snapshot whose manifest
    list = the parent's manifests (carried verbatim, original seqs) +
    one delete manifest holding ``delete_file`` at the NEW sequence
    number."""
    snap = iceberg_snapshot(table_dir)
    meta = snap["metadata"]
    seq = meta["last-sequence-number"] + 1
    snap_id = seq
    meta_dir = _meta_dir(table_dir)
    entry = {
        "status": 1,
        "snapshot_id": snap_id,
        "sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": delete_file,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 0,
            "file_size_in_bytes": os.path.getsize(delete_file),
            "equality_cols": list(equality_cols) if equality_cols else None,
            "equality_ids": list(equality_ids) if equality_ids else None,
        },
    }
    mpath = os.path.join(meta_dir, f"manifest-{seq:05d}-del.avro")
    av.write_ocf(mpath, _MANIFEST_SCHEMA, [entry])
    prev = _resolve_snapshot(meta, None)
    _s, carried = av.read_ocf(prev["manifest-list"])
    mlist_rows = carried + [
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": meta["default-spec-id"],
            "content": 1,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
        }
    ]
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    av.write_ocf(mlist_path, _MANIFEST_LIST_SCHEMA, mlist_rows)
    new_snap = {
        "snapshot-id": snap_id,
        "parent-snapshot-id": meta["current-snapshot-id"],
        "sequence-number": seq,
        "timestamp-ms": 0,
        "manifest-list": mlist_path,
        "summary": {"operation": "delete"},
        "schema-id": 0,
    }
    new_meta = dict(
        meta,
        **{
            "last-sequence-number": seq,
            "current-snapshot-id": snap_id,
            "snapshots": meta["snapshots"] + [new_snap],
            "snapshot-log": meta["snapshot-log"]
            + [{"timestamp-ms": 0, "snapshot-id": snap_id}],
        },
    )
    _publish_metadata(table_dir, new_meta)
    return snap_id


def iceberg_positional_delete(
    spark: SparkSession, table_dir: str, predicate
) -> int:
    """ROW-level delete via a v2 POSITION-delete file: scan the live
    snapshot with the ``_metadata`` row identity, keep (file_path, pos)
    of rows matching ``predicate`` (a Column), write them as a delete
    parquet, and commit it at the next sequence number — the read side
    anti-joins pairs at merge time (no data rewritten; pairs-rate
    bytes, the Iceberg v2 MOR shape; same discipline as the repo's own
    B169)."""
    snap = iceberg_snapshot(table_dir)
    if not snap["files"]:
        raise ValueError("no data files to delete from")
    # every physical row with its identity (already-deleted rows may
    # match again: a repeated pair deletes nothing new)
    plan = replace(iceberg_plan(table_dir), position_deletes=[], equality_deletes=[])
    victims = (
        scan(spark, plan, row_identity=True)
        .filter(predicate)
        .selectExpr(f"{POS_PATH} AS file_path", f"{POS_ROW} AS pos")
    )
    seq = snap["metadata"]["last-sequence-number"] + 1
    out_dir = os.path.join(table_dir, "data", f"del-{seq:05d}")
    victims.coalesce(1).write.mode("overwrite").parquet(out_dir)
    dfiles = [
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    if len(dfiles) != 1:
        raise ValueError(f"expected one delete file, got {dfiles}")
    return _publish_delete_snapshot(table_dir, dfiles[0], content=1)


def iceberg_equality_delete(
    spark: SparkSession,
    table_dir: str,
    keys,
    equality_cols: list[str],
    write_field_ids: bool = False,
) -> int:
    """ROW-level delete via a v2 EQUALITY-delete file: ``keys`` (a
    DataFrame of the key columns) lands as a delete parquet scoped to
    apply to data files with a STRICTLY lower sequence number — rows
    with those keys appended AFTER this delete survive (the spec's
    re-insert semantics, pytest-pinned).  ``write_field_ids=True``
    records the spec's ``equality_ids`` (field ids resolved from the
    current schema) INSTEAD of names — the form real Iceberg writers
    emit."""
    snap = iceberg_snapshot(table_dir)
    seq = snap["metadata"]["last-sequence-number"] + 1
    out_dir = os.path.join(table_dir, "data", f"eqdel-{seq:05d}")
    keys.select(*equality_cols).dropDuplicates().coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    dfiles = [
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    if len(dfiles) != 1:
        raise ValueError(f"expected one delete file, got {dfiles}")
    if write_field_ids:
        name_to_id = {
            f_["name"]: int(f_["id"])
            for s in snap["metadata"].get("schemas", [])
            for f_ in s.get("fields", [])
        }
        missing = [c for c in equality_cols if c not in name_to_id]
        if missing:
            raise ValueError(f"no schema field id for columns {missing}")
        return _publish_delete_snapshot(
            table_dir,
            dfiles[0],
            content=2,
            equality_ids=[name_to_id[c] for c in equality_cols],
        )
    return _publish_delete_snapshot(
        table_dir, dfiles[0], content=2, equality_cols=equality_cols
    )


def _publish_metadata(table_dir: str, meta: dict) -> None:
    meta_dir = _meta_dir(table_dir)
    v = max(_metadata_versions(table_dir), default=0) + 1
    final = os.path.join(meta_dir, f"v{v}.metadata.json")
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, final)
    hint = os.path.join(meta_dir, "version-hint.text")
    tmp = hint + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, hint)


def export_iceberg_meta(
    spark: SparkSession,
    table_dir: str,
    dest_dir: str,
) -> int:
    """B199: publish a timetravel-protocol table (operators/timetravel)
    AS an Apache Iceberg v2 table — the UniForm/XTable direction,
    symmetric to B196's Delta export but STRICTLY more expressive:
    Iceberg v2 can carry the snapshot protocol's merge-on-read debt
    (B152 equality-delete and B169 position-delete files) as real
    DELETE manifests, which base Delta cannot.

    Metadata-only for data: every data file is referenced in place by
    absolute path with its manifest row count; per exported snapshot
    one data manifest (status 1 = entered at this version, 0 =
    carried; entry-level ``sequence_number`` = the version the file
    ENTERED, preserving the scoping the reader groups by) plus one
    delete manifest when MOR debt exists.  Delete-file translation:

    - equality deletes (kind="delete"): referenced in place; the key
      columns ARE the file's own columns (read footer-rate) and are
      recorded as ``equality_cols`` + schema-resolved
      ``equality_ids``;
    - position deletes (kind="posdelete"): the pairs parquet is
      REWRITTEN (pairs-rate, never data-rate) because Iceberg mandates
      the (file_path, pos) column names while the snapshot protocol
      stores (file_path, row_index) — the one non-metadata write, and
      it is bounded by delete cardinality.

    Each snapshot version becomes one ``vN.metadata.json`` whose
    snapshot list grows monotonically, so BOTH travel modes work on
    the export: ``snapshot_id=`` against the final metadata and
    ``metadata_version=`` against history.  Refusals (loud, not
    lossy): schema drift across versions (footer fingerprints — the
    B196 rule; the interop reader resolves names via
    current-schema-id, so one exported schema must serve every
    version) and a destination that is already an Iceberg table.

    Returns the number of snapshots exported."""
    import pyarrow.parquet as _pq

    from ..operators.timetravel import manifest_entries, snapshot_versions

    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshot in {table_dir}")
    if is_iceberg_table(dest_dir):
        raise ValueError(f"destination already has iceberg metadata: {dest_dir}")
    meta_dir = _meta_dir(dest_dir)
    os.makedirs(meta_dir, exist_ok=True)

    fp_cache: dict[str, str] = {}

    def _fp(p: str) -> str:
        if p not in fp_cache:
            fp_cache[p] = str(_pq.read_schema(p))
        return fp_cache[p]

    schema: dict | None = None
    schema_fp: str | None = None
    table_uuid = str(uuid.uuid4())
    snapshots: list[dict] = []
    snap_log: list[dict] = []
    pos_converted: dict[str, str] = {}  # source pairs file -> rewritten
    prev_paths: set[str] = set()
    n = 0
    for v in versions:
        entries = manifest_entries(table_dir, v)
        data_entries = [e for e in entries if e["kind"] == "data"]
        fps = {_fp(e["path"]) for e in data_entries}
        if len(fps) > 1:
            raise ValueError(
                f"snapshot v{v} mixes {len(fps)} parquet schemas across its "
                "live data files — one Iceberg schema cannot serve them"
            )
        if schema is None and data_entries:
            from ..catalog import read_parquet_footer

            schema = _schema_struct(
                read_parquet_footer(spark, data_entries[0]["path"])
            )
            schema_fp = next(iter(fps))
        elif fps and next(iter(fps)) != schema_fp:
            raise ValueError(
                f"snapshot v{v} drifts from the exported schema — "
                "Iceberg schema evolution is not carried by this export"
            )
        if schema is None:
            raise ValueError(
                f"first snapshot v{v} has no data files — cannot derive "
                "an Iceberg schema to export"
            )
        col_ids = {f_["name"]: int(f_["id"]) for f_ in schema["fields"]}
        seen_before = prev_paths
        data_rows, delete_rows = [], []
        for e in entries:
            seq = int(e.get("seq") or 0)
            status = 0 if e["path"] in seen_before else 1
            n_rows = e.get("n_rows")
            if n_rows is None:
                n_rows = _pq.read_metadata(e["path"]).num_rows
            base = {
                "status": status,
                "snapshot_id": v,
                "sequence_number": seq,
            }
            if e["kind"] == "data":
                data_rows.append(
                    dict(
                        base,
                        data_file={
                            "content": 0,
                            "file_path": e["path"],
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": int(n_rows),
                            "file_size_in_bytes": os.path.getsize(e["path"]),
                        },
                    )
                )
            elif e["kind"] == "posdelete":
                if e["path"] not in pos_converted:
                    t = _pq.read_table(e["path"])
                    if sorted(t.column_names) != ["file_path", "row_index"]:
                        raise ValueError(
                            f"position-delete file {e['path']!r} has columns "
                            f"{t.column_names}, expected (file_path, row_index)"
                        )
                    t = t.rename_columns(
                        [
                            "pos" if c == "row_index" else c
                            for c in t.column_names
                        ]
                    )
                    dst = os.path.join(
                        dest_dir,
                        "deletes",
                        f"pos-{len(pos_converted):05d}.parquet",
                    )
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    _pq.write_table(t, dst)
                    pos_converted[e["path"]] = dst
                delete_rows.append(
                    dict(
                        base,
                        data_file={
                            "content": 1,
                            "file_path": pos_converted[e["path"]],
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": int(n_rows),
                            "file_size_in_bytes": os.path.getsize(
                                pos_converted[e["path"]]
                            ),
                        },
                    )
                )
            elif e["kind"] == "delete":
                cols = list(_pq.read_schema(e["path"]).names)
                unknown = [c for c in cols if c not in col_ids]
                if unknown:
                    raise ValueError(
                        f"equality-delete file {e['path']!r} keys on columns "
                        f"{unknown} absent from the exported schema"
                    )
                delete_rows.append(
                    dict(
                        base,
                        data_file={
                            "content": 2,
                            "file_path": e["path"],
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": int(n_rows),
                            "file_size_in_bytes": os.path.getsize(e["path"]),
                            "equality_cols": cols,
                            "equality_ids": [col_ids[c] for c in cols],
                        },
                    )
                )
            else:
                raise NotImplementedError(
                    f"manifest kind {e['kind']!r} in snapshot v{v}"
                )
        mlist_rows = []
        man_path = os.path.join(meta_dir, f"xmanifest-{v:05d}.avro")
        av.write_ocf(man_path, _MANIFEST_SCHEMA, data_rows)
        mlist_rows.append(
            {
                "manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": int(v),
                "added_snapshot_id": int(v),
            }
        )
        if delete_rows:
            dman_path = os.path.join(meta_dir, f"xmanifest-d{v:05d}.avro")
            av.write_ocf(dman_path, _MANIFEST_SCHEMA, delete_rows)
            mlist_rows.append(
                {
                    "manifest_path": dman_path,
                    "manifest_length": os.path.getsize(dman_path),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": int(v),
                    "added_snapshot_id": int(v),
                }
            )
        mlist_path = os.path.join(meta_dir, f"xsnap-{v}.avro")
        av.write_ocf(mlist_path, _MANIFEST_LIST_SCHEMA, mlist_rows)
        snapshots.append(
            {
                "snapshot-id": int(v),
                "parent-snapshot-id": (
                    snapshots[-1]["snapshot-id"] if snapshots else None
                ),
                "sequence-number": int(v),
                "timestamp-ms": 0,
                "manifest-list": mlist_path,
                "summary": {"operation": "append"},
                "schema-id": 0,
            }
        )
        snap_log.append({"timestamp-ms": 0, "snapshot-id": int(v)})
        prev_paths = {e["path"] for e in entries}
        _publish_metadata(
            dest_dir,
            {
                "format-version": 2,
                "table-uuid": table_uuid,
                "location": dest_dir,
                "last-sequence-number": int(v),
                "last-updated-ms": 0,
                "last-column-id": len(schema["fields"]),
                "schemas": [schema],
                "current-schema-id": 0,
                "partition-specs": [_spec_struct([], 0, schema)],
                "default-spec-id": 0,
                "properties": {},
                "current-snapshot-id": int(v),
                "snapshots": list(snapshots),
                "snapshot-log": list(snap_log),
            },
        )
        n += 1
    return n


def expire_iceberg_snapshots(table_dir: str, retain: int = 1) -> list[int]:
    """B207: expireSnapshots — publish a new metadata version whose
    snapshot list keeps only the newest ``retain`` snapshots (the
    current one always survives; spec: expiration is a metadata
    operation, file deletion is the separate orphan sweep below).
    Returns the expired snapshot ids.  Time travel to an expired
    snapshot id then fails loud at resolve time — exactly the
    spec-described behavior."""
    if retain < 1:
        raise ValueError("must retain at least the current snapshot")
    meta = load_metadata(table_dir)
    snaps = sorted(
        meta.get("snapshots", []), key=lambda s: s["sequence-number"]
    )
    if len(snaps) <= retain:
        return []
    keep = snaps[-retain:]
    if meta.get("current-snapshot-id") not in {
        s["snapshot-id"] for s in keep
    }:
        raise ValueError("cannot expire the current snapshot")
    expired = [s["snapshot-id"] for s in snaps[:-retain]]
    keep_ids = {s["snapshot-id"] for s in keep}
    new_meta = dict(
        meta,
        snapshots=keep,
        **{
            "snapshot-log": [
                e
                for e in meta.get("snapshot-log", [])
                if e["snapshot-id"] in keep_ids
            ]
        },
    )
    _publish_metadata(table_dir, new_meta)
    return expired


def vacuum_iceberg(table_dir: str, dry_run: bool = False) -> list[str]:
    """B207, sweep half: delete data files, delete files, manifests and
    manifest lists unreferenced by ANY snapshot of the CURRENT
    metadata version (run :func:`expire_iceberg_snapshots` first to
    shrink that set).  Old ``vN.metadata.json`` files are also pruned
    (they reference the swept snapshots).  Only paths under the table
    dir are candidates — an export's in-place absolute references to
    foreign files are never touched, and foreign files inside the
    table dir don't match the layout patterns.  Metadata-rate: listing
    + manifest walks, no data reads."""
    meta = load_metadata(table_dir)
    keep: set[str] = set()
    for s in meta.get("snapshots", []):
        mlist = s["manifest-list"]
        keep.add(os.path.abspath(mlist))
        _sch, rows = av.read_ocf(mlist)
        for m in rows:
            keep.add(os.path.abspath(m["manifest_path"]))
            _s2, entries = av.read_ocf(m["manifest_path"])
            for e in entries:
                keep.add(os.path.abspath(e["data_file"]["file_path"]))
    meta_dir = _meta_dir(table_dir)
    versions = _metadata_versions(table_dir)
    current_v = max(versions)
    victims: list[str] = []
    for v, p in versions.items():
        if v != current_v:
            victims.append(os.path.abspath(p))
    for root, _dirs, fs in os.walk(table_dir):
        for fname in fs:
            p = os.path.abspath(os.path.join(root, fname))
            if p in keep or p in victims:
                continue
            base = os.path.basename(p)
            in_meta = os.path.dirname(p) == os.path.abspath(meta_dir)
            is_manifest = in_meta and base.endswith(".avro")
            is_data = (not in_meta) and base.endswith(".parquet")
            if is_manifest or is_data:
                victims.append(p)
    if not dry_run:
        for p in victims:
            os.remove(p)
    return sorted(victims)


def iceberg_last_epoch(table_dir: str, app_id: str) -> int:
    """B219: the highest streaming epoch this app has committed, from
    snapshot SUMMARY properties (iceberg-spark's exactly-once pattern:
    the writer stamps each commit with its query id + epoch and skips
    replays) — metadata-rate scan of the snapshot list.  -1 = none."""
    meta = load_metadata(table_dir)
    best = -1
    for s_ in meta.get("snapshots", []):
        summ = s_.get("summary") or {}
        if summ.get("k2e.app-id") == str(app_id):
            try:
                best = max(best, int(summ.get("k2e.epoch-id", -1)))
            except (TypeError, ValueError):
                pass
    return best


def iceberg_append_epoch(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    app_id: str,
    epoch_id: int,
    spec: list[tuple[str, str]] | None = None,
) -> int | None:
    """B219: idempotent append — skipped (None) when the table already
    records this app at an equal-or-later epoch (a foreachBatch retry
    or restarted query re-delivering a committed batch); otherwise one
    snapshot whose summary carries the (app, epoch) stamp atomically
    with the data (the summary lives in the same metadata.json publish
    as the manifest list — one rename, no window for a stamped-but-
    dataless or data-but-unstamped state)."""
    if is_iceberg_table(table_dir):
        if iceberg_last_epoch(table_dir, app_id) >= int(epoch_id):
            return None
    return iceberg_append(
        spark,
        table_dir,
        df,
        spec=spec,
        summary_props={
            "k2e.app-id": str(app_id),
            "k2e.epoch-id": str(int(epoch_id)),
        },
    )


def iceberg_stream_sink(table_dir: str, app_id: str):
    """B219: exactly-once Iceberg streaming SINK — a ``foreachBatch``
    function committing each micro-batch as one epoch-stamped
    snapshot.  Pair with B217's source for iceberg-to-iceberg
    pipelines."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        iceberg_append_epoch(
            batch_df.sparkSession, table_dir, batch_df, app_id, int(batch_id)
        )

    return _write
