"""Delta Lake ``_delta_log`` interop reader (B190).

A real 100 TB lakehouse table usually arrives as a DELTA table, not as
this repo's own snapshot protocol (operators/timetravel.py).  This
module reads the open Delta transaction-log format (the published
PROTOCOL.md at github.com/delta-io/delta — JSON commit files of
actions plus parquet checkpoints) WITHOUT the delta-spark runtime:

- log replay: newest checkpoint <= target version seeds the file set,
  then each later ``%020d.json`` commit applies its actions in order
  (``add`` inserts/replaces by path, ``remove`` drops, last
  ``metaData``/``protocol`` wins) — exactly the spec's state
  reconstruction;
- version time travel: replay simply stops at the requested version;
- reading: ``delta_plan`` resolves a snapshot into the scan core's
  ``ScanPlan`` (sources/scan.py — where pruning and scanning live):
  Delta data files do NOT contain the partition columns, so each
  file's ``partitionValues`` become typed literals injected per
  partition group, and, with its ``stats``, typed bounds for file
  skipping;
- schema: ``metaData.schemaString`` is the JSON-serialized Spark
  StructType the spec mandates — parsed with ``StructType.fromJson``;
- safety: reader features beyond protocol v1 (column mapping, deletion
  vectors, ...) FAIL LOUD instead of silently mis-reading.

The writer half (``delta_append`` / ``delta_remove_where`` /
``delta_checkpoint``) exists to build REAL fixture tables for tests and
the oracle query — generator-built, no vendored data — and follows the
same spec: actions as ndjson, checkpoint as a parquet of nullable
action structs plus ``_last_checkpoint``.

Scale: the log itself is metadata (KBs per commit; checkpoints
amortize long logs exactly like the spec intends), and the data path
stays a plain pushdown-friendly parquet scan over explicit file lists.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import uuid
from dataclasses import replace
from decimal import Decimal
from urllib.parse import quote, unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .scan import (
    POS_PATH,
    POS_ROW,
    DataFile,
    PositionDelete,
    ScanPlan,
    position_frame,
    prune,
    scan,
)

_LOG = "_delta_log"
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_JSON_RE = re.compile(r"^(\d{20})\.json$")
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG)


def is_delta_table(table_dir: str) -> bool:
    return os.path.isdir(_log_dir(table_dir))


def _list_log(log_dir: str) -> tuple[dict[int, str], dict[int, str]]:
    """(json commits, checkpoints) by version."""
    commits: dict[int, str] = {}
    ckpts: dict[int, str] = {}
    for f in os.listdir(log_dir):
        m = _JSON_RE.match(f)
        if m:
            commits[int(m.group(1))] = os.path.join(log_dir, f)
        m = _CKPT_RE.match(f)
        if m:
            ckpts[int(m.group(1))] = os.path.join(log_dir, f)
    return commits, ckpts


def _read_commit_actions(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _read_checkpoint_actions(path: str) -> list[dict]:
    """A checkpoint parquet holds one action per row in nullable struct
    columns (add / remove / metaData / protocol / txn per the spec);
    re-shape rows back into the JSON-action form so replay has ONE
    code path."""
    t = pq.read_table(path)
    out: list[dict] = []
    for row in t.to_pylist():
        for key in ("protocol", "metaData", "add", "remove", "txn"):
            v = row.get(key)
            if v is not None:
                if key in ("add", "remove") and isinstance(
                    v.get("partitionValues"), list
                ):
                    # pyarrow renders map<string,string> as (k, v) pairs
                    v = dict(v, partitionValues=dict(v["partitionValues"]))
                if key == "metaData" and isinstance(
                    v.get("configuration"), list
                ):
                    v = dict(v, configuration=dict(v["configuration"]))
                out.append({key: v})
    return out


def _check_protocol(protocol: dict | None, metadata: dict | None) -> None:
    """Reader-version gate.  v1 always ok; v2 = column mapping, which
    this reader SUPPORTS in ``name`` mode (physical->logical rename via
    the schemaString field metadata) and rejects in ``id`` mode
    (parquet-field-id resolution — a silent misread risk without it);
    v3 features beyond columnMapping/timestampNtz/deletionVectors
    (B198) reject loudly."""
    if not protocol:
        return
    v = int(protocol.get("minReaderVersion", 1))
    feats = protocol.get("readerFeatures") or []
    mode = _mapping_mode(metadata)
    if v == 2 and mode not in ("none", "name"):
        raise NotImplementedError(
            f"delta columnMapping mode {mode!r} not supported (only 'name')"
        )
    if v > 2 and not feats:
        raise NotImplementedError(
            f"delta reader protocol v{v} not supported by this interop reader"
        )
    unsupported = [
        f_
        for f_ in feats
        if f_ not in ("timestampNtz", "columnMapping", "deletionVectors")
    ]
    if unsupported:
        raise NotImplementedError(
            f"unsupported delta readerFeatures: {unsupported}"
        )
    if ("columnMapping" in feats or v == 2) and mode == "id":
        raise NotImplementedError("delta columnMapping mode 'id' not supported")


def _mapping_mode(metadata: dict | None) -> str:
    return (
        (metadata or {}).get("configuration", {}) or {}
    ).get("delta.columnMapping.mode", "none")


def _physical_map(metadata: dict) -> dict[str, str]:
    """logical name -> physical name from the schemaString field
    metadata (the spec's delta.columnMapping.physicalName key)."""
    fields = json.loads(metadata["schemaString"]).get("fields", [])
    out = {}
    for f in fields:
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        )
        out[f["name"]] = phys or f["name"]
    return out


def delta_snapshot(table_dir: str, version: int | None = None) -> dict:
    """Reconstruct the table state as of ``version`` (None = latest):
    {"version", "files": [{path(abs), partitionValues, size, stats}],
    "schema": StructType, "partition_columns", "metadata", "protocol",
    "checkpoint_used"}.  Pure metadata work — never touches a data
    file."""
    log_dir = _log_dir(table_dir)
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a delta table (no {_LOG}): {table_dir}")
    commits, ckpts = _list_log(log_dir)
    if not commits and not ckpts:
        raise ValueError(f"empty delta log in {table_dir}")
    latest = max(list(commits) + list(ckpts))
    target = latest if version is None else int(version)
    if target > latest:
        # delta-spark raises here too: a version above the log is a
        # mistyped or not-yet-replicated request, not "latest, please"
        raise ValueError(
            f"version {target} is beyond the latest committed version "
            f"{latest} in {table_dir}"
        )
    known = sorted(set(commits) | set(ckpts))
    if target not in set(known) and target < known[0]:
        raise ValueError(
            f"version {target} predates the log (earliest {known[0]})"
        )
    # seed from the newest checkpoint <= target (the spec's replay rule;
    # _last_checkpoint is a hint, the listing is the truth)
    ckpt_v = max((v for v in ckpts if v <= target), default=None)
    actions: list[dict] = []
    checkpoint_used = False
    if ckpt_v is not None:
        actions.extend(_read_checkpoint_actions(ckpts[ckpt_v]))
        checkpoint_used = True
        start = ckpt_v + 1
    else:
        start = min(commits) if commits else 0
    for v in range(start, target + 1):
        if v in commits:
            actions.extend(_read_commit_actions(commits[v]))
        elif ckpt_v is None or v > ckpt_v:
            # a gap in the json log below target with no covering
            # checkpoint means an expired/cleaned log we cannot replay
            raise ValueError(
                f"delta log gap at version {v} (no json commit, no "
                "covering checkpoint)"
            )
    live: dict[str, dict] = {}
    metadata: dict | None = None
    protocol: dict | None = None
    txns: dict[str, int] = {}  # appId -> latest txn version (B215)
    for a in actions:
        if "metaData" in a:
            metadata = a["metaData"]
        elif "protocol" in a:
            protocol = a["protocol"]
        elif "txn" in a:
            t = a["txn"]
            if t and t.get("appId") is not None:
                txns[t["appId"]] = max(
                    int(t.get("version", -1)),
                    txns.get(t["appId"], -1),
                )
        elif "add" in a:
            add = a["add"]
            # file identity is the DECODED path (the spec's add.path is
            # URL-encoded; two writers may quote differently — keying
            # by the raw string would let a remove miss its add and
            # resurrect/duplicate the file)
            live[unquote(add["path"])] = add
        elif "remove" in a:
            live.pop(unquote(a["remove"]["path"]), None)
    _check_protocol(protocol, metadata)
    if metadata is None:
        raise ValueError(f"no metaData action found in {table_dir}")
    fmt = (metadata.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise NotImplementedError(f"delta format provider {fmt!r}")
    schema = StructType.fromJson(json.loads(metadata["schemaString"]))
    files = [
        {
            "path": os.path.join(table_dir, p),  # key is already decoded
            "partitionValues": add.get("partitionValues") or {},
            "size": add.get("size"),
            "stats": add.get("stats"),
            # B198: row-level deletes — an add that replaces a path
            # replaces its DV too (the spec's replay rule; the log keys
            # file state by path, so last add wins wholesale)
            "deletionVector": add.get("deletionVector"),
        }
        for p, add in live.items()
    ]
    return {
        "version": target,
        "files": files,
        "schema": schema,
        "partition_columns": metadata.get("partitionColumns") or [],
        "metadata": metadata,
        "protocol": protocol,
        "checkpoint_used": checkpoint_used,
        "column_mapping": _mapping_mode(metadata),
        "physical_names": _physical_map(metadata),
        "txns": txns,
    }


_PARSERS = {
    "long": int,
    "integer": int,
    "short": int,
    "byte": int,
    "double": float,
    "float": float,
    "decimal": Decimal,
    "string": str,
    "boolean": lambda s: {"true": True, "false": False}[s.lower()],
    "date": _dt.date.fromisoformat,
    # the spec's ``yyyy-MM-dd HH:mm:ss[.S]``; a zoned stats string parses
    # tz-aware, so a naive probe against it stays undecidable
    "timestamp": _dt.datetime.fromisoformat,
    "timestamp_ntz": _dt.datetime.fromisoformat,
}


def _typed(parse, raw):
    """A partitionValues / stats value in its column's typed domain, or
    None when absent or malformed (no bound)."""
    if parse is None or raw is None:
        return None
    try:
        return parse(str(raw))
    except (ValueError, KeyError, ArithmeticError):
        return None


def delta_plan(
    table_dir: str, snap: dict, files: list[dict] | None = None
) -> ScanPlan:
    """Resolve a snapshot (or its ``files`` subset) into a ``ScanPlan``:
    ``partitionValues`` become injected literals and, parsed by the
    ``schemaString`` type, [v, v] bounds; ``stats`` min/maxValues
    (keyed by PHYSICAL name) become typed bounds; a deletion vector
    (B198) becomes a driver-decoded position delete.  Files and DVs all
    sit at seq 0: a DV deletes from its own file."""
    from . import dvectors as _dv

    schema: StructType = snap["schema"]
    pcols: list[str] = snap["partition_columns"]
    pmap: dict = snap.get("physical_names") or {}
    parse = {f.name: _PARSERS.get(f.dataType.typeName()) for f in schema.fields}
    out: list[DataFile] = []
    deletes: list[PositionDelete] = []
    for f_ in snap["files"] if files is None else files:
        bounds = {}
        try:
            st = f_.get("stats")
            st = json.loads(st) if isinstance(st, str) else st
            lo, hi = st.get("minValues") or {}, st.get("maxValues") or {}
            for c, fn in parse.items():
                p = pmap.get(c, c)
                bounds[c] = (_typed(fn, lo.get(p)), _typed(fn, hi.get(p)))
        except (ValueError, TypeError, AttributeError):
            bounds = {}  # missing or malformed stats: no bounds
        pv = f_.get("partitionValues") or {}
        raw = tuple(pv.get(pmap.get(c, c)) for c in pcols)
        raw = tuple(None if r == _HIVE_NULL else r for r in raw)
        for c, r in zip(pcols, raw):
            bounds[c] = (_typed(parse[c], r),) * 2
        out.append(DataFile(f_["path"], partition=raw, bounds=bounds))
        if f_.get("deletionVector"):
            rows = _dv.decode_descriptor(table_dir, f_["deletionVector"])
            deletes.append(PositionDelete(0, rows={f_["path"]: rows}))
    return ScanPlan(
        out,
        schema,
        physical=pmap,
        partition_columns=pcols,
        position_deletes=deletes,
    )


def delta_prune(
    table_dir: str, filters: list[tuple], version: int | None = None
) -> tuple[list[str], int]:
    """Manifest-rate file skipping for Delta tables (B197): keep files
    whose partitionValues / recorded stats MAY satisfy every filter.
    Returns (kept paths, total live files)."""
    plan = delta_plan(table_dir, delta_snapshot(table_dir, version))
    return [f.path for f in prune(plan, filters)], len(plan.files)


def delta_version_asof_timestamp(table_dir: str, ts: float) -> int:
    """B209: TIMESTAMP AS OF resolution for the interop reader — the
    newest commit whose timestamp is <= ``ts`` (unix seconds).  Per the
    spec a commit's timestamp is its ``commitInfo.inCommitTimestamp``
    when the writer records one (honored first — it is monotone by
    construction), else the log file's modification time (delta-spark's
    fallback, clock-skew caveats and all).  Only SURVIVING json commits
    resolve: once ``expire_delta_log`` removed a commit its timestamp
    is gone, so timestamp travel reaches at most as far back as the log
    itself — the same horizon delta-spark exposes."""
    commits, _ckpts = _list_log(_log_dir(table_dir))
    if not commits:
        raise ValueError(f"no json commits to resolve a timestamp in {table_dir}")
    times: dict[int, float] = {}
    for v, p in commits.items():
        ict = None
        for a in _read_commit_actions(p):
            ci = a.get("commitInfo")
            if ci and ci.get("inCommitTimestamp") is not None:
                ict = float(ci["inCommitTimestamp"]) / 1000.0
        times[v] = ict if ict is not None else os.path.getmtime(p)
    eligible = [v for v, t in times.items() if t <= ts]
    if not eligible:
        earliest = min(times.values())
        raise ValueError(
            f"timestamp {ts} predates the earliest surviving commit "
            f"({earliest}) in {table_dir}"
        )
    return max(eligible)


def read_delta(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    filters: list[tuple] | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Read a Delta table as of ``version`` (or ``timestamp``) through
    the log replay and the scan core: partition columns injected from
    ``partitionValues`` (the spec's source of truth), column-mapping
    names renamed, ``filters`` skipping files at metadata rate (B197)
    with the residual filter applied — exact either way.  B198
    deletion vectors are decoded driver-side and anti-joined on the
    ``_metadata`` row identity (a broadcast of (file, row) longs);
    stats-based skipping stays sound because DV'd stats are wide bounds
    over ALL physical rows (the spec's tightBounds=false)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = delta_version_asof_timestamp(table_dir, timestamp)
    snap = delta_snapshot(table_dir, version)
    return scan(spark, delta_plan(table_dir, snap), filters or ())


def delta_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """B203: the change data feed DERIVED from log replay — row-level
    changes between ``from_version`` (exclusive) and ``to_version``
    (inclusive, None = latest) as the table schema plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version`` —
    the CDC contract Delta's readChangeFeed exposes, computed here
    without requiring CDC sidecar files, by diffing consecutive
    snapshots:

    - a file path present in v but not v-1: its LIVE rows (own DV
      applied) are inserts at v;
    - a path present in v-1 but not v: its live rows AS OF v-1 are
      deletes at v;
    - a path in both whose deletion vector GREW (B198): exactly the
      newly-dead positions are deletes at v (the touched files' rows
      with their identity, semi-joined to the positions); a DV that
      SHRANK (RESTORE) emits the revived positions as inserts.

    Updates therefore appear as delete+insert pairs (exactly what
    Delta reports for tables without CDC files).  A version whose
    json commit carries ONLY ``dataChange: false`` file actions (an
    OPTIMIZE/compaction rewrite, B206) is SKIPPED, matching
    delta-spark, while the commit json survives; after a
    checkpoint+expire it diffs as data change (extra pairs, never lost
    changes).  The diff is on the FILE LIST, so the legs read
    added/removed/touched files only, never the table."""
    latest = delta_snapshot(table_dir)["version"]
    to_v = latest if to_version is None else int(to_version)
    if int(from_version) > to_v:
        raise ValueError(
            f"from_version {from_version} is beyond to_version {to_v}"
        )

    def _dvmap(snap: dict) -> dict[str, set[int]]:
        deletes = delta_plan(table_dir, snap).position_deletes
        return {p: set(r) for d in deletes for p, r in d.rows.items()}

    prev = delta_snapshot(table_dir, from_version)
    prev_by = {f_["path"]: f_ for f_ in prev["files"]}
    prev_dv = _dvmap(prev)
    schema: StructType = prev["schema"]
    legs: list[DataFrame] = []

    def _tag(df: DataFrame, kind: str, v: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(kind).alias("_change_type"),
            F.lit(int(v)).cast("long").alias("_commit_version"),
        )

    commits, _ckpts = _list_log(_log_dir(table_dir))
    for v in range(int(from_version) + 1, to_v + 1):
        cur = delta_snapshot(table_dir, v)
        cur_by = {f_["path"]: f_ for f_ in cur["files"]}
        cur_dv = _dvmap(cur)
        if v in commits:
            file_actions = [
                a[k]
                for a in _read_commit_actions(commits[v])
                for k in ("add", "remove")
                if k in a
            ]
            if file_actions and all(
                a.get("dataChange") is False for a in file_actions
            ):
                # pure compaction (OPTIMIZE, B206): same logical rows,
                # new physical layout — no change rows to report
                prev, prev_by, prev_dv = cur, cur_by, cur_dv
                continue
        added = [f_ for p, f_ in cur_by.items() if p not in prev_by]
        removed = [f_ for p, f_ in prev_by.items() if p not in cur_by]
        for kind, at, moved in (("insert", cur, added), ("delete", prev, removed)):
            if moved:
                rows = scan(spark, delta_plan(table_dir, at, moved))
                legs.append(_tag(rows, kind, v))
        for kind, grown, shrunk in (
            ("delete", cur_dv, prev_dv),
            ("insert", prev_dv, cur_dv),
        ):
            # DV grew: the newly-dead positions are deletes; DV shrank
            # (RESTORE): the revived positions are inserts — the touched
            # physical rows only, whatever the files' own DVs say
            moved = {p: grown.get(p, set()) - shrunk.get(p, set()) for p in prev_by}
            touched = {p: sorted(r) for p, r in moved.items() if r and p in cur_by}
            if touched:
                plan = delta_plan(table_dir, cur, [cur_by[p] for p in touched])
                plan = replace(plan, position_deletes=[])
                keep = position_frame(spark, [PositionDelete(0, rows=touched)])
                rows = (
                    scan(spark, plan, row_identity=True)
                    .join(keep, [POS_PATH, POS_ROW], "left_semi")
                    .drop(POS_PATH, POS_ROW)
                )
                legs.append(_tag(rows, kind, v))
        prev, prev_by, prev_dv = cur, cur_by, cur_dv
    if not legs:
        empty = spark.createDataFrame([], schema)
        return _tag(empty, "insert", to_v).limit(0)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ----------------------------------------------------------------- writer
# Fixture-grade but spec-shaped: enough of the write protocol to build
# REAL delta tables (multi-commit, partitioned, checkpointed) for tests
# and the oracle query.  Single-writer by design — concurrency control
# for the repo's own tables lives in timetravel.commit_snapshot.


def _next_version(table_dir: str) -> int:
    log_dir = _log_dir(table_dir)
    if not os.path.isdir(log_dir):
        return 0
    commits, ckpts = _list_log(log_dir)
    vs = list(commits) + list(ckpts)
    return (max(vs) + 1) if vs else 0


def _write_commit(table_dir: str, version: int, actions: list[dict]) -> None:
    log_dir = _log_dir(table_dir)
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{version:020d}.json")
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    os.replace(tmp, final)


def _rel_files(table_dir: str, sub: str) -> list[str]:
    base = os.path.join(table_dir, sub)
    out = []
    for root, _d, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(root, f), table_dir)
                )
    return sorted(out)


def delta_append(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    collect_stats: bool = False,
    merge_schema: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Append ``df`` as one delta commit; first commit also writes the
    protocol + metaData actions.  Data files land under a
    commit-unique subdir (path uniqueness — the spec requires add paths
    never be reused), partition dirs inside it when partitioned.
    ``collect_stats`` records the spec's per-file ``stats`` JSON
    (numRecords + minValues/maxValues from the parquet FOOTER — the
    B150 statistic in Delta's encoding) so ``delta_prune``/B197 file
    skipping works on the written table.

    B210 ``merge_schema``: an append whose frame ADDS columns emits a
    new metaData action carrying the widened schema (last-metaData-wins
    replay — the spec's schema evolution); existing columns must keep
    their types (loud on mismatch), and the reader back-fills the new
    columns with typed NULLs for pre-evolution files, exactly
    delta-spark's ``mergeSchema`` contract.  Without the flag a
    schema-changing append refuses (the default ``overwriteSchema``
    guard)."""
    version = _next_version(table_dir)
    pcols = list(partition_by or [])
    sub = f"part-c{version:05d}"
    dest = os.path.join(table_dir, sub)
    w = df.write.mode("overwrite")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(dest)
    actions: list[dict] = []
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": pcols,
                    "configuration": {},
                }
            }
        )
    else:
        prev_meta = delta_snapshot(table_dir, version - 1)["metadata"]
        prev_fields = json.loads(prev_meta["schemaString"]).get("fields", [])
        prev_by = {f_["name"]: f_ for f_ in prev_fields}
        new_fields = json.loads(df.schema.json()).get("fields", [])
        mismatched = [
            f_["name"]
            for f_ in new_fields
            if f_["name"] in prev_by
            and prev_by[f_["name"]]["type"] != f_["type"]
        ]
        if mismatched:
            raise ValueError(
                f"append changes column types {mismatched} — delta schema "
                "evolution only ADDS columns"
            )
        added = [f_ for f_ in new_fields if f_["name"] not in prev_by]
        if added:
            if not merge_schema:
                raise ValueError(
                    f"append adds columns {[f_['name'] for f_ in added]} — "
                    "pass merge_schema=True to evolve the table schema"
                )
            actions.append(
                {
                    "metaData": dict(
                        prev_meta,
                        schemaString=json.dumps(
                            {
                                "type": "struct",
                                "fields": prev_fields + added,
                            }
                        ),
                    )
                }
            )
    for rel in _rel_files(table_dir, sub):
        pv = {}
        for c in pcols:
            m = re.search(rf"(?:^|/){re.escape(c)}=([^/]+)/", rel)
            if not m:
                raise ValueError(f"partition dir for {c!r} missing in {rel}")
            raw = unquote(m.group(1))
            pv[c] = None if raw == _HIVE_NULL else raw
        abspath = os.path.join(table_dir, rel)
        add = {
            "path": quote(rel),
            "partitionValues": pv,
            "size": os.path.getsize(abspath),
            "modificationTime": 0,
            "dataChange": True,
        }
        if collect_stats:
            from ..operators.timetravel import _file_column_stats

            col_stats = _file_column_stats(abspath)
            add["stats"] = json.dumps(
                {
                    "numRecords": pq.read_metadata(abspath).num_rows,
                    "minValues": {c: s["min"] for c, s in col_stats.items()},
                    "maxValues": {c: s["max"] for c, s in col_stats.items()},
                },
                sort_keys=True,
            )
        actions.append({"add": add})
    if txn is not None:
        # B215: the spec's setTransaction action — (appId, version)
        # recorded atomically WITH the adds, the idempotence token
        # streaming sinks key their replay-skip on
        actions.append(
            {"txn": {"appId": str(txn[0]), "version": int(txn[1])}}
        )
    _write_commit(table_dir, version, actions)
    return version


def delta_append_txn(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    app_id: str,
    txn_version: int,
    partition_by: list[str] | None = None,
    collect_stats: bool = False,
) -> int | None:
    """B215: idempotent append — the spec's streaming-sink contract: if
    the table has already recorded ``txn {appId, version >= this}``,
    the append is a REPLAY (a foreachBatch retry, a restarted query
    re-delivering a committed epoch) and is SKIPPED (returns None);
    otherwise the data and the setTransaction action commit atomically
    in one log entry, so a crash between them is impossible."""
    if is_delta_table(table_dir):
        try:
            last = delta_snapshot(table_dir)["txns"].get(str(app_id), -1)
        except ValueError:
            last = -1  # empty log
        if last >= int(txn_version):
            return None
    return delta_append(
        spark,
        table_dir,
        df,
        partition_by=partition_by,
        collect_stats=collect_stats,
        txn=(str(app_id), int(txn_version)),
    )


def delta_stream_sink(
    table_dir: str,
    app_id: str,
    partition_by: list[str] | None = None,
):
    """B215: exactly-once Delta streaming SINK — a ``foreachBatch``
    function writing each micro-batch as one idempotent txn commit
    (version = the Structured Streaming batch id, which the engine
    guarantees replays with identical content).  Pair with B205's
    source for end-to-end delta-to-delta pipelines."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        delta_append_txn(
            batch_df.sparkSession,
            table_dir,
            batch_df,
            app_id,
            int(batch_id),
            partition_by=partition_by,
        )

    return _write


def delta_remove_where(table_dir: str, pred) -> int:
    """Logical delete: one commit of ``remove`` actions for every live
    file whose add entry satisfies ``pred(add_action_dict)`` (e.g. by
    partitionValues) — file-level deletion, the granularity the base
    protocol supports (row-level = deletion vectors, B198:
    :func:`delta_delete_where`)."""
    snap = delta_snapshot(table_dir)
    version = _next_version(table_dir)
    actions = []
    for f_ in snap["files"]:
        rel = quote(os.path.relpath(f_["path"], table_dir))
        if pred({"path": rel, "partitionValues": f_["partitionValues"]}):
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": 0,
                        "dataChange": True,
                    }
                }
            )
    if not actions:
        raise ValueError("remove predicate matched no live files")
    _write_commit(table_dir, version, actions)
    return version


def _dv_protocol_actions(snap: dict) -> list[dict]:
    """The protocol-upgrade action for a first DV commit, else []."""
    proto = snap["protocol"] or {}
    feats = set(proto.get("readerFeatures") or [])
    if "deletionVectors" in feats and int(
        proto.get("minReaderVersion", 1)
    ) >= 3:
        return []
    feats.add("deletionVectors")
    if (
        int(proto.get("minReaderVersion", 1)) >= 2
        or _mapping_mode(snap["metadata"]) != "none"
    ):
        feats.add("columnMapping")
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(feats),
                "writerFeatures": sorted(feats),
            }
        }
    ]


def _dv_remove_add_actions(
    table_dir: str,
    snap: dict,
    new_pos: dict[str, set[int]],
    inline_max_bytes: int,
) -> list[dict]:
    """remove+add pairs replacing each touched file's DV with the merge
    of its old positions and ``new_pos`` (the spec's replacement rule);
    one shared sidecar per call for the on-disk descriptors."""
    from . import dvectors as _dv

    by_path = {f["path"]: f for f in snap["files"]}
    sidecar = _dv.new_sidecar(table_dir)
    touched: list[tuple[dict, dict]] = []
    for path, pos in sorted(new_pos.items()):
        f_ = by_path.get(path)
        if f_ is None:
            raise ValueError(f"row-level write hit unknown file {path}")
        if f_.get("deletionVector"):
            pos = pos | set(
                _dv.decode_descriptor(table_dir, f_["deletionVector"])
            )
        desc = _dv.make_descriptor(
            table_dir, sorted(pos), inline_max_bytes, sidecar
        )
        touched.append((f_, desc))
    _dv.flush_sidecar(sidecar)
    actions: list[dict] = []
    for f_, desc in touched:
        rel = quote(os.path.relpath(f_["path"], table_dir))
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": 0,
                    "dataChange": True,
                }
            }
        )
        add = {
            "path": rel,
            "partitionValues": f_["partitionValues"] or {},
            "size": f_["size"],
            "modificationTime": 0,
            "dataChange": True,
            "deletionVector": desc,
        }
        if f_.get("stats"):
            add["stats"] = f_["stats"]
        actions.append({"add": add})
    return actions


def delta_delete_where(
    spark: SparkSession,
    table_dir: str,
    pred,
    inline_max_bytes: int = 512,
) -> int:
    """B198 row-level DELETE via deletion vectors: scan the live files
    with Spark's hidden ``_metadata`` row identity (partition columns
    injected from partitionValues so ``pred`` may reference them),
    collect the matching (file, row_index) positions — BOUNDED: only
    the rows deleted by THIS commit, never the table — and commit one
    remove+add pair per touched file whose new add carries a
    ``deletionVector`` descriptor.

    Spec semantics honored: a new DV REPLACES the file's old one and
    must contain it, so existing deleted positions are merged in;
    small bitmaps inline in the log (storageType 'i', Z85), larger
    ones share ONE ``deletion_vector_<uuid>.bin`` sidecar per commit
    (storageType 'u', offset-addressed); the first DV commit upgrades
    the protocol to readerVersion 3 / writerVersion 7 with the
    ``deletionVectors`` table feature (carrying ``columnMapping``
    forward when the table already used it); ``stats`` keep their
    physical-row bounds (tightBounds=false semantics — pruning stays
    conservative and the reader's residual filter keeps reads exact).
    """
    snap = delta_snapshot(table_dir)
    # every physical row with its identity, partition columns injected
    # so ``pred`` may reference them; already-dead rows may match again
    # (the new DV contains the old one anyway)
    plan = replace(delta_plan(table_dir, snap), position_deletes=[])
    hits = (
        scan(spark, plan, row_identity=True)
        .filter(pred)
        .select(POS_PATH, POS_ROW)
        .toPandas()
    )  # bounded transfer (positions of THIS delete only) — Arrow
    # batches + vectorized groupby, not pickled Row objects: 3-6x less
    # driver time on wide deletes (OPTIMIZATION_r14.md change 11)
    if hits.empty:
        raise ValueError("delete predicate matched no live rows")
    new_pos: dict[str, set[int]] = {
        f: set(map(int, g[POS_ROW].to_numpy()))
        for f, g in hits.groupby(POS_PATH, sort=False)
    }
    version = _next_version(table_dir)
    actions = _dv_protocol_actions(snap) + _dv_remove_add_actions(
        table_dir, snap, new_pos, inline_max_bytes
    )
    _write_commit(table_dir, version, actions)
    return version


def delta_merge(
    spark: SparkSession,
    table_dir: str,
    source_df: DataFrame,
    key_cols: list[str],
    when_matched: str = "update",
    partition_by: list[str] | None = None,
    inline_max_bytes: int = 512,
) -> dict:
    """B216: MERGE INTO via merge-on-read — delta-spark's DV-backed
    upsert shape on the interop table, ONE atomic commit:

    - ``when_matched="update"``: target rows whose ``key_cols`` match
      a source row are DV-deleted (position bitmaps, no data rewrite)
      and EVERY source row (updates + brand-new keys) lands in fresh
      data files — standard ``WHEN MATCHED UPDATE SET * / WHEN NOT
      MATCHED INSERT *`` semantics;
    - ``when_matched="delete"``: matched target rows are DV-deleted,
      nothing is written (``WHEN MATCHED DELETE``; source carries only
      the key columns).

    Cost shape = what makes MOR the 100 TB default: touched files get
    a bitmap, not a rewrite; the write side is source-sized, never
    table-sized; the matched-position collect is bounded by the
    source's match count.  Duplicate source keys refuse loudly (the
    same multiple-matches error delta-spark raises — applying two
    updates to one row is order-undefined).  Already-DV-dead rows are
    excluded from matching (they are not live, so they neither update
    nor count).  Returns {"version", "n_matched", "n_written"}."""
    snap = delta_snapshot(table_dir)
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
    dup = (
        source_df.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"source has duplicate merge keys (e.g. "
            f"{tuple(dup[0][k] for k in key_cols)}) — a row cannot be "
            "updated twice in one MERGE"
        )
    # live rows only: already-dead rows neither update nor count
    live = scan(spark, delta_plan(table_dir, snap), row_identity=True)
    keys = source_df.select(*key_cols).dropDuplicates()
    hits = (
        live.join(F.broadcast(keys), key_cols, "left_semi")
        .select(POS_PATH, POS_ROW)
        .toPandas()
    )  # bounded (matched target rows only) — Arrow transfer, see
    # delta_delete_where
    new_pos: dict[str, set[int]] = {
        f: set(map(int, g[POS_ROW].to_numpy()))
        for f, g in hits.groupby(POS_PATH, sort=False)
    }
    version = _next_version(table_dir)
    actions: list[dict] = []
    if new_pos:
        actions += _dv_protocol_actions(snap)
        actions += _dv_remove_add_actions(
            table_dir, snap, new_pos, inline_max_bytes
        )
    n_written = 0
    if when_matched == "update":
        pcols = list(partition_by or snap["partition_columns"])
        sub = f"part-c{version:05d}"
        dest = os.path.join(table_dir, sub)
        w = source_df.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(dest)
        for rel in _rel_files(table_dir, sub):
            pv = {}
            for c in pcols:
                m = re.search(rf"(?:^|/){re.escape(c)}=([^/]+)/", rel)
                if not m:
                    raise ValueError(
                        f"partition dir for {c!r} missing in {rel}"
                    )
                raw = unquote(m.group(1))
                pv[c] = None if raw == _HIVE_NULL else raw
            abspath = os.path.join(table_dir, rel)
            actions.append(
                {
                    "add": {
                        "path": quote(rel),
                        "partitionValues": pv,
                        "size": os.path.getsize(abspath),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            n_written += 1
    if not actions:
        raise ValueError("merge matched no rows and wrote no rows")
    _write_commit(table_dir, version, actions)
    return {
        "version": version,
        "n_matched": len(hits),
        "n_written": n_written,
    }


def delta_checkpoint(table_dir: str) -> int:
    """Write a checkpoint parquet of the CURRENT state (adds +
    metaData + protocol as nullable structs) and the
    ``_last_checkpoint`` pointer — after which the older json commits
    are redundant for reads at/after this version (log cleanup safe),
    exactly the spec's compaction contract."""
    snap = delta_snapshot(table_dir)
    v = snap["version"]
    pv_type = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pv_type),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            # per-file stats JSON must survive compaction or every
            # pre-checkpoint file permanently loses B197 file skipping
            ("stats", pa.string()),
            # B198: losing the DV descriptor at checkpoint would
            # RESURRECT deleted rows — carried as the spec's struct
            ("deletionVector", dv_t),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            # configuration carries protocol-relevant keys (e.g.
            # delta.columnMapping.mode) — dropping it would silently
            # weaken the reader-version gate after a checkpoint
            ("configuration", pv_type),
        ]
    )
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # table features must survive compaction or a checkpointed
            # DV/columnMapping table loses its reader gate (B198)
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": int(
                    (snap["protocol"] or {}).get("minReaderVersion", 1)
                ),
                "minWriterVersion": int(
                    (snap["protocol"] or {}).get("minWriterVersion", 2)
                ),
                "readerFeatures": (snap["protocol"] or {}).get(
                    "readerFeatures"
                ),
                "writerFeatures": (snap["protocol"] or {}).get(
                    "writerFeatures"
                ),
            },
            "metaData": None,
            "add": None,
            "txn": None,
        },
        {
            "protocol": None,
            "metaData": {
                "id": snap["metadata"].get("id", ""),
                "format": {"provider": "parquet"},
                "schemaString": snap["metadata"]["schemaString"],
                "partitionColumns": snap["partition_columns"],
                "configuration": [
                    (k, v)
                    for k, v in (
                        snap["metadata"].get("configuration") or {}
                    ).items()
                ],
            },
            "add": None,
            "txn": None,
        },
    ]
    # B215: app transaction watermarks must survive compaction or a
    # restarted streaming sink re-appends every pre-checkpoint batch
    for app_id, v_ in sorted((snap.get("txns") or {}).items()):
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": None,
                "txn": {"appId": app_id, "version": int(v_)},
            }
        )
    for f_ in snap["files"]:
        stats = f_.get("stats")
        dv = f_.get("deletionVector")
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "txn": None,
                "add": {
                    "path": quote(os.path.relpath(f_["path"], table_dir)),
                    "partitionValues": [
                        (k, v) for k, v in (f_["partitionValues"] or {}).items()
                    ],
                    "size": int(f_["size"] or 0),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": (
                        stats
                        if isinstance(stats, (str, type(None)))
                        else json.dumps(stats, sort_keys=True)
                    ),
                    "deletionVector": (
                        {
                            "storageType": dv["storageType"],
                            "pathOrInlineDv": dv["pathOrInlineDv"],
                            "offset": dv.get("offset"),
                            "sizeInBytes": int(dv["sizeInBytes"]),
                            "cardinality": int(dv["cardinality"]),
                        }
                        if dv
                        else None
                    ),
                },
            }
        )
    table = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("protocol", proto_t),
                ("metaData", meta_t),
                ("add", add_t),
                ("txn", txn_t),
            ]
        ),
    )
    log_dir = _log_dir(table_dir)
    path = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
    tmp = path + f".tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    lc = os.path.join(log_dir, "_last_checkpoint")
    tmp = lc + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"version": v, "size": table.num_rows}, f)
    os.replace(tmp, lc)
    return v


def export_delta_log(
    spark,
    table_dir: str,
    dest_dir: str,
) -> int:
    """B196: publish a timetravel-protocol table (operators/timetravel)
    AS a Delta table — the UniForm/XTable direction: METADATA-ONLY (no
    data copied; add actions carry the existing parquet files' absolute
    paths, which the Delta spec allows for converted tables), full
    version history (each snapshot becomes one commit of remove+add
    deltas vs its parent), per-file ``stats`` with numRecords from the
    manifest so Delta readers get row counts for free.

    Refusals (loud, not lossy): a snapshot carrying delete-kind files
    (B152/B169 merge-on-read debt) cannot be expressed in base Delta —
    OPTIMIZE first; hidden-partitioned layouts export as UNPARTITIONED
    Delta (the files physically lack the derived dirs' columns only in
    their paths — all source columns are present, so reads are exact;
    Delta-side partition pruning is not carried over, documented).

    Returns the number of Delta commits written."""
    from ..operators.timetravel import manifest_entries, snapshot_versions

    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshot in {table_dir}")
    os.makedirs(dest_dir, exist_ok=True)
    if os.path.isdir(_log_dir(dest_dir)) and os.listdir(_log_dir(dest_dir)):
        raise ValueError(f"destination already has a _delta_log: {dest_dir}")
    prev: dict[str, dict] = {}
    table_id = str(uuid.uuid4())
    emitted_fp: str | None = None  # pyarrow-schema fingerprint last emitted
    fp_cache: dict[str, str] = {}  # file path -> footer schema fingerprint

    def _footer_fp(path: str) -> str:
        if path not in fp_cache:
            fp_cache[path] = str(pq.read_schema(path))
        return fp_cache[path]

    n_commits = 0
    for dv, v in enumerate(versions):
        entries = manifest_entries(table_dir, v)
        if any(e["kind"] != "data" for e in entries):
            raise ValueError(
                f"snapshot v{v} carries delete files (merge-on-read debt) "
                "— base Delta cannot express them; OPTIMIZE first"
            )
        live = {e["path"]: e for e in entries}
        actions: list[dict] = []
        # schema drift: every exported commit must advertise the schema
        # its snapshot actually reads with (last metaData wins on replay,
        # so time travel to any version sees ITS schema, not v0's).
        # Fingerprints come from parquet footers (metadata-rate); the
        # emitted schemaString is Spark's, read once per distinct schema.
        fps = {_footer_fp(p) for p in live}
        if len(fps) > 1:
            raise ValueError(
                f"snapshot v{v} mixes {len(fps)} parquet schemas across its "
                "live files — not expressible as one Delta metaData action"
            )
        if dv == 0:
            if not fps:
                raise ValueError(
                    f"first snapshot v{v} has no data files — cannot derive "
                    "a Delta schema to export"
                )
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if fps and next(iter(fps)) != emitted_fp:
            emitted_fp = next(iter(fps))
            # footer-derived schema (no inference job, r14): identical
            # StructType to what Spark's own parquet inference produced
            import pyarrow.parquet as _pq
            from pyspark.sql.pandas.types import from_arrow_schema as _fas

            schema_json = _fas(
                _pq.read_schema(next(iter(live))), prefer_timestamp_ntz=True
            ).json()
            actions.append(
                {
                    "metaData": {
                        "id": table_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                }
            )
        for p in prev:
            if p not in live:
                actions.append(
                    {
                        "remove": {
                            "path": quote(p),
                            "deletionTimestamp": 0,
                            "dataChange": True,
                        }
                    }
                )
        for p, e in live.items():
            if p not in prev:
                stats = {"numRecords": int(e.get("n_rows") or 0)}
                actions.append(
                    {
                        "add": {
                            "path": quote(p),
                            "partitionValues": {},
                            "size": int(e.get("n_bytes") or 0),
                            "modificationTime": 0,
                            "dataChange": True,
                            "stats": json.dumps(stats),
                        }
                    }
                )
        _write_commit(dest_dir, dv, actions)
        prev = live
        n_commits += 1
    return n_commits


def expire_delta_log(table_dir: str, before_version: int) -> int:
    """Delete json commits strictly below ``before_version`` that are
    covered by a checkpoint (the spec's log-retention cleanup).  Refuses
    to create a replay gap: only commits <= the newest checkpoint are
    eligible.  Returns the number of files removed."""
    log_dir = _log_dir(table_dir)
    commits, ckpts = _list_log(log_dir)
    if not ckpts:
        raise ValueError("no checkpoint: cleaning the log would orphan reads")
    cover = max(ckpts)
    n = 0
    for v, p in commits.items():
        if v < before_version and v <= cover:
            os.remove(p)
            n += 1
    return n


def vacuum_delta(
    table_dir: str,
    retain_versions: int = 1,
    dry_run: bool = False,
) -> list[str]:
    """B204: VACUUM — physically delete data files and DV sidecars no
    longer referenced by any RETAINED snapshot (the newest
    ``retain_versions`` replayable versions; default 1 = current state
    only, the aggressive `RETAIN 0 HOURS` shape).  Returns the deleted
    paths (``dry_run`` lists without deleting — delta-spark's DRY RUN).

    Safety rules, all loud:
    - at least one version is always retained;
    - the live set is the UNION over every retained snapshot of its
      data files AND the sidecars its deletion-vector descriptors
      reference ('u' storage — deleting a referenced sidecar would
      resurrect rows on the next read... by crashing it; inline DVs
      live in the log and need no protection);
    - time travel BELOW the retained horizon is lost — that is the
      point of vacuum — but the log itself is untouched (pair with
      ``expire_delta_log`` + ``delta_checkpoint`` for full cleanup;
      a later read of a vacuumed version fails at scan time, same as
      delta-spark);
    - unknown files outside the table's ``part-c*``/DV layout are NOT
      touched (a foreign file in the table dir is someone else's).

    Scale shape: pure metadata work — the candidate set comes from the
    directory listing, the live set from manifest replay; no data file
    is ever read."""
    from . import dvectors as _dv

    commits, ckpts = _list_log(_log_dir(table_dir))
    latest = max(list(commits) + list(ckpts))
    if retain_versions < 1:
        raise ValueError("vacuum must retain at least the current version")
    keep: set[str] = set()
    kept = 0
    for v in range(latest, -1, -1):
        if kept >= retain_versions:
            break
        try:
            snap = delta_snapshot(table_dir, v)
        except ValueError:
            break  # below the replayable horizon (expired log)
        kept += 1
        for f_ in snap["files"]:
            keep.add(os.path.abspath(f_["path"]))
            dv = f_.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                keep.add(
                    os.path.abspath(
                        _dv.dv_uuid_path(table_dir, dv["pathOrInlineDv"])
                    )
                )
    if not kept:
        raise ValueError(f"no replayable snapshot to retain in {table_dir}")
    victims: list[str] = []
    for root, dirs, fs in os.walk(table_dir):
        if _LOG in root:
            continue
        rel_root = os.path.relpath(root, table_dir)
        for fname in fs:
            p = os.path.abspath(os.path.join(root, fname))
            if p in keep:
                continue
            is_data = fname.endswith(".parquet") and (
                rel_root.startswith("part-c") or rel_root == "."
            )
            is_dv = fname.startswith("deletion_vector_") and fname.endswith(
                ".bin"
            )
            if is_data or is_dv:
                victims.append(p)
    if not dry_run:
        for p in victims:
            os.remove(p)
    return sorted(victims)


def optimize_delta(
    spark: SparkSession,
    table_dir: str,
) -> dict:
    """B206: OPTIMIZE — compact the current snapshot into fresh files
    and RETIRE merge-on-read debt: deletion vectors are folded in (the
    rewrite reads live rows only), small files collapse to one file
    per partition tuple, and the whole swap lands as ONE atomic commit
    of removes + adds (readers replaying any version never see a
    half-optimized state — the commit is the atom, exactly the spec's
    OPTIMIZE shape).

    Partition-preserving: each partition tuple rewrites independently
    and keeps its partitionValues, so partition pruning (B197) is
    unaffected; per-file stats are re-collected footer-rate on the new
    files, RESTORING stats-based skipping that DV'd files had
    wide-bounds-weakened (tightBounds back to true in spirit).

    Returns {"version", "files_removed", "files_added",
    "dv_cardinality_retired"}.  The old files stay on disk for time
    travel until :func:`vacuum_delta` reclaims them — OPTIMIZE is a
    logical rewrite, never a delete.

    Scale shape: one read of live rows + one partitioned write — the
    same cost envelope as any copy-on-write compaction; at 100 TB you
    run it per-partition-predicate (read_delta(filters=...) keeps the
    scan pruned), not table-wide."""
    snap = delta_snapshot(table_dir)
    version = _next_version(table_dir)
    pcols: list[str] = snap["partition_columns"]
    if snap.get("column_mapping", "none") != "none":
        raise NotImplementedError(
            "optimize_delta does not support column-mapped tables"
        )
    live = read_delta(spark, table_dir)
    sub = f"part-c{version:05d}"
    dest = os.path.join(table_dir, sub)
    w = live.coalesce(1) if not pcols else live.repartition(
        *[F.col(c) for c in pcols]
    )
    writer = w.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(dest)
    actions: list[dict] = []
    dv_retired = 0
    for f_ in snap["files"]:
        dv = f_.get("deletionVector")
        if dv:
            dv_retired += int(dv.get("cardinality") or 0)
        actions.append(
            {
                "remove": {
                    "path": quote(os.path.relpath(f_["path"], table_dir)),
                    "deletionTimestamp": 0,
                    "dataChange": False,
                }
            }
        )
    n_added = 0
    from ..operators.timetravel import _file_column_stats

    for rel in _rel_files(table_dir, sub):
        pv = {}
        for c in pcols:
            m = re.search(rf"(?:^|/){re.escape(c)}=([^/]+)/", rel)
            if not m:
                raise ValueError(f"partition dir for {c!r} missing in {rel}")
            raw = unquote(m.group(1))
            pv[c] = None if raw == _HIVE_NULL else raw
        abspath = os.path.join(table_dir, rel)
        col_stats = _file_column_stats(abspath)
        actions.append(
            {
                "add": {
                    "path": quote(rel),
                    "partitionValues": pv,
                    "size": os.path.getsize(abspath),
                    "modificationTime": 0,
                    "dataChange": False,
                    "stats": json.dumps(
                        {
                            "numRecords": pq.read_metadata(abspath).num_rows,
                            "minValues": {
                                c: s["min"] for c, s in col_stats.items()
                            },
                            "maxValues": {
                                c: s["max"] for c, s in col_stats.items()
                            },
                        },
                        sort_keys=True,
                    ),
                }
            }
        )
        n_added += 1
    if not n_added:
        raise ValueError(f"optimize produced no files for {table_dir}")
    _write_commit(table_dir, version, actions)
    return {
        "version": version,
        "files_removed": len(snap["files"]),
        "files_added": n_added,
        "dv_cardinality_retired": dv_retired,
    }
