"""Snapshot / time-travel read surface (B138): a version-manifest table
plus an AS-OF read that prunes to exactly the snapshot's files — the
lakehouse read primitive the repo's versioned writers imply (matview
versions, shard batch-partitions, qhist states all WRITE versioned state;
this is the first-class way to READ a table as of a committed version).

Commit protocol (the Iceberg/Delta snapshot discipline, format-free):

1. a commit writes its data files under ``data/c{version}/`` — files on
   disk are NOT the table;
2. it then writes ``_manifest/v{version}.parquet``: one row per LIVE
   file (path, bytes, rows) as of that version = the previous manifest's
   rows plus the new files (append semantics; a replace commit would
   simply not carry the prior rows forward);
3. readers resolve a version by picking the latest manifest <= the
   requested version and scanning EXACTLY its file list — never the
   directory.  Files from crashed/uncommitted writers are invisible
   (they appear in no manifest), and concurrent readers of different
   versions never block each other: snapshot isolation by construction.

Reading: ``snapshot_plan`` resolves a manifest into the scan core's
``ScanPlan`` (sources/scan.py — where file pruning, merge-on-read and
scanning live); ``read_asof`` / ``read_where`` hand it to the core's
executor.  The manifest is metadata-rate (one row per file — ~10⁶ rows
per 100 TB at 128 MB files; written driver-side via pyarrow), and the
scan gets the explicit file list, so partition pruning, predicate
pushdown and column pruning all still apply within the snapshot.

No reference parity (the ~900-LoC Go forwarder has no storage layer);
extends the Part-B table-maintenance family (B126/B135) per the driver
contract.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..sources.scan import (
    POS_PATH,
    POS_ROW,
    DataFile,
    EqualityDelete,
    PositionDelete,
    ScanPlan,
    _bloom_probes,
    _BLOOM_K,
    may_match,
    position_frame,
    prune,
    scan,
)


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifest")


def snapshot_versions(table_dir: str) -> list[int]:
    """Committed version ids (manifests present), sorted ascending."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-8])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".parquet") and f[1:-8].isdigit()
    )


def _resolve_version(table_dir: str, version: int | None) -> int | None:
    vs = [v for v in snapshot_versions(table_dir) if version is None or v <= version]
    return max(vs, default=None)


def manifest_entries(
    table_dir: str, version: int | None = None
) -> list[dict]:
    """Live manifest rows of the latest snapshot <= ``version`` as
    dicts with at least path / kind / seq.  ``kind`` is "data" or
    "delete" (B152 equality-delete files); ``seq`` is the version at
    which the file ENTERED the table — the Iceberg sequence number that
    scopes which deletes apply to which data.  Pre-B152 manifests have
    neither column: every row reads as data with seq 0 (no deletes can
    exist in such a table, so the scoping is vacuous)."""
    v = _resolve_version(table_dir, version)
    if v is None:
        return []
    t = pq.read_table(os.path.join(_manifest_dir(table_dir), f"v{v}.parquet"))
    names = t.column_names
    out = []
    for i in range(t.num_rows):
        row = {c: t[c][i].as_py() for c in names}
        row.setdefault("kind", "data")
        row.setdefault("seq", 0)
        out.append(row)
    return out


def manifest_files(
    table_dir: str, version: int | None = None, kind: str | None = "data"
) -> list[str]:
    """The exact live-file list of the latest snapshot <= ``version``,
    restricted to ``kind`` ("data" by default — what a plain read scans;
    pass None for ALL files incl. delete files, the vacuum live-set)."""
    return [
        e["path"]
        for e in manifest_entries(table_dir, version)
        if kind is None or e["kind"] == kind
    ]


def _list_data_files(data_dir: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(data_dir)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


import itertools as _itertools

_COMMIT_SEQ = _itertools.count()  # per-process writer-attempt counter

# Column stats recorded in the manifest are restricted to types whose
# Python comparison semantics match both engines' SQL ordering (ints,
# floats, utf-8 strings, bools).  Timestamps/decimals/binary are simply
# not recorded — a missing stat means "cannot prune", never "wrong prune".
_STATS_OK = (bool, int, float, str)


def _file_column_stats(path: str) -> dict[str, dict]:
    """Per-file column min/max from the parquet FOOTER (B150) — the
    Iceberg/Delta data-skipping statistic, collected at metadata rate:
    ``pq.read_metadata`` reads only the footer, never a data page, so a
    commit's stats pass costs one footer read per live file (~KB each;
    at 100 TB / 128 MB files that is ~10⁶ footer reads done ONCE at
    write time, amortized over every subsequent pruned read).

    Row-group stats are merged to file-level [min, max] per column.  A
    column is recorded only if EVERY row group carries min/max of a
    comparison-safe type — a single statless or exotic-typed row group
    drops the column (conservative: absent stats disable pruning for
    that column, they can never mis-prune)."""
    md = pq.read_metadata(path)
    out: dict[str, dict] = {}
    dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in dropped:
                continue
            st = col.statistics
            mn = st.min if st is not None and st.has_min_max else None
            mx = st.max if st is not None and st.has_min_max else None
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    mn = None
            if (
                mn is None
                or not isinstance(mn, _STATS_OK)
                or not isinstance(mx, _STATS_OK)
                or type(mn) is not type(mx)
            ):
                dropped.add(name)
                out.pop(name, None)
                continue
            cur = out.get(name)
            if cur is None:
                out[name] = {"min": mn, "max": mx}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
    return out


class CommitConflict(Exception):
    """Another writer committed this snapshot version first (B149)."""


# --- B172: per-file Bloom filters for point-lookup file skipping -----------
# min/max stats (B150) prune RANGE predicates on clustered keys; a point
# lookup on a key that is hash-scattered across files (user_id, doc
# digest, order key in arrival order) matches every file's [min,max] and
# prunes nothing.  A small per-file Bloom bitmap answers "definitely not
# in this file" for = predicates — the Delta/Parquet bloom-index shape,
# recorded in the manifest like stats so pruning stays metadata-rate.
# Filters are sized per FILE: 16 bits per stored value (fp ~0.1% at
# k=6), clamped to [1 KiB, 128 KiB] — beyond ~65k values/file the fp
# rate degrades gracefully (never a false negative); at extreme
# file-count x file-size products the manifest-embedded form gives way
# to sidecar filter files, same math (documented caveat, not built).
_BLOOM_MIN_M = 8192        # 1 KiB floor
_BLOOM_MAX_M = 1 << 20     # 128 KiB ceiling per (file, column)
_BLOOM_BITS_PER_KEY = 16  # probes and the reader's check: sources/scan.py


def _file_bloom_filters(path: str, cols: list[str]) -> dict:
    """Per-column Bloom bitmaps for one parquet file: a COLUMN-PRUNED
    scan of the named columns only (write-time, new files only — the
    same amortization as footer stats).  Returns
    {col: {"m": bits, "k": probes, "b64": bitmap}}."""
    import base64

    out = {}
    cols_present = [c for c in cols if c in pq.read_schema(path).names]
    if not cols_present:
        return out
    t = pq.read_table(path, columns=cols_present)
    for c in cols_present:
        vals = [v.as_py() for v in t[c]]
        vals = [v for v in vals if v is not None]
        m = _BLOOM_MIN_M
        while m < _BLOOM_MAX_M and m < _BLOOM_BITS_PER_KEY * len(vals):
            m <<= 1
        bits = bytearray(m // 8)
        ok = True
        for v in vals:
            probes = _bloom_probes(v, m)
            if probes is None:
                ok = False  # unsupported type: record no filter at all
                break
            for p in probes:
                bits[p >> 3] |= 1 << (p & 7)
        if ok:
            out[c] = {
                "m": m,
                "k": _BLOOM_K,
                "b64": base64.b64encode(bytes(bits)).decode("ascii"),
            }
    return out


def _write_manifest(
    table_dir: str,
    version: int,
    live: list[str],
    exclusive: bool = False,
    collect_stats: bool = False,
    bloom_cols: list[str] | None = None,
) -> None:
    """Publish ``live`` as snapshot ``version`` — the commit point is an
    ATOMIC same-directory rename (r11 ADVICE): writing the parquet
    straight to ``v{N}.parquet`` would let a mid-write crash leave a
    truncated file that ``snapshot_versions`` already lists as
    committed, breaking every later read.  Temp name + ``os.replace``
    is the Iceberg/Delta discipline the module claims — a crash before
    the rename leaves only an invisible ``.tmp`` the reader's
    name-filter skips.

    ``live`` entries are plain paths (data files entering at this
    version), (path, kind, seq) triples, or full manifest-entry DICTS —
    the carry-forward form (r11 ADVICE): a dict entry REUSES its
    recorded n_bytes / n_rows / stats_json, so a commit reads footers
    only for files newly entering at this version.  Recomputing them for
    every carried file made each commit O(live files) footer reads —
    at the documented 10^6-file scale, a metadata-rate commit became a
    million-stat pass per append."""
    rows = []
    for e in live:
        if isinstance(e, dict):
            r = {
                "path": e["path"],
                "kind": e.get("kind", "data"),
                "seq": int(e.get("seq", version)),
            }
            if e.get("n_bytes") is not None:
                r["n_bytes"] = int(e["n_bytes"])
            if e.get("n_rows") is not None:
                r["n_rows"] = int(e["n_rows"])
            if e.get("stats_json"):
                r["stats_json"] = e["stats_json"]
            if e.get("bloom_json"):
                r["bloom_json"] = e["bloom_json"]
            if e.get("partition_json"):
                r["partition_json"] = e["partition_json"]
        elif isinstance(e, tuple):
            r = {"path": e[0], "kind": e[1], "seq": int(e[2])}
        else:
            r = {"path": e, "kind": "data", "seq": int(version)}
        rows.append(r)
    for r in rows:
        if "n_bytes" not in r:
            r["n_bytes"] = os.path.getsize(r["path"])
        if "n_rows" not in r:
            r["n_rows"] = pq.read_metadata(r["path"]).num_rows
    fields = [
        ("path", pa.string()),
        ("kind", pa.string()),
        ("seq", pa.int64()),
        ("n_bytes", pa.int64()),
        ("n_rows", pa.int64()),
    ]
    # B150: per-file column [min,max] as a JSON column — schema-free
    # across heterogeneous tables, and older stats-less manifests stay
    # readable (readers treat a missing column as "no stats, no prune").
    # Stats are STICKY (r12): once any carried entry has them, every
    # commit keeps the column and fills it for new files only — an
    # append to a stats-carrying table must not silently drop pruning.
    if collect_stats or any("stats_json" in r for r in rows):
        for r in rows:
            if not r.get("stats_json"):
                r["stats_json"] = json.dumps(
                    _file_column_stats(r["path"]), sort_keys=True
                )
        fields.append(("stats_json", pa.string()))
    # B172 bloom filters, same sticky discipline: explicit bloom_cols on
    # this commit, else the union of columns any carried entry indexed —
    # an append to a bloom-indexed table keeps the index current for its
    # NEW files only (delete-kind files carry key columns a point lookup
    # never probes, so only data files are indexed).  ONLY files entering
    # at this version (seq == version) are indexed here: building a bloom
    # is a data-rate column read, and doing it for a carried pre-bloom
    # entry would turn a metadata-rate append into a full-table pass
    # (r12 ADVICE).  Carried files without an index simply don't prune
    # (reader treats a missing/partial bloom as "scan it"); indexing
    # history is the EXPLICIT ``backfill_bloom_index`` operation.  The
    # per-file indexed column set is visible as the bloom_json keys, so
    # a widened bloom_cols leaves an inspectable (not silent) gap.
    carried_bloom_cols = sorted(
        {
            c
            for r in rows
            if r.get("bloom_json")
            for c in json.loads(r["bloom_json"])
        }
    )
    eff_bloom = sorted(set(bloom_cols or []) | set(carried_bloom_cols))
    if eff_bloom:
        for r in rows:
            if (
                r["kind"] == "data"
                and not r.get("bloom_json")
                and int(r["seq"]) == int(version)
            ):
                r["bloom_json"] = json.dumps(
                    _file_bloom_filters(r["path"], eff_bloom), sort_keys=True
                )
        fields.append(("bloom_json", pa.string()))
    # B173 hidden-partition values: per-entry, written by
    # operators/partitioning.commit_partitioned and carried verbatim
    # (each file prunes under the spec it was written with)
    if any("partition_json" in r for r in rows):
        fields.append(("partition_json", pa.string()))
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    final = os.path.join(_manifest_dir(table_dir), f"v{int(version)}.parquet")
    # pid alone is NOT unique under same-process multi-writer (threads):
    # two racers sharing one tmp path → one link wins, both unlink, the
    # second unlink throws.  pid×seq matches the commit_catalog discipline.
    tmp = final + f".tmp-{os.getpid()}x{next(_COMMIT_SEQ)}"
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(fields)), tmp)
    if exclusive:
        # compare-and-swap publish (B149 optimistic concurrency):
        # os.link fails with EEXIST if the version is already committed
        # — atomically, so two racing writers of one version id get
        # exactly one winner; os.replace would let the second silently
        # clobber the first (lost update).
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"snapshot v{int(version)} already committed in {table_dir}"
            ) from None
        finally:
            os.unlink(tmp)
    else:
        os.replace(tmp, final)


def commit_snapshot(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    version: int,
    carry_forward: bool = True,
    exclusive: bool = False,
    collect_stats: bool = False,
    parent: int | None = None,
    schema_mode: str | None = None,
    bloom_cols: list[str] | None = None,
) -> list[str]:
    """Commit ``df`` as snapshot ``version``: write data files, then
    publish the manifest.  ``carry_forward=True`` is an APPEND commit
    (manifest = previous live set + the new files); ``False`` is a
    REPLACE commit (manifest lists ONLY this version's files — the
    state-table shape the streaming matview maintainer publishes, where
    each version IS the whole table).  ``exclusive=True`` makes the
    manifest publish a compare-and-swap AND gives the attempt a
    writer-unique data dir — two racers on one version id must not
    share ``c{v}`` or the loser's overwrite clobbers the files the
    winner's manifest just published (the Iceberg unique-data-file-name
    discipline; the manifest records full paths, so readers never
    depend on dir naming).  ``collect_stats=True`` additionally records
    per-file column [min,max] in the manifest (B150) so ``read_where``
    can skip files at metadata rate.  ``parent`` names the snapshot the
    carry-forward builds on (default: the latest snapshot below
    ``version``) — the branching leg B153's write-audit-publish uses to
    stage an alternative commit off an AUDITED ancestor instead of off
    a rejected staging snapshot.  ``schema_mode`` (B170, 'enforce' |
    'evolve' | None) validates ``df``'s schema against the table's
    recorded schema BEFORE any write and records the committed schema
    after publish — see ``check_schema_compatible``; None preserves the
    legacy unchecked behavior.  Returns the new snapshot's full
    live-file list."""
    if schema_mode is not None:
        check_schema_compatible(table_dir, df, schema_mode)
    # B184: declared CHECK constraints gate EVERY commit pre-write
    # (one-pass conditional aggregate; no-op when none are declared)
    enforce_check_constraints(table_dir, df)
    suffix = f"w{os.getpid()}x{next(_COMMIT_SEQ)}" if exclusive else ""
    data_dir = os.path.join(table_dir, "data", f"c{int(version)}{suffix}")
    df.write.mode("overwrite").parquet(data_dir)
    live = [(p, "data", int(version)) for p in _list_data_files(data_dir)]
    if carry_forward:
        base = int(version) - 1 if parent is None else int(parent)
        # full dict entries: carried files keep their recorded footer
        # stats — this commit reads footers only for the NEW files
        live = manifest_entries(table_dir, base) + live
    _write_manifest(
        table_dir,
        version,
        live,
        exclusive=exclusive,
        collect_stats=collect_stats,
        bloom_cols=bloom_cols,
    )
    if schema_mode is not None:
        record_schema(table_dir, int(version), df)
    return [t["path"] if isinstance(t, dict) else t[0] for t in live]


def commit_delete(
    spark: SparkSession,
    table_dir: str,
    keys_df: DataFrame,
    version: int,
    parent: int | None = None,
) -> list[str]:
    """Commit an EQUALITY DELETE (B152, the Iceberg v2 merge-on-read
    discipline): ``keys_df``'s columns ARE the equality key — every
    data row matching any key row on those columns is deleted as of
    this version.  The keys land as ordinary parquet under the commit's
    dir, the manifest carries them with kind="delete", and NO data file
    is rewritten — a delete is metadata-rate plus keys-rate, never a
    table rewrite (the copy-on-write alternative is ``optimize_snapshot``,
    which folds live deletes in and publishes a pure-data layout).

    Scoping is by sequence number: a delete with seq v applies to data
    files with seq < v only, so a LATER append may legitimately
    re-insert a deleted key and the reader sees the new row (exactly
    Iceberg's sequence-number rule).  Time travel below the delete's
    version still sees the original rows — deletes are snapshot
    participants, not history rewrites.

    ``parent`` names the snapshot carried forward (default: the latest
    below ``version``) — the branching leg (B153/B162): a gated writer
    whose previous batch was QUARANTINED must build on the last
    PUBLISHED snapshot, not on the rejected one version arithmetic
    would pick up."""
    data_dir = os.path.join(table_dir, "data", f"c{int(version)}d")
    keys_df.dropDuplicates().write.mode("overwrite").parquet(data_dir)
    live = [(p, "delete", int(version)) for p in _list_data_files(data_dir)]
    base = int(version) - 1 if parent is None else int(parent)
    prev = manifest_entries(table_dir, base)
    _write_manifest(table_dir, version, prev + live)
    return [t["path"] if isinstance(t, dict) else t[0] for t in prev + live]


def commit_positional_delete(
    spark: SparkSession,
    table_dir: str,
    pos_df: DataFrame,
    version: int,
    parent: int | None = None,
) -> list[str]:
    """Commit a POSITIONAL DELETE (B169, the Iceberg-v2 position-delete
    file): ``pos_df`` is (file_path string, row_index long) pairs — each
    names one physical row of one live data file, deleted as of this
    version.  This is what a MERGE touching 0.01% of rows emits cheaply
    when the keys aren't indexed: the writer already knows WHERE the
    matched rows live (the B109 ``_metadata`` scan), so the delete is
    pairs-rate and equality-free — no key columns, no data rewrite.

    Scoping is by PATH IDENTITY, simpler and stronger than the equality
    delete's sequence rule: commit data dirs are never reused, so a
    (file, row) pair can only ever hit the one file it names; a later
    append can never be shadowed.  Validation is manifest-rate: every
    referenced path must be a live data file of the parent snapshot
    (a pair aimed at a vacuumed / foreign / delete-kind file is a bug
    in the writer and fails loud, not a silent no-op).

    Read side (``read_asof``): rows gain their (path, row_index)
    identity from the parquet scan's ``_metadata`` column and the pairs
    are anti-joined away — merge-on-read, same discipline as B152;
    ``optimize_snapshot`` folds both delete kinds into a pure-data
    layout.  Cite: reference has no lakehouse layer (Go relay,
    main.go); this extends the repo's own B152/B138 protocol."""
    base = int(version) - 1 if parent is None else int(parent)
    prev = manifest_entries(table_dir, base)
    live_data = {e["path"] for e in prev if e["kind"] == "data"}
    pos_df = pos_df.select(
        F.col("file_path").cast("string"), F.col("row_index").cast("long")
    ).dropDuplicates()
    # distinct referenced paths are bounded by the live file count —
    # manifest-rate driver data, never rows-rate
    referenced = {r.file_path for r in pos_df.select("file_path").distinct().collect()}
    unknown = referenced - live_data
    if unknown:
        raise ValueError(
            f"positional delete references non-live data files: "
            f"{sorted(unknown)[:3]}{'...' if len(unknown) > 3 else ''}"
        )
    data_dir = os.path.join(table_dir, "data", f"c{int(version)}p")
    pos_df.write.mode("overwrite").parquet(data_dir)
    live = [(p, "posdelete", int(version)) for p in _list_data_files(data_dir)]
    _write_manifest(table_dir, version, prev + live)
    return [t["path"] if isinstance(t, dict) else t[0] for t in prev + live]


def merge_rows_positional(
    spark: SparkSession,
    table_dir: str,
    source_df: DataFrame,
    key_cols: list[str],
    version: int,
    parent: int | None = None,
) -> dict:
    """MERGE INTO through positional deletes (B169's composition —
    upsert semantics on the snapshot protocol): every target row whose
    ``key_cols`` match a source row is superseded; all source rows are
    appended.  One snapshot publish makes the whole MERGE atomic:

    1. scan the parent snapshot WITH row positions (``_metadata``) and
       inner-join the distinct source keys → the matched rows' (file,
       row_index) pairs — a broadcast-ish join over key columns only,
       the data files are read once and never rewritten;
    2. write the pairs as ONE position-delete file and the source rows
       as ordinary data files, then publish a single manifest carrying
       both — a reader sees pre-merge or post-merge state, never the
       delete without the append.

    Copy-on-write (B82 q_merge_upsert) rewrites every file containing a
    match — at 0.01% selectivity over a 100 TB table that is a ~100 TB
    rewrite; this merge-on-read path is (pairs + source)-rate, and
    ``optimize_snapshot`` retires the read-side debt when it
    accumulates.  Returns {"n_deleted_pos", "n_inserted", "version"}."""
    base = int(version) - 1 if parent is None else int(parent)
    prev = manifest_entries(table_dir, base)
    tgt = scan(spark, snapshot_plan(table_dir, base), row_identity=True)
    src_keys = source_df.select(*key_cols).dropDuplicates()
    # no broadcast hint: a dashboard-sized source broadcasts via AQE on
    # its own; a bulk-merge source must be allowed to shuffle-join
    pos_pairs = (
        tgt.join(src_keys, key_cols)
        .selectExpr(f"{POS_PATH} AS file_path", f"{POS_ROW} AS row_index")
        .dropDuplicates()
    )
    pd_dir = os.path.join(table_dir, "data", f"c{int(version)}p")
    pos_pairs.write.mode("overwrite").parquet(pd_dir)
    a_dir = os.path.join(table_dir, "data", f"c{int(version)}")
    source_df.write.mode("overwrite").parquet(a_dir)
    live = (
        prev
        + [(p, "posdelete", int(version)) for p in _list_data_files(pd_dir)]
        + [(p, "data", int(version)) for p in _list_data_files(a_dir)]
    )
    _write_manifest(table_dir, version, live)
    # r14: the just-written files' exact row counts come from their parquet
    # FOOTERS (metadata-only) — the two count() jobs re-scanned what this
    # commit just wrote
    import pyarrow.parquet as _pq

    n_del = sum(_pq.read_metadata(p).num_rows for p in _list_data_files(pd_dir))
    n_ins = sum(_pq.read_metadata(p).num_rows for p in _list_data_files(a_dir))
    return {"n_deleted_pos": n_del, "n_inserted": n_ins, "version": int(version)}


def commit_with_retry(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    max_attempts: int = 5,
    carry_forward: bool = True,
) -> int:
    """Optimistic-concurrency append (B149): resolve the next version
    id, attempt an EXCLUSIVE commit, and on CommitConflict re-resolve
    and retry — the Iceberg/Delta multi-writer loop.  Each attempt
    re-reads the (possibly just-advanced) latest manifest, so a loser's
    retry carries the winner's rows forward; a lost attempt's data files
    sit under their own c{v} dir as invisible orphans for the age-gated
    ``vacuum`` to sweep.  Returns the committed version."""
    for _ in range(max_attempts):
        vs = snapshot_versions(table_dir)
        v = (vs[-1] + 1) if vs else 0
        try:
            commit_snapshot(
                spark,
                table_dir,
                df,
                v,
                carry_forward=carry_forward,
                exclusive=True,
            )
            return v
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {max_attempts} attempts in {table_dir}")


def metadata_table(
    spark: SparkSession,
    table_dir: str,
    kind: str = "files",
    version: int | None = None,
) -> DataFrame:
    """Iceberg-style METADATA TABLES (B182): the table's own metadata
    as queryable DataFrames — ``SELECT * FROM t.files`` parity without
    a catalog.  Everything is manifest-derived (metadata-rate):

    - ``files``: one row per live manifest entry (path, kind, seq,
      n_bytes, n_rows, has_stats/has_bloom/has_partition flags + the
      raw JSON payloads for drill-down);
    - ``history``: ``describe_history`` as a DataFrame (version,
      operation, files/rows/bytes added, commit mtime);
    - ``partitions``: per hidden-partition tuple (B173) the file/row/
      byte rollup — the 'is my layout balanced' audit.
    """
    if kind == "files":
        rows = [
            {
                "path": e["path"],
                "kind": e["kind"],
                "seq": int(e["seq"]),
                "n_bytes": int(e["n_bytes"]),
                "n_rows": int(e["n_rows"]),
                "has_stats": bool(e.get("stats_json")),
                "has_bloom": bool(e.get("bloom_json")),
                "has_partition": bool(e.get("partition_json")),
                "stats_json": e.get("stats_json"),
                "partition_json": e.get("partition_json"),
            }
            for e in manifest_entries(table_dir, version)
        ]
        schema = (
            "path string, kind string, seq long, n_bytes long, n_rows long, "
            "has_stats boolean, has_bloom boolean, has_partition boolean, "
            "stats_json string, partition_json string"
        )
        return spark.createDataFrame(rows, schema)
    if kind == "history":
        return spark.createDataFrame(
            describe_history(table_dir),
            "version long, operation string, n_files_added long, "
            "n_files_removed long, rows_added long, bytes_added long, "
            "commit_mtime double",
        )
    if kind == "partitions":
        agg: dict[str, dict] = {}
        for e in manifest_entries(table_dir, version):
            if e["kind"] != "data":
                continue
            pj = e.get("partition_json")
            key = "<unpartitioned>"
            if pj:
                vals = json.loads(pj)["values"]
                key = "/".join(f"{k}={v}" for k, v in sorted(vals.items()))
            a = agg.setdefault(
                key, {"partition": key, "n_files": 0, "n_rows": 0, "n_bytes": 0}
            )
            a["n_files"] += 1
            a["n_rows"] += int(e["n_rows"])
            a["n_bytes"] += int(e["n_bytes"])
        return spark.createDataFrame(
            list(agg.values()),
            "partition string, n_files long, n_rows long, n_bytes long",
        )
    raise ValueError(f"unknown metadata table {kind!r} (files|history|partitions)")


def describe_history(table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY (B176, the Delta audit surface): one entry per
    committed snapshot with the OPERATION inferred and its footprint —
    derived ENTIRELY from the manifests (no write-side logging to drift
    out of date, and pre-B176 tables get a full history for free):

    - files added/removed vs the previous version, by kind;
    - inferred op: 'append' (data added, nothing removed), 'delete' /
      'positional-delete' (only delete-kind files added), 'merge'
      (posdelete + data in one commit — the B169 signature),
      'replace-or-optimize' (data files removed: content rewritten, the
      boundary B171's change feed refuses to cross), 'create' (v has no
      parent), 'no-op' (nothing changed);
    - rows/bytes added at metadata rate (manifest n_rows/n_bytes — no
      footer reads), plus the manifest file's mtime as the commit
      wall-clock (filesystem truth, the same clock vacuum's age gate
      uses).
    Returns ascending version order."""
    out = []
    prev: list[dict] = []
    for v in snapshot_versions(table_dir):
        cur = manifest_entries(table_dir, v)
        prev_paths = {e["path"] for e in prev}
        cur_paths = {e["path"] for e in cur}
        added = [e for e in cur if e["path"] not in prev_paths]
        removed = [e for e in prev if e["path"] not in cur_paths]
        kinds = {e["kind"] for e in added}
        if not prev:
            op = "create"
        elif any(e["kind"] == "data" for e in removed):
            op = "replace-or-optimize"
        elif kinds == {"data"}:
            op = "append"
        elif kinds == {"delete"}:
            op = "delete"
        elif kinds == {"posdelete"}:
            op = "positional-delete"
        elif kinds == {"posdelete", "data"}:
            op = "merge"
        elif not kinds:
            op = "no-op"
        else:
            op = "mixed"
        out.append(
            {
                "version": v,
                "operation": op,
                "n_files_added": len(added),
                "n_files_removed": len(removed),
                "rows_added": sum(
                    e["n_rows"] for e in added if e["kind"] == "data"
                ),
                "bytes_added": sum(e["n_bytes"] for e in added),
                "commit_mtime": os.path.getmtime(
                    os.path.join(_manifest_dir(table_dir), f"v{v}.parquet")
                ),
            }
        )
        prev = cur
    return out


def expire_snapshots(
    table_dir: str, older_than_s: float, keep_last: int = 1
) -> dict:
    """Time-based retention (B177): expire every snapshot whose
    manifest is older than ``older_than_s`` seconds, always keeping the
    newest ``keep_last`` regardless of age (a quiet table must never
    expire its only snapshot) — the production retention contract
    ('30 days of time travel') that vacuum's count-based ``keep_last``
    cannot express, composed ON vacuum so the orphan-GC and
    referenced-file disciplines are shared, not re-implemented.
    Metadata-rate planning; returns vacuum's observability counts plus
    the expired version list."""
    import time as _time

    vs = snapshot_versions(table_dir)
    if not vs:
        return {"expired_versions": [], "dropped_manifests": [], "removed_files": []}
    now = _time.time()
    old = [
        v
        for v in vs
        if now
        - os.path.getmtime(
            os.path.join(_manifest_dir(table_dir), f"v{v}.parquet")
        )
        >= older_than_s
    ]
    # never expire into the newest keep_last, whatever their age
    protected = set(vs[-max(1, int(keep_last)):])
    # vacuum keeps a COUNT suffix, so expiry must be a contiguous
    # PREFIX: stop at the first version that is young or protected
    # (version order == commit order, so mtimes ascend — a young v
    # below an old one only under clock skew, and stopping early is
    # the conservative answer there)
    old_set = set(old)
    expire: list[int] = []
    for v in vs:
        if v in old_set and v not in protected:
            expire.append(v)
        else:
            break
    keep_n = len(vs) - len(expire)
    rep = vacuum(table_dir, keep_last=keep_n, min_age_s=0.0)
    rep["expired_versions"] = expire
    return rep


def vacuum(
    table_dir: str, keep_last: int = 2, min_age_s: float = 0.0
) -> dict:
    """VACUUM + retention (B145) — the deletion half B138 deliberately
    deferred: nothing in the commit protocol ever removes a file, so a
    long-running table accumulates every superseded version's data plus
    any crashed writer's orphans.  Two metadata-rate steps:

    1. RETENTION: drop manifests older than the last ``keep_last``
       versions — time travel below the new floor fails LOUDLY
       (``read_asof`` raises; it must never silently re-read vacuumed
       files or fall forward to a newer snapshot than asked).
    2. ORPHAN GC: delete data files present on disk but referenced by
       NO surviving manifest (anti-join of the data-dir listing vs the
       union of live manifests), age-gated by ``min_age_s`` so a
       concurrent writer's just-written-not-yet-committed files are
       never swept (the Iceberg orphan-file discipline; commit protocol
       is write-data-then-manifest, so a file older than the gate with
       no manifest entry is either superseded or abandoned).

    The OPTIMIZE interplay (B140's note): an optimize commit rewrites
    the live set, leaving the pre-optimize files referenced only by
    OLDER manifests — retention expires those manifests, and the GC
    then reclaims the files.  Returns counts for observability."""
    import time as _time

    vs = snapshot_versions(table_dir)
    dropped_manifests = []
    if keep_last > 0 and len(vs) > keep_last:
        for v in vs[:-keep_last]:
            os.remove(os.path.join(_manifest_dir(table_dir), f"v{v}.parquet"))
            dropped_manifests.append(v)
        vs = vs[-keep_last:]
    live: set[str] = set()
    for v in vs:
        # kind=None: delete files are live too — sweeping a referenced
        # equality-delete file would resurrect deleted rows (B152)
        live.update(manifest_files(table_dir, v, kind=None))
    data_root = os.path.join(table_dir, "data")
    now = _time.time()
    removed = []
    for p in _list_data_files(data_root) if os.path.isdir(data_root) else []:
        if p not in live and now - os.path.getmtime(p) >= min_age_s:
            os.remove(p)
            removed.append(p)
    # sweep emptied commit dirs (cosmetic; readers never list directories)
    if os.path.isdir(data_root):
        for d in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, d)
            if os.path.isdir(full) and not _list_data_files(full):
                import shutil as _shutil

                _shutil.rmtree(full, ignore_errors=True)
    return {
        "dropped_manifests": dropped_manifests,
        "removed_files": removed,
        "retained_versions": vs,
    }


def optimize_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
    collect_stats: bool = False,
    zorder: bool = False,
) -> list[str]:
    """OPTIMIZE as a table commit — the B135 compaction executor joined
    to the snapshot protocol: rewrite the LATEST snapshot's files into
    target-sized bins (``layout.plan_compaction_bins`` greedy rule, one
    bin-scoped job per bin) and publish the compacted layout as a NEW
    version whose manifest lists ONLY the rewritten files.  Logical
    content is unchanged — ``read_asof(version)`` equals the pre-optimize
    snapshot row-for-row — and older versions stay readable because
    their manifests still reference the original files (pruned only when
    a retention job expires them, exactly the lakehouse VACUUM split).
    Crash-safe like any commit: bins land under data/c{version}/ and are
    invisible until the manifest write.

    B152 interplay: a table with live equality-delete files is rewritten
    THROUGH ``read_asof`` (deletes applied) and published as a pure-data
    layout — OPTIMIZE is the copy-on-write step that retires
    merge-on-read debt and restores B150 file skipping.

    B167 legs: ``cluster_by`` makes the rewrite RE-CLUSTER — the full
    live set (deletes applied) is range-partitioned and sorted on the
    given keys, so the optimized files get disjoint key ranges and
    B150's stats prune on those keys again; ``collect_stats`` records
    the per-file stats in the published manifest — without it an
    optimize of a stats-carrying table silently DROPPED its stats and
    pruning with them (the gap this leg closes: compaction must
    preserve, and re-clustering must re-establish, the skipping a
    clustered write paid for).

    B178 leg: ``zorder=True`` with exactly two ``cluster_by`` columns
    clusters on the MORTON curve (B79's interleaved-bit value) instead
    of lexicographic order — lexicographic (a, b) sorting gives the
    second column useless per-file [min,max] (every file spans b's
    whole domain), while the z-curve keeps files tight in BOTH
    dimensions, so B150 stats prune selective predicates on EITHER
    column — the OPTIMIZE ZORDER BY contract, pytest-measured."""
    from .layout import plan_compaction_bins, zorder_value

    entries = manifest_entries(table_dir)
    data_dir = os.path.join(table_dir, "data", f"c{int(version)}")
    has_deletes = any(e["kind"] in ("delete", "posdelete") for e in entries)
    if zorder and (not cluster_by or len(cluster_by) != 2):
        raise ValueError("zorder=True requires exactly two cluster_by columns")
    # B173 interplay (r12 ADVICE): an OPTIMIZE of a hidden-partitioned
    # table must preserve the pruning its writes paid for — detect
    # carried partition specs and route the rewrite through the shared
    # partitioned-layout writer, re-deriving partition_json for the
    # compacted files under the LATEST spec (spec-evolved old-spec files
    # are re-specced forward, which only improves pruning).
    part_spec_seq: dict[tuple, int] = {}
    for e in entries:
        pj = e.get("partition_json")
        if pj:
            spec_key = tuple(tuple(x) for x in json.loads(pj)["spec"])
            part_spec_seq[spec_key] = max(
                part_spec_seq.get(spec_key, -1), int(e.get("seq", 0))
            )
    if part_spec_seq:
        if zorder:
            raise ValueError(
                "zorder optimize of a hidden-partitioned table is not "
                "supported; use cluster_by (sorts within partitions)"
            )
        from .partitioning import write_partitioned_layout

        spec = [
            (c, t)
            for c, t in max(part_spec_seq, key=lambda k: part_spec_seq[k])
        ]
        live_entries = write_partitioned_layout(
            spark,
            table_dir,
            read_asof(spark, table_dir),
            version,
            spec,
            sort_within=cluster_by,
        )
        prior_bloom_cols = sorted(
            {
                c
                for e in entries
                if e.get("bloom_json")
                for c in json.loads(e["bloom_json"])
            }
        )
        _write_manifest(
            table_dir,
            version,
            live_entries,
            collect_stats=collect_stats,
            bloom_cols=prior_bloom_cols or None,
        )
        return [e["path"] for e in live_entries]
    if cluster_by or has_deletes:
        total = sum(e["n_bytes"] for e in entries if e["kind"] == "data")
        n_bins = int(max(1, total // max(1, target_bytes)))
        df = read_asof(spark, table_dir)
        if zorder:
            a, b = cluster_by
            st = df.agg(
                F.min(a).alias("al"), F.max(a).alias("ah"),
                F.min(b).alias("bl"), F.max(b).alias("bh"),
            ).first()
            if st.al is None or st.bl is None:
                df = df.repartition(n_bins)
            else:
                z = zorder_value(
                    F.col(a), F.col(b), st.al, st.ah, st.bl, st.bh
                )
                df = (
                    df.withColumn("__z", z)
                    .repartitionByRange(n_bins, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
        elif cluster_by:
            df = df.repartitionByRange(n_bins, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            df = df.repartition(n_bins)
        if cluster_by:
            # range boundaries ARE the rewrite's file stats — sample them
            # accurately (default 100/partition sketch leaks rows across
            # file ranges and widens min/max; see layout.py)
            from .layout import accurate_range_sampling

            with accurate_range_sampling(read_asof(spark, table_dir)):
                df.write.mode("overwrite").parquet(data_dir)
        else:
            df.write.mode("overwrite").parquet(data_dir)
    else:
        src_files = [e["path"] for e in entries]
        manifest = [(p, os.path.getsize(p)) for p in src_files]
        bins = plan_compaction_bins(manifest, target_bytes)
        for i, bin_files in enumerate(bins):
            from ..catalog import read_parquet_footer

            (
                read_parquet_footer(spark, *bin_files)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(data_dir, f"bin={i}"))
            )
    live = _list_data_files(data_dir)
    # B172: an optimize of a bloom-indexed table must not silently drop
    # the point-lookup index (the B167 stats-preservation rule applied
    # to blooms) — rebuild filters for the rewritten files over the same
    # column set the pre-optimize manifest indexed
    prior_bloom_cols = sorted(
        {
            c
            for e in entries
            if e.get("bloom_json")
            for c in json.loads(e["bloom_json"])
        }
    )
    _write_manifest(
        table_dir,
        version,
        live,
        collect_stats=collect_stats,
        bloom_cols=prior_bloom_cols or None,
    )
    return live


def backfill_bloom_index(
    table_dir: str,
    version: int,
    bloom_cols: list[str] | None = None,
    exclusive: bool = False,
) -> int:
    """EXPLICIT historical Bloom (re-)indexing (r12 ADVICE): publishes a
    new metadata-only snapshot in which every live DATA file carries a
    Bloom filter for ``bloom_cols`` (default: the union of columns any
    entry already indexes).  This is the deliberately data-rate
    counterpart of the metadata-rate append — ``_write_manifest`` never
    backfills carried files, so indexing history (or WIDENING the
    indexed column set, which leaves carried files partially indexed)
    is an operation a user schedules, like OPTIMIZE.  Files already
    indexed over a superset of the requested columns are left alone;
    partially-indexed files are re-read for the missing columns only.
    Returns the number of files (re)indexed."""
    entries = manifest_entries(table_dir)
    cols = sorted(
        set(bloom_cols or [])
        | {
            c
            for e in entries
            if e.get("bloom_json")
            for c in json.loads(e["bloom_json"])
        }
    )
    if not cols:
        raise ValueError("no bloom columns: pass bloom_cols or index at commit")
    n = 0
    for e in entries:
        if e.get("kind", "data") != "data":
            continue
        have = json.loads(e["bloom_json"]) if e.get("bloom_json") else {}
        missing = [c for c in cols if c not in have]
        if not missing:
            continue
        have.update(_file_bloom_filters(e["path"], missing))
        e["bloom_json"] = json.dumps(have, sort_keys=True)
        n += 1
    _write_manifest(table_dir, version, entries, exclusive=exclusive)
    return n


def snapshot_diff_files(
    table_dir: str, v_from: int, v_to: int | None = None
) -> list[str]:
    """Files added between two snapshots — the incremental change-feed
    primitive (B140): manifest set difference, metadata-rate, no data
    touched.  Valid between APPEND commits (an optimize commit rewrites
    files without changing content, so a diff across it would re-surface
    rewritten rows — ACID formats solve that with row-level add/delete
    tracking; here the contract is documented instead).  Equality-delete
    commits (B152) add no data files, so the feed is APPENDED ROWS only
    — a consumer that must observe deletions reads the delete files
    themselves (``manifest_files(kind='delete')``)."""
    old = set(manifest_files(table_dir, v_from))
    new = manifest_files(table_dir, v_to)
    return [p for p in new if p not in old]


def read_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int | None = None,
    schema=None,
) -> DataFrame:
    """Read ONLY the rows appended after snapshot ``v_from`` (up to
    ``v_to``, default latest): the scan gets the added-file list, so an
    incremental consumer pays for the delta, never a table scan — the
    read-side twin of the B126 delta-merge discipline."""
    files = snapshot_diff_files(table_dir, v_from, v_to)
    if not files and schema is None:
        raise ValueError(
            f"no files added between v{v_from} and v{v_to} in {table_dir}"
        )
    return scan(spark, ScanPlan([DataFile(p) for p in files], schema))


def read_change_feed(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED (B171, the Delta CDF / Iceberg
    changelog shape): every row change between snapshot ``v_from``
    (exclusive) and ``v_to`` (inclusive, default latest) as data columns
    plus ``_change_type`` ('insert' | 'delete') and ``_commit_version``
    — the contract an incremental downstream (a materialized view, a
    search index, a replica) consumes to stay exact without rescanning
    the table.  ``read_changes`` (B140) surfaces appended rows only;
    this leg also RESOLVES deletions to the actual deleted rows:

    - appended data files at v → their rows as 'insert' @ v;
    - an equality-delete commit at v → the rows VISIBLE at v−1 matching
      the delete keys (the B152 seq rule makes visible-at-v−1 exactly
      the seq<v population the delete applies to) as 'delete' @ v;
    - a positional delete at v → the visible-at-v−1 rows whose
      (file, row_index) identity matches the pairs;
    - a MERGE (B169: pairs + appends in one version) yields its deletes
      AND inserts at the same version — an UPDATE is the delete/insert
      pair, as in Delta CDF's update_preimage/postimage split.

    Cost: delta-rate — appended files are read directly; each delete
    commit replays one read of the prior snapshot restricted by
    keys/pairs.  A feed across a replace/optimize commit (rows
    rewritten, content unchanged) is undefined and fails loud."""
    vs = [
        v
        for v in snapshot_versions(table_dir)
        if v > v_from and (v_to is None or v <= v_to)
    ]
    if not vs:
        raise ValueError(
            f"no commits after v{v_from} (<= v{v_to}) in {table_dir}"
        )
    out = None
    for v in vs:
        entries = manifest_entries(table_dir, v)
        prev_entries = manifest_entries(table_dir, v - 1)
        prev_paths = {e["path"] for e in prev_entries}
        removed = {
            e["path"] for e in prev_entries if e["kind"] == "data"
        } - {e["path"] for e in entries if e["kind"] == "data"}
        if removed:
            raise ValueError(
                f"change feed undefined across replace/optimize commit "
                f"v{v} in {table_dir} (data files were rewritten)"
            )
        new = [e for e in entries if e["path"] not in prev_paths]
        frames: list[DataFrame] = []
        added = [e["path"] for e in new if e["kind"] == "data"]
        if added:
            frames.append(
                scan(spark, ScanPlan([DataFile(p) for p in added])).selectExpr(
                    "*", "'insert' AS _change_type"
                )
            )
        prev_has_data = any(e["kind"] == "data" for e in prev_entries)
        eq = [e["path"] for e in new if e["kind"] == "delete"]
        # a delete commit whose parent holds no data (e.g. a CDC
        # stream's very first batch committing its delete leg against
        # an empty table, or v_from = -1 bootstrap) deletes nothing
        if eq and prev_has_data:
            from ..catalog import read_parquet_footer

            keys = read_parquet_footer(spark, *eq).dropDuplicates()
            frames.append(
                read_asof(spark, table_dir, v - 1)
                .join(keys, on=list(keys.columns), how="left_semi")
                .selectExpr("*", "'delete' AS _change_type")
            )
        pos = [e["path"] for e in new if e["kind"] == "posdelete"]
        if pos and prev_has_data:
            pairs = position_frame(
                spark, [PositionDelete(v, p, "row_index") for p in pos]
            )
            frames.append(
                scan(spark, snapshot_plan(table_dir, v - 1), row_identity=True)
                .join(pairs, [POS_PATH, POS_ROW], "left_semi")
                .drop(POS_PATH, POS_ROW)
                .selectExpr("*", "'delete' AS _change_type")
            )
        for f in frames:
            f = f.selectExpr(
                "*", f"CAST({int(v)} AS BIGINT) AS _commit_version"
            )
            out = f if out is None else out.unionByName(f)
    if out is None:
        raise ValueError(
            f"no row changes between v{v_from} and v{v_to} in {table_dir}"
        )
    return out


def version_asof_timestamp(table_dir: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (B185): the newest snapshot whose
    manifest was committed at or before ``ts`` (unix seconds) — the
    Delta/Iceberg timestamp-travel contract on the same filesystem
    clock vacuum and expiry use.  Below-horizon timestamps fail loud
    (the read_asof retention discipline: never silently serve a newer
    state than asked)."""
    vs = snapshot_versions(table_dir)
    ok = [
        v
        for v in vs
        if os.path.getmtime(
            os.path.join(_manifest_dir(table_dir), f"v{v}.parquet")
        )
        <= ts
    ]
    if not ok:
        raise ValueError(
            f"no snapshot committed at or before ts={ts} in {table_dir} "
            f"(earliest retained is v{vs[0] if vs else '?'})"
        )
    return ok[-1]


def read_asof_timestamp(
    spark: SparkSession, table_dir: str, ts: float, schema=None
) -> DataFrame:
    """``SELECT ... TIMESTAMP AS OF`` (B185): resolve then read."""
    return read_asof(
        spark, table_dir, version_asof_timestamp(table_dir, ts), schema=schema
    )


def restore_table(spark: SparkSession, table_dir: str, version: int) -> int:
    """RESTORE TABLE to an older snapshot (B186, the Delta RESTORE
    shape): publish a NEW version whose manifest carries the target
    snapshot's entries verbatim — history moves FORWARD (the bad
    versions stay readable for forensics until retention expires them),
    no data is copied or rewritten (metadata-rate whatever the table
    size), and entries keep their original seq numbers so delete-vs-
    data scoping survives the restore exactly (the B161 clone
    discipline applied in-place).  Returns the new version id."""
    target = manifest_entries(table_dir, int(version))
    if not target:
        raise ValueError(f"no committed snapshot <= {version} in {table_dir}")
    vs = snapshot_versions(table_dir)
    new_v = vs[-1] + 1
    _write_manifest(table_dir, new_v, target)
    return new_v


def apply_change_feed_to_view(
    view_df: DataFrame,
    feed_df: DataFrame,
    group_cols: list[str],
    sum_col: str,
    cnt_col: str = "n_rows",
    sum_out: str = "sum_val",
) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS (B174): fold a
    B171 change feed into a stored (group, count, sum) view — inserts
    add, deletes subtract, groups reaching zero rows drop out.  This is
    the delete-capable half B126's insert-only delta merge lacks: a
    CDC-fed 100 TB aggregate stays |delta|+|view|-rate current through
    upserts and deletes alike, never re-aggregating the base.

    Scope honesty (the standard IVM boundary): count/sum are
    self-maintainable under deletes; min/max are NOT (retracting the
    current extremum needs a per-group rescan) — callers needing them
    recompute flagged groups, so this function deliberately does not
    pretend to maintain them.  ``sum_col`` should be integer units
    (cents / micro-units) — the BIGINT-exact doctrine; a float sum
    drifts from the recompute under long add/subtract chains."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = feed_df.groupBy(*group_cols).agg(
        F.sum(sign).cast("long").alias("__dn"),
        F.sum(sign * F.col(sum_col)).cast("long").alias("__ds"),
    )
    return (
        view_df.join(delta, group_cols, "full_outer")
        .select(
            *group_cols,
            (
                F.coalesce(F.col(cnt_col), F.lit(0))
                + F.coalesce(F.col("__dn"), F.lit(0))
            )
            .cast("long")
            .alias(cnt_col),
            (
                F.coalesce(F.col(sum_out), F.lit(0))
                + F.coalesce(F.col("__ds"), F.lit(0))
            )
            .cast("long")
            .alias(sum_out),
        )
        .filter(F.col(cnt_col) > 0)
    )


def read_asof(
    spark: SparkSession, table_dir: str, version: int | None = None, schema=None
) -> DataFrame:
    """Read the table AS OF ``version`` (latest committed snapshot <=
    version; None = latest): the scan gets the manifest's explicit file
    list, so uncommitted and later-version files are pruned before the
    planner ever sees them.

    A version below the retention floor (older manifests vacuumed away)
    raises UNCONDITIONALLY — even with a ``schema`` fallback — because
    the only honest answers are the vacuumed snapshot (gone) or an
    error; silently returning empty/newer data would corrupt an
    incremental consumer.

    Merge-on-read (B152/B169) is the scan core's (sources/scan.py):
    equality deletes apply to data with a STRICTLY LOWER seq, so
    re-inserted keys survive; the plan stays a union of one scan per
    commit plus narrow anti-joins.

    Interop (B190/B191): a ``table_dir`` holding a Delta ``_delta_log``
    or Iceberg ``metadata/*.metadata.json`` routes through the matching
    external-snapshot reader — same time-travel semantics, that
    format's versions/snapshot-ids instead of this protocol's."""
    from ..sources.delta_log import is_delta_table, read_delta
    from ..sources.iceberg_meta import is_iceberg_table, read_iceberg

    if is_delta_table(table_dir):
        return read_delta(spark, table_dir, version)
    if is_iceberg_table(table_dir):
        return read_iceberg(spark, table_dir, snapshot_id=version)
    return read_where(spark, table_dir, [], version, schema)


def snapshot_plan(
    table_dir: str, version: int | None = None, schema=None
) -> ScanPlan:
    """Resolve the latest snapshot <= ``version`` into a ``ScanPlan``:
    data files with seq, row count, stats (B150), Bloom bitmaps (B172)
    and hidden-partition values (B173), plus equality (B152) and
    positional (B169) deletes.  A positional delete may only name files
    live at its parent, so its seq (its version) is above theirs and
    the core's seq rule is the path-identity rule.  Raises below the
    retention floor (the vacuumed snapshot is gone)."""
    vs = snapshot_versions(table_dir)
    if vs and version is not None and int(version) < vs[0]:
        raise ValueError(
            f"version {version} is below the retention floor v{vs[0]} of "
            f"{table_dir} (older snapshots were vacuumed)"
        )
    entries = manifest_entries(table_dir, version)
    files = []
    for e in entries:
        if e["kind"] != "data":
            continue
        f = DataFile(e["path"], int(e["seq"]), rows=e.get("n_rows"))
        try:
            stats = json.loads(e.get("stats_json") or "{}")
            f.bounds = {c: (st["min"], st["max"]) for c, st in stats.items()}
        except (ValueError, TypeError, KeyError, AttributeError):
            pass  # malformed stats: no bounds, no pruning
        try:
            f.bloom = json.loads(e.get("bloom_json") or "null")
        except ValueError:
            pass
        if e.get("partition_json"):
            from .partitioning import _transform_value

            info = json.loads(e["partition_json"])
            f.transforms = tuple(
                (c, t, info["values"].get(f"{c}:{t}")) for c, t in info["spec"]
            )
            f.to_partition = _transform_value
        files.append(f)
    return ScanPlan(
        files,
        schema,
        position_deletes=[
            PositionDelete(int(e["seq"]), e["path"], "row_index")
            for e in entries
            if e["kind"] == "posdelete"
        ],
        equality_deletes=[
            EqualityDelete(
                int(e["seq"]), e["path"], tuple(pq.read_schema(e["path"]).names)
            )
            for e in entries
            if e["kind"] == "delete"
        ],
    )


def prune_files(
    table_dir: str, filters: list[tuple], version: int | None = None
) -> tuple[list[str], int]:
    """B150 file skipping: the snapshot's files whose manifest stats,
    Bloom bitmaps and hidden-partition values MAY satisfy every filter
    (AND), plus the live-file total.  Pure manifest work, no data file
    opened.  Filters are ``(col, op, value)`` with op in
    =/</<=/>/>=/between (value = (lo, hi)); a zero-row file is pruned
    unconditionally."""
    if _resolve_version(table_dir, version) is None:
        return [], 0
    plan = snapshot_plan(table_dir, version)
    return [f.path for f in prune(plan, filters)], len(plan.files)


def read_where(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple],
    version: int | None = None,
    schema=None,
) -> DataFrame:
    """Read a snapshot with manifest file skipping (B150): scan ONLY
    the files whose stats/Bloom/partition values may match, with
    merge-on-read (deletes scope by seq, so skipping a data file never
    changes which deletes apply to the others) and the residual filter
    applied.  Row-group pruning and pushdown then apply WITHIN the
    surviving files; this layer removes whole files before the planner
    lists and schedules them."""
    plan = snapshot_plan(table_dir, version, schema)
    if not plan.files and plan.schema is None:
        raise ValueError(f"no committed snapshot <= {version} in {table_dir}")
    return scan(spark, plan, filters)


def _refs_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_refs")


def set_ref(table_dir: str, name: str, version: int) -> None:
    """Point branch ref ``name`` at snapshot ``version`` (B153): refs
    are tiny JSON files published by the same temp-write + atomic-rename
    discipline as manifests, so a reader never sees a torn ref and the
    PUBLISH step of write-audit-publish is one atomic rename — the
    cheapest possible cutover, independent of table size.  The version
    must be a committed snapshot: pointing a ref at an uncommitted
    version would make the branch unreadable."""
    if int(version) not in snapshot_versions(table_dir):
        raise ValueError(
            f"cannot set ref {name!r} to uncommitted version {version}"
        )
    os.makedirs(_refs_dir(table_dir), exist_ok=True)
    final = os.path.join(_refs_dir(table_dir), f"{name}.json")
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"version": int(version)}, f)
    os.replace(tmp, final)


def read_ref(table_dir: str, name: str) -> int | None:
    """The snapshot version branch ref ``name`` points at (None if the
    ref does not exist)."""
    path = os.path.join(_refs_dir(table_dir), f"{name}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(json.load(f)["version"])


def read_branch(spark: SparkSession, table_dir: str, name: str = "main") -> DataFrame:
    """Read the table AS OF branch ref ``name`` — the WAP reader
    contract: production readers follow the ref, never "latest
    manifest", so staged-but-unaudited snapshots are invisible to them
    even though their manifests are committed (the staging/publish
    split; ``read_asof(None)`` remains the ref-free single-writer
    mode)."""
    v = read_ref(table_dir, name)
    if v is None:
        raise ValueError(f"no ref {name!r} in {table_dir}")
    return read_asof(spark, table_dir, v)


TT_VERSION_MOD = 3   # commits split orders by o_orderkey % 3
TT_READ_VERSION = 1  # the as-of target: versions 0 and 1 visible, 2 not


def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B138 contract query: three append commits land orders split by
    ``o_orderkey % 3`` (version = the remainder), then the table is read
    AS OF version ``TT_READ_VERSION`` — the snapshot must contain
    exactly the first two commits' rows even though version 2's files
    are already on disk, plus one decoy parquet dropped into the data
    area with NO manifest entry (a crashed writer) that must stay
    invisible.

    Hashed columns: the per-status aggregate of the as-of read (count,
    exact cents sum, min/max key) — DuckDB recomputes it from orders
    WHERE o_orderkey % 3 <= 1.  Any pruning defect is caught by value:
    version-2 rows change every count/sum; the decoy flips them too.
    ``later_files_on_disk_ok`` additionally pins that the pruning was
    real (more data files existed than the snapshot scanned)."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_timetravel_")
    try:
        for v in range(TT_VERSION_MOD):
            commit_snapshot(
                spark,
                work,
                o.filter(F.col("o_orderkey") % TT_VERSION_MOD == v),
                v,
            )
        # a crashed writer's orphan: on disk, in no manifest
        decoy_dir = os.path.join(work, "data", "c99")
        o.limit(100).write.mode("overwrite").parquet(decoy_dir)

        n_disk = sum(
            1
            for root, _d, files in os.walk(os.path.join(work, "data"))
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        snap_files = manifest_files(work, TT_READ_VERSION)
        pruned_ok = 0 < len(snap_files) < n_disk
        asof = read_asof(spark, work, TT_READ_VERSION)
        agg = (
            asof.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .withColumn("later_files_on_disk_ok", F.lit(bool(pruned_ok)))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B140 contract query: the same three o_orderkey%3 append commits
    as B138, then an incremental read of everything added AFTER version
    0 — the change feed must contain exactly commits 1 and 2 (never
    version 0's rows, never the no-manifest decoy), and its file list
    must be a strict subset of the latest snapshot's.

    Hashed columns: per-status aggregate of the delta (DuckDB recomputes
    from orders WHERE o_orderkey % 3 IN (1, 2)); ``files_subset_ok``
    pins that the diff scanned fewer files than the full snapshot."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_snapdiff_")
    try:
        for v in range(TT_VERSION_MOD):
            commit_snapshot(
                spark,
                work,
                o.filter(F.col("o_orderkey") % TT_VERSION_MOD == v),
                v,
            )
        o.limit(50).write.mode("overwrite").parquet(
            os.path.join(work, "data", "c99")  # crashed-writer decoy
        )
        diff_files = snapshot_diff_files(work, 0)
        all_files = manifest_files(work)
        subset_ok = 0 < len(diff_files) < len(all_files)
        delta = read_changes(spark, work, 0)
        agg = (
            delta.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .withColumn("files_subset_ok", F.lit(bool(subset_ok)))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


PRUNE_RANGE_PARTS = 8        # range-clustered commit: 8 disjoint key ranges
PRUNE_LO, PRUNE_HI = 1000, 5000  # the read predicate (non-empty at every sf)


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B172 contract query: commit orders HASH-scattered on
    ``o_orderkey`` (``repartition(8, o_orderkey)`` — the arrival-order /
    digest-keyed layout where every file's [min,max] spans the whole key
    domain, so B150 stats prune NOTHING) with per-file Bloom filters
    recorded in the manifest; then the point lookup
    ``o_orderkey = 7`` must (a) return exactly that row and (b) have
    skipped files purely from the Bloom bitmaps.

    Hashed columns: the looked-up row's exact values (DuckDB recomputes
    the same lookup — if the bloom ever dropped the key's actual file,
    the row would vanish and the hash/row-count check itself fails: the
    no-false-negative contract is on the VALUES, not a flag); two
    structural flags — ``stats_kept_all`` pins the premise (min/max
    alone keeps every file: this key IS un-prunable by B150, so the
    bloom is doing real work, not shadowing stats) and
    ``bloom_pruned_ok`` pins that bloom skipping actually happened.
    The probed key is derived identically on both engines — the
    smallest existing key at or above half the max — so it sits
    MID-DOMAIN (inside every scattered file's [min,max], making the
    premise structural) and exists at every scale factor.

    Scale story: the lookup-by-key read a 100 TB table serves
    constantly (order id, doc digest, user id) — min/max stats answer
    range scans on CLUSTERED keys; the 1 KiB-per-file bloom answers
    point probes on SCATTERED keys at the same metadata rate, ~10⁶
    files → the ~fp-rate share actually scanned."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_bloomprune_")
    try:
        commit_snapshot(
            spark,
            work,
            o.repartition(PRUNE_RANGE_PARTS, "o_orderkey"),
            0,
            collect_stats=True,
            bloom_cols=["o_orderkey"],
        )
        # mid-domain existing key, BIGINT-exact on both engines
        half = o.agg(F.expr("max(o_orderkey) div 2").alias("h")).first()["h"]
        point_key = (
            o.filter(F.col("o_orderkey") >= half)
            .agg(F.min("o_orderkey"))
            .first()[0]
        )
        filters = [("o_orderkey", "=", int(point_key))]
        kept, total = prune_files(work, filters)
        # stats-only premise: strip bloom decisions by probing stats alone
        entries = snapshot_plan(work).files
        stats_kept = [
            f.path for f in entries if may_match(replace(f, bloom=None), *filters[0])
        ]
        df = read_where(spark, work, filters)
        agg = (
            df.select(
                F.col("o_orderkey").cast("long").alias("o_orderkey"),
                F.col("o_orderstatus").alias("status"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("price_cents"),
            )
            .withColumn("stats_kept_all", F.lit(len(stats_kept) == len(entries)))
            .withColumn("bloom_pruned_ok", F.lit(0 < len(kept) < total))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


def q_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B150 contract query: commit orders ONCE, range-clustered on
    ``o_orderkey`` (``repartitionByRange(8)`` → 8 files with disjoint
    key ranges — the layout a Z-order/partition-clustering write
    discipline produces, B79), with per-file column stats recorded in
    the manifest; then ``read_where(o_orderkey BETWEEN 1000 AND 5000)``
    must (a) return exactly the predicate's rows and (b) have SKIPPED
    at least one file purely from manifest stats.

    Hashed columns: the per-status aggregate of the pruned read (DuckDB
    recomputes from ``orders WHERE o_orderkey BETWEEN ...``) — any
    mis-prune flips counts/sums by value; ``files_pruned_ok``
    additionally pins that skipping actually happened (kept strictly
    between 0 and the live-file total), so a regression that silently
    scans everything fails the hash even though the VALUES would agree.

    Scale story: this is the read path that matters most at 100 TB — a
    clustered table's manifest prunes ~10⁶ files to the handful whose
    [min,max] overlap the predicate, at metadata rate, BEFORE Spark
    plans the scan; footer pushdown alone still lists and schedules
    every file."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_statsprune_")
    try:
        commit_snapshot(
            spark,
            work,
            o.repartitionByRange(PRUNE_RANGE_PARTS, "o_orderkey"),
            0,
            collect_stats=True,
        )
        filters = [("o_orderkey", "between", (PRUNE_LO, PRUNE_HI))]
        kept, total = prune_files(work, filters)
        pruned_ok = 0 < len(kept) < total
        df = read_where(spark, work, filters)
        agg = (
            df.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .withColumn("files_pruned_ok", F.lit(bool(pruned_ok)))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


DEL_MOD = 5     # v1 equality-deletes orders with o_orderkey % 5 == 0
REINS_MOD = 10  # v2 re-appends orders with o_orderkey % 10 == 0 (deleted subset)


def q_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B152 contract query: commit orders (v0), equality-delete every
    ``o_orderkey % 5 == 0`` key (v1 — keys-only parquet, NO data file
    rewritten), then re-append the ``% 10 == 0`` half of the deleted
    keys (v2).  The latest read must show: undeleted originals ∪ the
    re-inserted rows — i.e. the seq rule end to end (the v1 delete
    applies to v0 data only, never to the v2 append), which DuckDB
    recomputes as ``% 5 <> 0 OR % 10 = 0``.

    Hashed columns: the per-status aggregate of the merge-on-read
    latest, plus two structural flags — as-of v0 still shows ALL rows
    (deletes are snapshot participants, not history rewrites) and as-of
    v1 shrank (delete visible).  Re-insert visibility is carried by the
    VALUES: the oracle's ``% 10 = 0`` leg only matches if the v2 rows
    survive the v1 delete.  A scoping bug in any direction (delete
    leaking onto v2 data, delete ignored, time travel corrupted) flips
    a flag or the hashed aggregate itself."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_eqdelete_")
    try:
        commit_snapshot(spark, work, o, 0)
        commit_delete(
            spark,
            work,
            o.filter(F.col("o_orderkey") % DEL_MOD == 0).select("o_orderkey"),
            1,
        )
        commit_snapshot(
            spark, work, o.filter(F.col("o_orderkey") % REINS_MOD == 0), 2
        )
        n_all = o.count()
        n_v0 = read_asof(spark, work, 0).count()
        n_v1 = read_asof(spark, work, 1).count()
        latest = read_asof(spark, work)
        agg = (
            latest.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .withColumn("asof_predelete_ok", F.lit(bool(n_v0 == n_all)))
            .withColumn("delete_shrank_ok", F.lit(bool(n_v1 < n_v0)))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


MERGE_MOD = 7            # merge UPDATES orders with o_orderkey % 7 == 0
MERGE_INS_MOD = 97       # merge INSERTS new keys derived from % 97 == 0 rows
MERGE_KEY_OFFSET = 10_000_000  # offset makes inserted keys provably new
MERGE_PRICE_BUMP = 1000.0      # exact binary double add — engine-identical


def q_positional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B169 contract query: commit orders (v0, multi-file), then ONE
    atomic MERGE (v1) through ``merge_rows_positional`` — updates every
    ``o_orderkey % 7 == 0`` row (price + 1000, deleted BY POSITION and
    re-appended) and inserts brand-new keys (``% 97 == 0`` rows shifted
    by +10M).  The latest read must equal DuckDB's declarative restate:
    unmatched originals ∪ updated rows ∪ inserts.

    Structural flags: ``asof_premerge_ok`` — v0 still shows every
    original row (the merge is a snapshot participant, not a rewrite);
    ``no_rewrite_ok`` — every v0 DATA file is still live in v1's
    manifest (the whole point: a 0.01%-match merge must not rewrite
    data files); ``posdelete_present_ok`` — v1 carries position-delete
    entries.  A scoping bug (pair hitting the wrong file/row, delete
    leaking onto the appended rows, pairs ignored) flips the hashed
    aggregate itself."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_posdelete_")
    try:
        commit_snapshot(spark, work, o.repartition(4), 0)
        updates = o.filter(F.col("o_orderkey") % MERGE_MOD == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(MERGE_PRICE_BUMP)).alias(
                "o_totalprice"
            ),
        )
        inserts = o.filter(F.col("o_orderkey") % MERGE_INS_MOD == 0).select(
            (F.col("o_orderkey") + F.lit(MERGE_KEY_OFFSET)).alias("o_orderkey"),
            "o_orderstatus",
            "o_totalprice",
        )
        rep = merge_rows_positional(
            spark, work, updates.unionByName(inserts), ["o_orderkey"], 1
        )
        n_all = o.count()
        n_v0 = read_asof(spark, work, 0).count()
        v0_files = set(manifest_files(work, 0))
        v1_entries = manifest_entries(work, 1)
        v1_data = {e["path"] for e in v1_entries if e["kind"] == "data"}
        has_pos = any(e["kind"] == "posdelete" for e in v1_entries)
        latest = read_asof(spark, work)
        agg = (
            latest.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .withColumn("asof_premerge_ok", F.lit(bool(n_v0 == n_all)))
            .withColumn(
                "no_rewrite_ok", F.lit(bool(v0_files <= v1_data))
            )
            .withColumn(
                "posdelete_present_ok",
                F.lit(bool(has_pos and rep["n_deleted_pos"] > 0)),
            )
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


def q_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B171 contract query: base commit (v0) → equality delete of the
    ``% 5 == 0`` keys (v1) → positional MERGE updating ``% 7 == 0``
    rows (v2, delete-by-position + re-append with price+1000).  The
    change feed from v0 must contain EXACTLY: the v1-deleted originals
    as ('delete', 1), the v2-superseded rows — visible at v1, i.e.
    ``% 5 <> 0 AND % 7 == 0`` — as ('delete', 2), and every merge
    source row as ('insert', 2).  DuckDB restates the three legs
    declaratively; the hashed per-(change, version, status) aggregate
    catches a feed that misresolves delete rows, leaks the v1-deleted
    rows into v2's deletes, or drops the update's insert half."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_cdf_")
    try:
        commit_snapshot(spark, work, o.repartition(4), 0)
        commit_delete(
            spark,
            work,
            o.filter(F.col("o_orderkey") % DEL_MOD == 0).select("o_orderkey"),
            1,
        )
        updates = o.filter(F.col("o_orderkey") % MERGE_MOD == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(MERGE_PRICE_BUMP)).alias(
                "o_totalprice"
            ),
        )
        merge_rows_positional(spark, work, updates, ["o_orderkey"], 2)
        feed = read_change_feed(spark, work, 0)
        agg = (
            feed.groupBy(
                F.col("_change_type").alias("change"),
                F.col("_commit_version").alias("commit_v"),
                F.col("o_orderstatus").alias("status"),
            )
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


def q_matview_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B174 contract query: per-status (count, exact-cents sum) view
    built from the v0 snapshot, then maintained INCREMENTALLY through
    the same v1 equality-delete + v2 positional-merge history as
    q_change_feed — inserts add, deletes subtract, min/max deliberately
    absent (not self-maintainable under retraction).  The maintained
    view must equal DuckDB's declarative aggregate of the FINAL state
    (unmatched-by-anything originals ∪ all merge-source rows), and
    ``matches_recompute_ok`` pins the in-engine invariant: incremental
    result == full re-aggregate of read_asof(latest), row for row."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    work = tempfile.mkdtemp(prefix="k2e_matviewcdf_")
    try:
        commit_snapshot(spark, work, o.repartition(4), 0)
        commit_delete(
            spark,
            work,
            o.filter(F.col("o_orderkey") % DEL_MOD == 0).select("o_orderkey"),
            1,
        )
        updates = o.filter(F.col("o_orderkey") % MERGE_MOD == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(MERGE_PRICE_BUMP)).alias(
                "o_totalprice"
            ),
        )
        merge_rows_positional(spark, work, updates, ["o_orderkey"], 2)

        def agg_of(df: DataFrame) -> DataFrame:
            return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(cents).cast("long").alias("sum_cents"),
            )

        view0 = agg_of(read_asof(spark, work, 0))
        feed = read_change_feed(spark, work, 0).withColumn("__cents", cents)
        view = apply_change_feed_to_view(
            view0.withColumnRenamed("status", "status"),
            feed.withColumnRenamed("o_orderstatus", "status"),
            ["status"],
            "__cents",
            cnt_col="n_rows",
            sum_out="sum_cents",
        )
        recompute = agg_of(read_asof(spark, work))
        # status is the grouping key (one row per group), so the exact
        # row-for-row invariant is a bounded sorted-collect compare
        a = sorted(map(tuple, view.collect()))
        b = sorted(map(tuple, recompute.collect()))
        out = view.withColumn(
            "matches_recompute_ok", F.lit(bool(a == b))
        ).localCheckpoint(eager=True)  # materialize before the rmtree
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def clone_table(
    src_dir: str, dst_dir: str, version: int | None = None, deep: bool = False
) -> int:
    """Shallow clone (B161, the Delta/Iceberg CLONE): create table
    ``dst_dir`` whose v0 manifest REFERENCES the source snapshot's
    files — zero data copied, metadata-rate regardless of table size.
    The dev/test-sandbox primitive: clone a 100 TB table in
    milliseconds, experiment (appends, deletes, optimize all land under
    the CLONE's own data dir), throw it away.

    Ownership discipline (the one rule that makes shallow clones safe):
    a table's vacuum only ever deletes files under ITS OWN ``data/``
    dir (`_list_data_files(dst/data)`), so a clone's vacuum can never
    GC the source's files it merely references — and conversely a
    SOURCE vacuum that expires the cloned-from snapshot CAN strand the
    clone (exactly Delta's documented shallow-clone caveat); the clone
    must be re-based or deep-copied before the source's retention
    passes it — ``deep=True`` is that escape: it COPIES the referenced
    files under the clone's own data dir (data-rate, one read+write
    per file, no Spark job — a byte copy preserves footers and stats),
    making the clone self-contained and immune to source retention.

    Sequence discipline: entries keep their ORIGINAL seq numbers (so
    the source's delete-vs-data scoping survives verbatim) and the
    clone's first version id starts ABOVE the max inherited seq —
    every future clone commit therefore outranks every inherited file,
    which is exactly the ordering a fresh append/delete needs.
    Returns the clone's base version id."""
    import shutil as _shutil

    entries = manifest_entries(src_dir, version)
    if not entries:
        raise ValueError(f"no committed snapshot <= {version} in {src_dir}")
    base = max(int(e["seq"]) for e in entries) + 1
    os.makedirs(dst_dir, exist_ok=True)
    rows = list(entries)  # full dicts: footer stats carried, not re-read
    if deep:
        copy_dir = os.path.join(dst_dir, "data", f"c{base}clone")
        os.makedirs(copy_dir, exist_ok=True)
        copied = []
        for i, e in enumerate(rows):
            dst_p = os.path.join(copy_dir, f"f{i}-{os.path.basename(e['path'])}")
            _shutil.copyfile(e["path"], dst_p)
            # a byte copy preserves footers, so size/rows/stats carry over
            copied.append({**e, "path": dst_p})
        rows = copied
    _write_manifest(dst_dir, base, rows)
    return base


def fsck_snapshot(table_dir: str, version: int | None = None) -> dict:
    """Snapshot integrity check (B168, the lakehouse fsck): verify every
    file the manifest references exists on disk with EXACTLY the
    recorded byte size and row count — the audit a storage migration,
    a restore, or a suspected-bitrot incident runs before trusting a
    table.  Footer-rate (one os.stat + one footer read per live file,
    no data pages), so it scales like the manifest itself.

    Returns {missing, size_mismatch, rows_mismatch, n_checked}; an
    empty triple of lists is a clean bill.  A dirty result means the
    snapshot CANNOT be read faithfully — the caller restores the files
    or vacuums forward past the damage; fsck itself never mutates."""
    missing, size_bad, rows_bad = [], [], []
    entries = manifest_entries(table_dir, version)
    for e in entries:
        p = e["path"]
        if not os.path.exists(p):
            missing.append(p)
            continue
        if os.path.getsize(p) != e["n_bytes"]:
            size_bad.append(p)
            continue
        if pq.read_metadata(p).num_rows != e["n_rows"]:
            rows_bad.append(p)
    return {
        "missing": missing,
        "size_mismatch": size_bad,
        "rows_mismatch": rows_bad,
        "n_checked": len(entries),
    }


class SchemaEnforcementError(ValueError):
    """An append's schema is incompatible with the table's recorded
    schema under the commit's ``schema_mode`` (B170)."""


# safe widening conversions (Spark's own upcast lattice, numeric kinds
# kept separate — int→double silently loses 2^53+ exactness, rejected)
_INT_WIDEN = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLT_WIDEN = {"float": 0, "double": 1}


def _type_change_ok(old: str, new: str) -> bool:
    if old == new:
        return True
    if old in _INT_WIDEN and new in _INT_WIDEN:
        return _INT_WIDEN[new] > _INT_WIDEN[old]
    if old in _FLT_WIDEN and new in _FLT_WIDEN:
        return _FLT_WIDEN[new] > _FLT_WIDEN[old]
    return False


def latest_recorded_schema(table_dir: str) -> dict[str, str] | None:
    """{column: simple type string} of the latest recorded schema (B166),
    or None if the table has never recorded one."""
    sdir = os.path.join(table_dir, "_schema")
    if not os.path.isdir(sdir):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(sdir)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    ]
    if not versions:
        return None
    from pyspark.sql.types import StructType

    with open(os.path.join(sdir, f"v{max(versions)}.json")) as f:
        st = StructType.fromJson(json.load(f))
    return {fl.name: fl.dataType.simpleString() for fl in st.fields}


def check_schema_compatible(
    table_dir: str, df: DataFrame, mode: str
) -> None:
    """B170 ingestion contract — the enforcement leg B166's passive
    drift RECORDS lacked: validate ``df``'s schema against the table's
    latest recorded schema BEFORE any data is written (metadata-rate,
    fail-loud).  Modes are the Delta semantics:

    - ``enforce``: the append must match the recorded schema exactly —
      no new columns, no dropped columns, no type changes.  The 100 TB
      default: a producer-side schema slip (int→string, a renamed
      field) must bounce at commit time, not poison a million-file
      table for every downstream reader.
    - ``evolve``: additive evolution — new columns allowed, dropped
      columns allowed (B120's evolution-on-read serves nulls / prunes),
      type changes allowed only along the safe WIDENING lattice
      (int→bigint, float→double); narrowing or cross-kind changes
      (bigint→int, double→string) are rejected in BOTH modes, because
      no read-side merge can undo lost information.
    A table with no recorded schema accepts any df (the first
    schema-moded commit establishes the contract)."""
    if mode not in ("enforce", "evolve"):
        raise ValueError(f"schema_mode must be 'enforce'|'evolve', got {mode!r}")
    prev = latest_recorded_schema(table_dir)
    if prev is None:
        return
    cur = {fl.name: fl.dataType.simpleString() for fl in df.schema.fields}
    problems = []
    for name, old_t in prev.items():
        if name not in cur:
            if mode == "enforce":
                problems.append(f"dropped column {name!r} ({old_t})")
        elif not _type_change_ok(old_t, cur[name]):
            problems.append(
                f"incompatible type change {name!r}: {old_t} -> {cur[name]}"
            )
        elif mode == "enforce" and cur[name] != old_t:
            problems.append(
                f"type change {name!r}: {old_t} -> {cur[name]} "
                f"(widening needs schema_mode='evolve')"
            )
    if mode == "enforce":
        for name in cur.keys() - prev.keys():
            problems.append(
                f"new column {name!r} ({cur[name]}) "
                f"(adding needs schema_mode='evolve')"
            )
    if problems:
        raise SchemaEnforcementError(
            f"append rejected by schema_mode={mode!r} for {table_dir}: "
            + "; ".join(sorted(problems))
        )


class CheckConstraintViolation(ValueError):
    """An append contains rows violating a table CHECK constraint (B184)."""


def set_check_constraints(table_dir: str, constraints: list[str]) -> None:
    """Declare table-level CHECK constraints (B184, the Delta
    ``ALTER TABLE ADD CONSTRAINT CHECK`` shape): SQL boolean expressions
    over the row, stored as table metadata (atomic-rename JSON) and
    enforced by every later ``commit_snapshot`` BEFORE any data is
    written.  An empty list clears them."""
    os.makedirs(table_dir, exist_ok=True)
    final = os.path.join(table_dir, "_constraints.json")
    tmp = final + f".tmp-{os.getpid()}x{next(_COMMIT_SEQ)}"
    with open(tmp, "w") as f:
        json.dump(list(constraints), f)
    os.replace(tmp, final)


def get_check_constraints(table_dir: str) -> list[str]:
    p = os.path.join(table_dir, "_constraints.json")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def enforce_check_constraints(table_dir: str, df: DataFrame) -> None:
    """Validate ``df`` against the table's CHECK constraints in ONE
    pass (violations of every constraint counted in a single
    conditional aggregate — the B159 compile discipline, never
    one-scan-per-check) and fail loud pre-write with per-constraint
    counts.  NULL evaluations count as violations (a constraint must
    PROVE the row, the SQL CHECK semantics tightened to the ingestion-
    gate posture)."""
    constraints = get_check_constraints(table_dir)
    if not constraints:
        return
    aggs = [
        F.sum(
            F.when(F.coalesce(F.expr(c), F.lit(False)), 0).otherwise(1)
        ).alias(f"c{i}")
        for i, c in enumerate(constraints)
    ]
    row = df.agg(*aggs).first()
    bad = {
        c: int(row[f"c{i}"])
        for i, c in enumerate(constraints)
        if row[f"c{i}"] and int(row[f"c{i}"]) > 0
    }
    if bad:
        raise CheckConstraintViolation(
            f"append rejected by CHECK constraints for {table_dir}: {bad}"
        )


def record_schema(table_dir: str, version: int, df: DataFrame) -> None:
    """Record ``df``'s schema alongside snapshot ``version`` (B166):
    one JSON file per version under ``_schema/`` (same atomic-rename
    publish), giving time travel a SCHEMA dimension — ``read_asof``
    already returns the old FILES (and therefore the old columns); the
    recorded schema makes the evolution inspectable without opening a
    single footer."""
    sdir = os.path.join(table_dir, "_schema")
    os.makedirs(sdir, exist_ok=True)
    final = os.path.join(sdir, f"v{int(version)}.json")
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(df.schema.json())
    os.replace(tmp, final)


def schema_history(table_dir: str) -> list[dict]:
    """Schema drift report (B166, the DESCRIBE-HISTORY schema leg): one
    entry per recorded version with the columns ADDED and REMOVED
    relative to the previous recorded version — the ingestion-contract
    audit trail a pipeline consults before a B120 schema-evolution read
    or a B159 expectation update.  Metadata-rate: JSON files only, no
    footer or data reads."""
    sdir = os.path.join(table_dir, "_schema")
    if not os.path.isdir(sdir):
        return []
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(sdir)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    )
    out = []
    prev: set[str] = set()
    for v in versions:
        with open(os.path.join(sdir, f"v{v}.json")) as f:
            fields = {fl["name"] for fl in json.load(f)["fields"]}
        out.append(
            {
                "version": v,
                "columns": sorted(fields),
                "added": sorted(fields - prev),
                "removed": sorted(prev - fields),
            }
        )
        prev = fields
    return out


def _plan_fingerprint(df: DataFrame, inputs: dict) -> str:
    """Deterministic cache key for a DataFrame's OPTIMIZED logical plan
    plus a caller-pinned input-version map.  Expression ids (#123) are
    session-local noise and get normalized away; everything else —
    operators, literals, column names, file paths — stays, so two
    different queries cannot collide (a FALSE MISS just recomputes; a
    false hit would serve wrong data, hence conservative keying)."""
    import hashlib
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    norm = re.sub(r"#\d+", "#x", plan)
    key = norm + "\n" + json.dumps(inputs, sort_keys=True)
    return hashlib.md5(key.encode("utf-8")).hexdigest()


def cached_query(
    spark: SparkSession,
    df: DataFrame,
    cache_dir: str,
    inputs: dict | None = None,
) -> DataFrame:
    """Plan-fingerprint result cache on the snapshot protocol (B165):
    the repeated-dashboard-query answer at 100 TB — the first run
    commits the result as a snapshot table keyed by the query's
    normalized optimized-plan fingerprint + the caller's pinned input
    versions; every later identical query is a metadata-rate manifest
    read plus a result-sized scan, the source is never re-touched.

    Correctness contract: ``inputs`` must pin every source's version
    (e.g. {"orders": 3} from the B138/B164 read path) — the fingerprint
    includes it, so a new input version is a cache MISS, never a stale
    hit; with inputs omitted the cache only guarantees same-plan
    equivalence and staleness is the CALLER's bargain (documented, the
    materialized-view-without-maintenance mode — contrast B126, whose
    incremental maintainer is the right tool when the input churns).
    Storage is an ordinary snapshot table per fingerprint: vacuum's
    age-gated GC is the eviction policy, and a crash mid-commit leaves
    an invisible orphan, never a half-cached answer."""
    fp = _plan_fingerprint(df, inputs or {})
    table = os.path.join(cache_dir, fp)
    if snapshot_versions(table):
        return read_asof(spark, table)
    # EXCLUSIVE commit (r11 ADVICE): two processes that both miss the
    # same fingerprint would otherwise write mode-overwrite into the
    # same data/c0 dir — the loser clobbering files the winner's
    # manifest just published (the shared-c{v} hazard).  exclusive=True
    # gives each attempt a writer-unique data dir + CAS manifest
    # publish; a CommitConflict just means another writer populated the
    # entry first, so fall through and serve it.
    try:
        commit_snapshot(spark, table, df, 0, exclusive=True)
    except CommitConflict:
        pass
    return read_asof(spark, table)


def commit_catalog(catalog_dir: str, table_versions: dict[str, int]) -> int:
    """Catalog-level ATOMIC multi-table commit (B164): publish a
    consistent set of per-table snapshot versions as one catalog
    version — the cross-table transaction leg single-table manifests
    cannot give (a reader joining orders-v2 against lineitem-v1 sees a
    state that never existed).  Mechanics reuse the proven commit
    discipline at one level up: the catalog version is a JSON file
    {table: version} published by temp-write + atomic rename under
    ``_catalog/``, so a reader resolves ONE catalog version and gets
    every table pinned to mutually-consistent snapshots; table commits
    that have not been catalog-published are staged, exactly the B153
    reader contract lifted to the database level (Iceberg REST-catalog
    / Delta multi-table-transaction shape, format-free).

    The write protocol is therefore: commit each table (their manifests
    are invisible to catalog readers), then one catalog commit flips
    all of them visible together — crash between table commits leaves
    only invisible staged snapshots; crash before the catalog rename
    leaves the previous catalog version intact.  Metadata-rate: the
    catalog file is one row per table.

    The publish is a compare-and-swap (the B149 discipline at catalog
    level — an ``os.replace`` here would let two racing transactions
    silently clobber one catalog version, the exact lost-update B149
    closed for tables): ``os.link`` fails EEXIST if the version is
    taken, the loser gets ``CommitConflict`` and retries.

    ``table_versions`` is a DELTA, not the full catalog state (r11
    ADVICE, medium): every attempt — first try and CAS retries alike —
    re-reads the LATEST catalog version inside the loop and merges the
    caller's pins over it (read-modify-write under CAS).  Publishing the
    caller's map verbatim on retry would silently revert a concurrent
    winner's pins for tables this transaction never touched (lost update
    on disjoint-table commits); with the merge, disjoint transactions
    serialize and BOTH sets of pins survive in the final version.
    Tables absent from both the delta and the parent state simply don't
    appear — dropping a table from the catalog is a separate, explicit
    operation, not an implicit side effect of someone else's commit."""
    os.makedirs(os.path.join(catalog_dir, "_catalog"), exist_ok=True)
    delta = {t: int(tv) for t, tv in table_versions.items()}
    for attempt in range(20):
        if attempt:
            # tiny decorrelating backoff: under N-writer contention every
            # loser otherwise re-reads and re-collides in lockstep
            time.sleep(0.001 * (attempt % 4) + 0.0005 * (os.getpid() % 7))
        vs = catalog_versions(catalog_dir)
        v = (vs[-1] + 1) if vs else 0
        merged = dict(delta)
        if vs:
            with open(
                os.path.join(catalog_dir, "_catalog", f"v{vs[-1]}.json")
            ) as f:
                parent = json.load(f)
            merged = {**parent, **delta}
        final = os.path.join(catalog_dir, "_catalog", f"v{v}.json")
        tmp = final + f".tmp-{os.getpid()}x{next(_COMMIT_SEQ)}"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        try:
            os.link(tmp, final)
            return v
        except FileExistsError:
            continue
        finally:
            os.unlink(tmp)
    raise CommitConflict(f"catalog commit gave up after 20 attempts in {catalog_dir}")


def catalog_versions(catalog_dir: str) -> list[int]:
    """Committed catalog versions, ascending."""
    cdir = os.path.join(catalog_dir, "_catalog")
    if not os.path.isdir(cdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(cdir)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    )


def read_catalog_asof(
    spark: SparkSession,
    catalog_dir: str,
    tables: dict[str, str],
    version: int | None = None,
) -> dict[str, DataFrame]:
    """Consistent multi-table read (B164): resolve ONE catalog version
    (latest <= ``version``) and return every requested table AS OF the
    versions that catalog commit pinned TOGETHER — a join across the
    returned frames can never mix table states from different
    transactions.  ``tables`` maps table name → table_dir."""
    vs = [
        v
        for v in catalog_versions(catalog_dir)
        if version is None or v <= version
    ]
    if not vs:
        raise ValueError(f"no catalog commit <= {version} in {catalog_dir}")
    with open(
        os.path.join(catalog_dir, "_catalog", f"v{vs[-1]}.json")
    ) as f:
        pinned = json.load(f)
    out = {}
    for name, tdir in tables.items():
        if name not in pinned:
            raise ValueError(f"table {name!r} not in catalog version v{vs[-1]}")
        out[name] = read_asof(spark, tdir, int(pinned[name]))
    return out


def erase_keys(
    spark: SparkSession, table_dir: str, keys_df: DataFrame
) -> dict:
    """Right-to-erasure, PHYSICAL (B158): the GDPR/CCPA composition the
    lakehouse pieces exist for — a B152 equality delete makes the keys
    logically invisible, but the bytes still live in data files that
    older snapshots reference and time travel can resurrect.  Physical
    erasure is delete → fold → expire, each already-audited machinery:

    1. ``commit_delete(keys)`` — keys invisible to the new snapshot;
    2. ``optimize_snapshot`` — copy-on-write rewrite THROUGH the
       merge-on-read, so the new data files physically lack the rows;
    3. ``vacuum(keep_last=1, min_age_s=0)`` — every manifest that could
       still reference the pre-erasure files expires, and the orphan GC
       deletes the files themselves.  Time travel below the floor now
       fails loudly instead of resurrecting erased rows.

    The 'main' ref (B153), if present, is repointed at the rewritten
    snapshot — an erased table must not leave production readers on an
    expired version.  Other refs are deliberately NOT touched: a ref
    pinned below the retention floor now errors on read, which is the
    honest outcome (the snapshot it named no longer exists).

    Cost at 100 TB: ONE table rewrite (the optimize) — irreducible for
    physical erasure — plus metadata-rate everything else; batching
    erasure requests into one optimize is the standard amortization.
    Returns the vacuum report plus the rewrite version for audit logs."""
    vs = snapshot_versions(table_dir)
    if not vs:
        raise ValueError(f"no committed snapshots in {table_dir}")
    # preserve what the table already paid for: if the pre-erasure
    # manifest carried column stats, the rewrite re-collects them (B167)
    had_stats = any(e.get("stats_json") for e in manifest_entries(table_dir))
    v_del = vs[-1] + 1
    commit_delete(spark, table_dir, keys_df, v_del)
    v_opt = v_del + 1
    optimize_snapshot(spark, table_dir, v_opt, collect_stats=had_stats)
    if read_ref(table_dir, "main") is not None:
        set_ref(table_dir, "main", v_opt)
    report = vacuum(table_dir, keep_last=1, min_age_s=0.0)
    report["rewrite_version"] = v_opt
    return report


def audit_erasure(
    spark: SparkSession, table_dir: str, keys_df: DataFrame
) -> int:
    """Count of key matches across EVERY retained snapshot's data files
    (0 = erased): the audit reads the union of all live manifests' data
    files — not just the latest — so a stale manifest still referencing
    pre-erasure bytes is caught, which is exactly the leak class
    ``erase_keys``'s vacuum step exists to close."""
    files: set[str] = set()
    for v in snapshot_versions(table_dir):
        files.update(manifest_files(table_dir, v))
    if not files:
        return 0
    data = scan(spark, ScanPlan([DataFile(p) for p in sorted(files)]))
    keys = keys_df.dropDuplicates()
    return data.join(keys, on=keys.columns, how="left_semi").count()


WAP_BASE_MOD = 2   # main starts as orders with o_orderkey % 2 == 0
WAP_BAD_MOD = 6    # staged append plants negative prices on % 6 == 3 keys


def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B153 contract query — write-audit-publish end to end: main branch
    starts at v0 (even orderkeys); a staged append (v1, odd orderkeys
    with PLANTED negative prices on ``% 6 == 3``) commits its manifest
    but is NOT published; the audit (no negative totalprice) rejects it,
    so main still reads v0; a corrected append (v2, branched off v0 via
    ``parent=0`` — it must NOT carry the rejected v1 rows) passes audit
    and publishes by one atomic ref rename.

    Hashed columns: the per-status aggregate read THROUGH THE MAIN REF
    (DuckDB recomputes the published predicate: even keys ∪ odd keys
    except the planted-bad ones) plus two structural flags — the reject
    left main at v0 while v1's manifest existed (staging invisible to
    ref readers), and the publish advanced main to exactly v2.  A
    gating bug in either direction (bad rows leak to main, audit
    blindness, publish skew) flips the values or a flag."""
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="k2e_wap_")
    try:
        even = o.filter(F.col("o_orderkey") % WAP_BASE_MOD == 0)
        odd = o.filter(F.col("o_orderkey") % WAP_BASE_MOD == 1)
        commit_snapshot(spark, work, even, 0)
        set_ref(work, "main", 0)
        # stage: odd keys, prices negated on the planted-bad subset
        staged = odd.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % WAP_BAD_MOD == 3, -F.col("o_totalprice")
            ).otherwise(F.col("o_totalprice")),
        )
        commit_snapshot(spark, work, staged, 1)
        # audit v1: reject (negative prices present); main must stay at v0
        n_bad = (
            read_asof(spark, work, 1).filter(F.col("o_totalprice") < 0).count()
        )
        reject_ok = n_bad > 0 and read_ref(work, "main") == 0
        # corrected stage off the AUDITED parent v0, audit, publish
        commit_snapshot(
            spark,
            work,
            odd.filter(F.col("o_orderkey") % WAP_BAD_MOD != 3),
            2,
            parent=0,
        )
        n_bad2 = (
            read_asof(spark, work, 2).filter(F.col("o_totalprice") < 0).count()
        )
        if n_bad2 == 0:
            set_ref(work, "main", 2)
        publish_ok = read_ref(work, "main") == 2
        agg = (
            read_branch(spark, work, "main")
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .withColumn("reject_left_main_ok", F.lit(bool(reject_ok)))
            .withColumn("publish_advanced_ok", F.lit(bool(publish_ok)))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return agg


QUERIES = {
    "q_time_travel_read": q_time_travel_read,
    "q_snapshot_diff": q_snapshot_diff,
    "q_stats_prune": q_stats_prune,
    "q_bloom_prune": q_bloom_prune,
    "q_equality_delete": q_equality_delete,
    "q_positional_delete": q_positional_delete,
    "q_change_feed": q_change_feed,
    "q_matview_cdf": q_matview_cdf,
    "q_wap_publish": q_wap_publish,
}

ORACLE = {
    "q_time_travel_read": f"""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS later_files_on_disk_ok
        FROM orders
        WHERE o_orderkey % {TT_VERSION_MOD} <= {TT_READ_VERSION}
        GROUP BY o_orderstatus
    """,
    "q_snapshot_diff": f"""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS files_subset_ok
        FROM orders
        WHERE o_orderkey % {TT_VERSION_MOD} IN (1, 2)
        GROUP BY o_orderstatus
    """,
    "q_stats_prune": f"""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS files_pruned_ok
        FROM orders
        WHERE o_orderkey BETWEEN {PRUNE_LO} AND {PRUNE_HI}
        GROUP BY o_orderstatus
    """,
    "q_bloom_prune": f"""
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
               TRUE AS stats_kept_all,
               TRUE AS bloom_pruned_ok
        FROM orders
        WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders
                            WHERE o_orderkey >= (SELECT max(o_orderkey) // 2
                                                 FROM orders))
    """,
    "q_equality_delete": f"""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS asof_predelete_ok,
               TRUE AS delete_shrank_ok
        FROM orders
        WHERE o_orderkey % {DEL_MOD} <> 0 OR o_orderkey % {REINS_MOD} = 0
        GROUP BY o_orderstatus
    """,
    "q_positional_delete": f"""
        WITH final AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % {MERGE_MOD} <> 0
            UNION ALL
            SELECT o_orderkey, o_orderstatus,
                   o_totalprice + {MERGE_PRICE_BUMP}
            FROM orders WHERE o_orderkey % {MERGE_MOD} = 0
            UNION ALL
            SELECT o_orderkey + {MERGE_KEY_OFFSET}, o_orderstatus,
                   o_totalprice
            FROM orders WHERE o_orderkey % {MERGE_INS_MOD} = 0
        )
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS asof_premerge_ok,
               TRUE AS no_rewrite_ok,
               TRUE AS posdelete_present_ok
        FROM final
        GROUP BY o_orderstatus
    """,
    "q_change_feed": f"""
        WITH feed AS (
            SELECT 'delete' AS change, 1 AS commit_v,
                   o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % {DEL_MOD} = 0
            UNION ALL
            SELECT 'delete', 2, o_orderkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderkey % {DEL_MOD} <> 0 AND o_orderkey % {MERGE_MOD} = 0
            UNION ALL
            SELECT 'insert', 2, o_orderkey, o_orderstatus,
                   o_totalprice + {MERGE_PRICE_BUMP}
            FROM orders WHERE o_orderkey % {MERGE_MOD} = 0
        )
        SELECT change, CAST(commit_v AS BIGINT) AS commit_v,
               o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM feed
        GROUP BY change, commit_v, o_orderstatus
    """,
    "q_matview_cdf": f"""
        WITH final AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderkey % {DEL_MOD} <> 0 AND o_orderkey % {MERGE_MOD} <> 0
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice + {MERGE_PRICE_BUMP}
            FROM orders WHERE o_orderkey % {MERGE_MOD} = 0
        )
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               TRUE AS matches_recompute_ok
        FROM final
        GROUP BY o_orderstatus
    """,
    "q_wap_publish": f"""
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               TRUE AS reject_left_main_ok,
               TRUE AS publish_advanced_ok
        FROM orders
        WHERE o_orderkey % {WAP_BASE_MOD} = 0
           OR (o_orderkey % {WAP_BASE_MOD} = 1
               AND o_orderkey % {WAP_BAD_MOD} <> 3)
        GROUP BY o_orderstatus
    """,
}

ROWS_ONLY: set[str] = set()
