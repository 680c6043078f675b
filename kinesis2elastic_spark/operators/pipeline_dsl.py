"""Ingest-pipeline DSL interpreter (SURVEY §7 step 4): executes pipeline
specs in the reference's JSON shape (ingest/axway-ingest.json,
ingest/one-pipeline-to-rule-them-all.json) as Catalyst column expressions
over flat dotted-path columns.

The reference keeps its transformation logic *as data* (OpenSearch
processor JSON), so the engine interprets that data shape instead of
hard-coding each chain; the service and the oracle queries of
``operators/pipeline.py`` (one per processor, and the whole chain in
``q_pipeline_axway``) all run specs through this one interpreter.  No
per-document loop: the spec compiles, once per entry pipeline and input
column list and without any Spark call, to SQL text.  Processors rewrite
a symbolic environment (column name → SQL expression, plus the failure
flag and message), and the environment becomes a projection list only
where a later step needs a materialized column — a grok's capture array (one regex pass per line,
``grok.CompiledGrok.captures``), a grok's fields (so later expressions
read them instead of the array), and the IP key of each geoip lookup.
Adjacent geoip processors on one field share one broadcast join.  Each
run then costs a few ``selectExpr`` calls and the joins: the SPEC fixture
compiles to six projections and one join.

Supported processors (the complete set the reference uses, A17-A31):
``pipeline`` (conditional dispatch), ``grok`` (+ on_failure semantics),
``uri_parts``, ``set`` (literal / {{template}} / copy_from / if /
ignore_empty_value), ``remove``, ``rename``, ``date``, ``geoip`` (dim table
injected), ``script`` (recognized painless idioms: the TLS-version split,
axway-ingest.json:130-136, and the null-scrub, :137-143, which is a no-op
here because ``to_json`` already omits nulls at serialization).

Condition language: the painless subset the reference uses —
``ctx.a?.b == null`` / ``!= null``, numeric ``<`` ``>`` comparisons,
``=~ /regex/``, joined with ``&&`` (e.g. axway-ingest.json:20,49,56;
one-pipeline-to-rule-them-all.json:8).

One guard for every write: ``CASE WHEN branch AND NOT failed THEN value
ELSE prior END``, where ``branch`` is the enclosing ``pipeline``
processors' conditions.  Rows outside a branch therefore keep their
values, and nested dispatch is an AND of conditions.  ``remove`` and the
source side of ``rename`` drop the column from the schema, so for every
row.

Failure semantics (ES-faithful): a grok non-match marks the document
failed; subsequent processors are skipped for that row; the
pipeline-level ``on_failure`` handler then runs (the reference's sets
``error.message``, axway-ingest.json:145-152).  Failed documents are kept,
not dropped.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import sql_ident as _q
from ..schemas import sql_literal as _lit
from ..sources.geoip import ip_to_int_sql
from .grok import compile_grok

_FAILED = "__pipeline_failed"
_FAILMSG = "__pipeline_failmsg"
_GROK = "__grok"
_IP_INT = "__ip_int"
_DOTTED_QUAD = r"^(\d{1,3}\.){3}\d{1,3}$"

FIXTURE_SPEC = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "fixtures", "pipelines", "axway.json"
)


def fixture_spec() -> dict[str, dict]:
    """The committed Axway pipeline spec: ``route`` dispatches
    ``/axway/`` log groups to ``enrich``.  Written independently from the
    operator inventory (SURVEY §2 A17-A31) with the semantics of
    ingest/axway-ingest.json; its grok is ``grok.AXWAY_ACCESS_TEMPLATE``."""
    with open(FIXTURE_SPEC) as f:
        return json.load(f)


def _painless_path(expr: str) -> str:
    """``ctx?.http?.response?.status_code`` → ``http.response.status_code``."""
    p = expr.strip()
    p = re.sub(r"^ctx\??\.", "", p)
    return p.replace("?.", ".")


def parse_condition(painless: str, columns: Mapping[str, str]) -> str:
    """Translate the reference's painless conditions into SQL over
    ``columns`` (name → SQL expression).  Unknown column paths evaluate as
    null (ES missing-field semantics)."""

    def col_or_null(path: str) -> str:
        return f"({columns[path]})" if path in columns else "NULL"

    def one(clause: str) -> str:
        clause = clause.strip()
        m = re.match(r"^(.+?)\s*=~\s*/(.+)/$", clause)
        if m:
            return f"{col_or_null(_painless_path(m.group(1)))} RLIKE {_lit(m.group(2))}"
        m = re.match(r"^(.+?)\s*(==|!=)\s*null$", clause)
        if m:
            c = col_or_null(_painless_path(m.group(1)))
            return f"{c} IS NULL" if m.group(2) == "==" else f"{c} IS NOT NULL"
        m = re.match(r"^(.+?)\s*(<|>|<=|>=)\s*(-?\d+)$", clause)
        if m:
            return f"{col_or_null(_painless_path(m.group(1)))} {m.group(2)} {_lit(int(m.group(3)))}"
        raise ValueError(f"unsupported painless condition clause: {clause!r}")

    return " AND ".join(f"({one(clause)})" for clause in painless.split("&&"))


def _processor(proc: dict) -> tuple[str, dict]:
    """(type, spec) of a one-key processor object."""
    (ptype, pspec), = proc.items()
    return ptype, pspec


def _geoip_outputs(spec: dict) -> dict[str, str]:
    """Output field → dimension column of one geoip processor."""
    target = spec.get("target_field", "source.geo")
    props = spec.get("properties")
    if props and "asn" in props:  # the ASN database call (json:95-108)
        out = {"asn": "as_number", "organization_name": "as_org"}
    else:  # the city database call (json:90-94)
        out = {"country_iso_code": "geo_country", "city_name": "geo_city"}
    return {f"{target}.{key}": dim_col for key, dim_col in out.items()}


class _Env:
    """Symbolic row state of one compilation.  ``cols`` holds every output
    column as SQL over the current stage's input, in output order;
    ``state`` holds the hidden columns — the failure flag and message and
    one combined condition per enclosing branch.  :meth:`flush` ends a
    stage: one projection list materializes all of them, and each becomes
    a reference to its new column.  ``stages`` is the compiled program: a
    list of projection lists, with ``None`` for the geoip join."""

    def __init__(self, columns: list[str]):
        self.cols = {c: _q(c) for c in columns}
        self.state = {_FAILED: "false", _FAILMSG: "CAST(NULL AS STRING)"}
        self.depth = 0
        self.stages: list[list[str] | None] = []

    def get(self, name: str, null_type: str = "string") -> str:
        return self.cols.get(name, f"CAST(NULL AS {null_type.upper()})")

    @property
    def failed(self) -> str:
        return self.state[_FAILED]

    @property
    def branch(self) -> str | None:
        return self.state[f"__branch_{self.depth}"] if self.depth else None

    @property
    def guard(self) -> str:
        """Rows a processor may write: inside every enclosing branch and
        not failed."""
        ok = f"NOT ({self.failed})"
        return ok if self.branch is None else f"({self.branch}) AND ({ok})"

    def write(self, name: str, value: str, cond: str | None = None,
              null_type: str = "string") -> None:
        g = self.guard if cond is None else f"({self.guard}) AND ({cond})"
        self.cols[name] = f"CASE WHEN {g} THEN {value} ELSE {self.get(name, null_type)} END"

    def fail(self, fails: str, message: str) -> None:
        fails = f"({self.guard}) AND ({fails})"
        self.state[_FAILMSG] = f"coalesce({self.state[_FAILMSG]}, CASE WHEN {fails} THEN {_lit(message)} END)"
        self.state[_FAILED] = f"({self.failed}) OR ({fails})"

    def enter(self, cond: str) -> None:
        cond = f"coalesce({cond}, false)"
        outer = self.branch
        self.depth += 1
        self.state[f"__branch_{self.depth}"] = cond if outer is None else f"({outer}) AND ({cond})"

    def leave(self) -> None:
        del self.state[f"__branch_{self.depth}"]
        self.depth -= 1

    def flush(self, scratch: dict[str, str] | None = None) -> None:
        """End the stage (``scratch`` columns are readable by name until
        the next flush)."""
        live = {**self.cols, **self.state, **(scratch or {})}
        self.stages.append([f"{v} AS {_q(k)}" for k, v in live.items()])
        self.cols = {k: _q(k) for k in self.cols}
        self.state = {k: _q(k) for k in self.state}


class PipelineInterpreter:
    """Interprets one or more named pipelines over a DataFrame whose
    columns are flat dotted paths (e.g. 'records.data.logGroup').

    The first :meth:`run` for an entry pipeline and input column list
    compiles the spec to stages of SQL text, without calling Spark; every
    run replays the stages with ``selectExpr`` and the geoip join.

    ``geoip_dim`` must be JVM-resident (a ``LocalTableScan``, as
    ``sources.geoip``'s builders return): every plan that joins it
    broadcasts it again, and a Python-backed relation would rerun a Python
    job each time."""

    def __init__(self, pipelines: dict[str, dict], geoip_dim: DataFrame | None = None):
        self.pipelines = pipelines
        self.geoip_dim = geoip_dim
        self._compiled: dict[tuple[str, tuple[str, ...]], list[list[str] | None]] = {}
        if geoip_dim is not None:
            self._dim = F.broadcast(geoip_dim)
            self._on = F.expr(f"{_q(_IP_INT)} >= ip_lo AND {_q(_IP_INT)} <= ip_hi")

    # -- processors -------------------------------------------------------

    def _grok(self, env: _Env, spec: dict) -> None:
        field, patterns = spec["field"], spec["patterns"]
        if len(patterns) != 1:
            # ES tries each pattern in turn; only the single-pattern form is supported
            raise ValueError(f"grok on [{field}]: expected exactly one pattern, got {len(patterns)}")
        compiled = compile_grok(patterns[0])
        env.flush({_GROK: compiled.captures(env.get(field))})
        src, captures = env.get(field), _q(_GROK)
        matched = compiled.matched(captures)
        for f in compiled.fields:
            env.write(f.name, compiled.field(captures, f), matched)
        # ignore_missing: a NULL source is a skip, not a failure (json:10)
        env.fail(f"({src}) IS NOT NULL AND NOT {matched}", f"grok: no match for field [{field}]")
        env.flush()

    def _uri_parts(self, env: _Env, spec: dict) -> None:
        src = env.get(spec["field"])
        present = f"({src}) IS NOT NULL"
        path = f"regexp_extract({src}, {_lit(r'^([^?#]*)')}, 1)"
        query, extension = _lit(r"\?([^#]*)"), _lit(r"\.([^./]+)$")
        env.write("url.original", src, present)
        env.write("url.path", path, present)
        env.write("url.query", f"nullif(regexp_extract({src}, {query}, 1), '')", present)
        env.write("url.extension", f"nullif(regexp_extract({path}, {extension}, 1), '')", present)

    def _set(self, env: _Env, spec: dict) -> None:
        cond = parse_condition(spec["if"], env.cols) if "if" in spec else None
        if "copy_from" in spec:
            value = env.cols.get(spec["copy_from"], "NULL")
        else:
            raw = spec["value"]
            m = re.match(r"^\{\{\s*(.+?)\s*\}\}$", str(raw))
            if m:  # {{field}} template copy
                value = env.cols.get(m.group(1), "NULL")
                if spec.get("ignore_empty_value"):
                    present = f"NOT (({value}) IS NULL OR CAST({value} AS STRING) = '')"
                    cond = present if cond is None else f"({cond}) AND ({present})"
            else:
                value = _lit(raw)
        env.write(spec["field"], value, cond)

    def _remove(self, env: _Env, spec: dict) -> None:
        fields = spec["field"] if isinstance(spec["field"], list) else [spec["field"]]
        for f in fields:
            env.cols.pop(f, None)

    def _rename(self, env: _Env, spec: dict) -> None:
        src, dst = spec["field"], spec["target_field"]
        if src in env.cols:  # else ignore_missing
            env.write(dst, env.cols.pop(src))

    def _date(self, env: _Env, spec: dict) -> None:
        value = env.get(spec["field"])
        tries = ", ".join(f"try_to_timestamp({value}, {_lit(fmt)})" for fmt in spec["formats"])
        parsed = f"coalesce({tries})"
        # ignore_failure: keep prior @timestamp when no format parses
        env.write(spec.get("target_field", "@timestamp"), parsed, f"{parsed} IS NOT NULL", "timestamp")

    def _geoip(self, env: _Env, specs: list[dict]) -> None:
        """Adjacent geoip processors on one field: one lookup (a broadcast
        range join) writes every one's targets."""
        field = specs[0]["field"]
        if self.geoip_dim is None or field not in env.cols:
            return  # no dimension injected, or ignore_missing
        ip = env.cols[field]
        valid = f"({ip}) RLIKE {_lit(_DOTTED_QUAD)}"
        env.flush({_IP_INT: f"CASE WHEN ({valid}) AND ({env.guard}) THEN {ip_to_int_sql(ip)} END"})
        env.stages.append(None)
        for spec in specs:
            for name, dim_col in _geoip_outputs(spec).items():
                env.write(name, _q(dim_col))

    def _script(self, env: _Env, spec: dict) -> None:
        source = spec.get("source", "")
        cond = parse_condition(spec["if"], env.cols) if "if" in spec else None
        if "splitOnToken" in source and "tls" in source:
            # TLS-version split (axway-ingest.json:130-136)
            parts = f"split(lower({env.get('apache.access.ssl.protocol')}), 'v', -1)"
            ok = f"size({parts}) = 2"
            raw = f"element_at({parts}, 2)"
            ver = f"CASE WHEN contains({raw}, '.') THEN {raw} ELSE concat({raw}, '.0') END"
            g = ok if cond is None else f"({cond}) AND ({ok})"
            env.write("tls.version", ver, g)
            env.write("tls.version_protocol", f"element_at({parts}, 1)", g)
        elif "removeIf" not in source:
            # (removeIf is the recursive null-scrub, axway-ingest.json:137-143:
            # a serialization concern — to_json omits null fields already.)
            raise ValueError("unrecognized painless script; only the reference's idioms are supported")

    def _pipeline(self, env: _Env, spec: dict) -> None:
        """Conditional sub-pipeline dispatch: the condition joins the
        guard of every write inside the sub-pipeline."""
        env.enter(parse_condition(spec["if"], env.cols) if "if" in spec else "true")
        self._apply(env, spec["name"])
        env.leave()

    # -- compiler ---------------------------------------------------------

    _DISPATCH = {
        "grok": _grok,
        "uri_parts": _uri_parts,
        "set": _set,
        "remove": _remove,
        "rename": _rename,
        "date": _date,
        "script": _script,
        "pipeline": _pipeline,
    }

    def _apply(self, env: _Env, pipeline_name: str) -> None:
        spec = self.pipelines[pipeline_name]
        procs = [_processor(p) for p in spec.get("processors", [])]
        i = 0
        while i < len(procs):
            ptype, pspec = procs[i]
            i += 1
            if ptype != "geoip":
                self._DISPATCH[ptype](self, env, pspec)
                continue
            group, written = [pspec], set(_geoip_outputs(pspec))
            while (i < len(procs) and procs[i][0] == "geoip" and procs[i][1]["field"] == pspec["field"]
                   and pspec["field"] not in written):
                group.append(procs[i][1])
                written.update(_geoip_outputs(procs[i][1]))
                i += 1
            self._geoip(env, group)
        failed = env.failed if env.branch is None else f"({env.branch}) AND ({env.failed})"
        for handler in spec.get("on_failure", []):
            ptype, pspec = _processor(handler)
            if ptype != "set":
                raise ValueError(f"on_failure: only set handlers are supported, got {ptype!r}")
            raw = str(pspec.get("value", ""))
            value = (
                env.state[_FAILMSG]
                if "{{" in raw and "on_failure_message" in raw
                else _lit(pspec.get("value"))
            )
            env.cols[pspec["field"]] = f"CASE WHEN {failed} THEN {value} ELSE {env.get(pspec['field'])} END"

    def _compile(self, columns: list[str], entry: str) -> list[list[str] | None]:
        """The stages that apply ``entry`` to rows with these columns; the
        last projection drops the interpreter's hidden columns."""
        key = (entry, tuple(columns))
        if key not in self._compiled:
            env = _Env(columns)
            self._apply(env, entry)
            env.stages.append([f"{v} AS {_q(k)}" for k, v in env.cols.items()])
            self._compiled[key] = env.stages
        return self._compiled[key]

    def run(self, df: DataFrame, entry: str) -> DataFrame:
        """Apply the entry pipeline: a few ``selectExpr`` projections and
        one broadcast join per geoip lookup."""
        for stage in self._compile(df.columns, entry):
            if stage is None:
                df = df.join(self._dim, self._on, "left")
            else:
                df = df.selectExpr(*stage)
        return df
