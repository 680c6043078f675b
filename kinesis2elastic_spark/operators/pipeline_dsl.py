"""Ingest-pipeline DSL interpreter (SURVEY §7 step 4): executes pipeline
specs in the reference's JSON shape (ingest/axway-ingest.json,
ingest/one-pipeline-to-rule-them-all.json) as Catalyst column expressions
over flat dotted-path columns.

The reference keeps its transformation logic *as data* (OpenSearch
processor JSON), so the engine interprets that data shape instead of
hard-coding each chain; the service and ``pipeline.q_pipeline_axway`` both
run specs through this one interpreter.  No per-document loop: processors
rewrite a symbolic environment (column name → Column, plus the failure
flag and message), and the environment becomes a real ``select`` only
where a later step needs a materialized column — after a grok's match
flag, after a grok's extracted fields (so later expressions read them
instead of repeating the ``regexp_extract``), and around each geoip
broadcast join.  The SPEC fixture compiles to seven projections and two
joins.

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

One guard for every write: ``when(branch AND NOT failed, value)
.otherwise(prior)``, where ``branch`` is the enclosing ``pipeline``
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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.geoip import ip_to_int
from .grok import compile_grok, grok_columns

_FAILED = "__pipeline_failed"
_FAILMSG = "__pipeline_failmsg"

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


def _c(name: str) -> Column:
    """Column ref for a flat dotted-path column name."""
    return F.col(f"`{name}`")


def _painless_path(expr: str) -> str:
    """``ctx?.http?.response?.status_code`` → ``http.response.status_code``."""
    p = expr.strip()
    p = re.sub(r"^ctx\??\.", "", p)
    return p.replace("?.", ".")


def parse_condition(painless: str, columns: Mapping[str, Column]):
    """Translate the reference's painless conditions into a Column over
    ``columns`` (name → Column).  Unknown column paths evaluate as null
    (ES missing-field semantics)."""

    def col_or_null(path: str) -> Column:
        return columns[path] if path in columns else F.lit(None)

    def one(clause: str) -> Column:
        clause = clause.strip()
        m = re.match(r"^(.+?)\s*=~\s*/(.+)/$", clause)
        if m:
            return col_or_null(_painless_path(m.group(1))).rlike(m.group(2))
        m = re.match(r"^(.+?)\s*(==|!=)\s*null$", clause)
        if m:
            c = col_or_null(_painless_path(m.group(1)))
            return c.isNull() if m.group(2) == "==" else c.isNotNull()
        m = re.match(r"^(.+?)\s*(<|>|<=|>=)\s*(-?\d+)$", clause)
        if m:
            c = col_or_null(_painless_path(m.group(1)))
            ops = {"<": c < int(m.group(3)), ">": c > int(m.group(3)),
                   "<=": c <= int(m.group(3)), ">=": c >= int(m.group(3))}
            return ops[m.group(2)]
        raise ValueError(f"unsupported painless condition clause: {clause!r}")

    out = None
    for clause in painless.split("&&"):
        col = one(clause)
        out = col if out is None else (out & col)
    return out


class _Env:
    """Symbolic row state of one interpretation.  ``cols`` holds every
    output column as an expression over ``df``, in output order; ``state``
    holds the hidden columns — the failure flag and message and one
    combined condition per enclosing branch.  Every expression refers to
    ``df``, so :meth:`flush` materializes all of them in one ``select``
    and replaces each by a reference to its new column."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.cols = {c: _c(c) for c in df.columns}
        self.state = {_FAILED: F.lit(False), _FAILMSG: F.lit(None).cast("string")}
        self.depth = 0

    def get(self, name: str, null_type: str = "string") -> Column:
        return self.cols.get(name, F.lit(None).cast(null_type))

    @property
    def failed(self) -> Column:
        return self.state[_FAILED]

    @property
    def branch(self) -> Column | None:
        return self.state[f"__branch_{self.depth}"] if self.depth else None

    @property
    def guard(self) -> Column:
        """Rows a processor may write: inside every enclosing branch and
        not failed."""
        ok = ~self.failed
        return ok if self.branch is None else (self.branch & ok)

    def write(self, name: str, value: Column, cond: Column | None = None,
              null_type: str = "string") -> None:
        g = self.guard if cond is None else (self.guard & cond)
        self.cols[name] = F.when(g, value).otherwise(self.get(name, null_type))

    def fail(self, fails: Column, message: str) -> None:
        fails = self.guard & fails
        self.state[_FAILMSG] = F.coalesce(self.state[_FAILMSG], F.when(fails, F.lit(message)))
        self.state[_FAILED] = self.failed | fails

    def enter(self, cond: Column) -> None:
        cond = F.coalesce(cond, F.lit(False))
        outer = self.branch
        self.depth += 1
        self.state[f"__branch_{self.depth}"] = cond if outer is None else (outer & cond)

    def leave(self) -> None:
        del self.state[f"__branch_{self.depth}"]
        self.depth -= 1

    def flush(self, **scratch: Column) -> None:
        """Materialize the environment (plus ``scratch`` columns, readable
        by name until the next flush)."""
        live = {**self.cols, **self.state, **scratch}
        self.df = self.df.select(*[v.alias(k) for k, v in live.items()])
        self.cols = {k: _c(k) for k in self.cols}
        self.state = {k: _c(k) for k in self.state}


class PipelineInterpreter:
    """Interprets one or more named pipelines over a DataFrame whose
    columns are flat dotted paths (e.g. 'records.data.logGroup')."""

    def __init__(self, pipelines: dict[str, dict], geoip_dim: DataFrame | None = None):
        self.pipelines = pipelines
        self.geoip_dim = geoip_dim

    # -- processors -------------------------------------------------------

    def _grok(self, env: _Env, spec: dict) -> None:
        field = spec["field"]
        compiled = compile_grok(spec["patterns"][0])
        src = env.get(field)
        env.flush(__grok_matched=src.isNotNull() & src.rlike(compiled.regex))
        src, matched = env.get(field), F.col("__grok_matched")
        for name, col in grok_columns(src, compiled).items():
            env.write(name, col, matched)
        # ignore_missing: a NULL source is a skip, not a failure (json:10)
        env.fail(src.isNotNull() & ~matched, f"grok: no match for field [{field}]")
        env.flush()

    def _uri_parts(self, env: _Env, spec: dict) -> None:
        src = env.get(spec["field"])
        present = src.isNotNull()
        path = F.regexp_extract(src, r"^([^?#]*)", 1)
        env.write("url.original", src, present)
        env.write("url.path", path, present)
        env.write("url.query", F.nullif(F.regexp_extract(src, r"\?([^#]*)", 1), F.lit("")), present)
        env.write("url.extension", F.nullif(F.regexp_extract(path, r"\.([^./]+)$", 1), F.lit("")), present)

    def _set(self, env: _Env, spec: dict) -> None:
        cond = parse_condition(spec["if"], env.cols) if "if" in spec else None
        if "copy_from" in spec:
            value = env.cols.get(spec["copy_from"], F.lit(None))
        else:
            raw = spec["value"]
            m = re.match(r"^\{\{\s*(.+?)\s*\}\}$", str(raw))
            if m:  # {{field}} template copy
                value = env.cols.get(m.group(1), F.lit(None))
                if spec.get("ignore_empty_value"):
                    present = ~(value.isNull() | (value.cast("string") == ""))
                    cond = present if cond is None else (cond & present)
            else:
                value = F.lit(raw)
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
        parsed = F.coalesce(*[F.try_to_timestamp(value, F.lit(fmt)) for fmt in spec["formats"]])
        # ignore_failure: keep prior @timestamp when no format parses
        env.write(spec.get("target_field", "@timestamp"), parsed, parsed.isNotNull(), "timestamp")

    def _geoip(self, env: _Env, spec: dict) -> None:
        field = spec["field"]
        if self.geoip_dim is None or field not in env.cols:
            return  # no dimension injected, or ignore_missing
        target = spec.get("target_field", "source.geo")
        ip = env.cols[field]
        valid = ip.rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
        env.flush(__ip_int=F.when(valid & env.guard, ip_to_int(ip)))
        env.df = env.df.join(
            F.broadcast(self.geoip_dim),
            (F.col("__ip_int") >= F.col("ip_lo")) & (F.col("__ip_int") <= F.col("ip_hi")),
            "left",
        )
        props = spec.get("properties")
        if props and "asn" in props:  # the ASN database call (json:95-108)
            out = {"asn": "as_number", "organization_name": "as_org"}
        else:  # the city database call (json:90-94)
            out = {"country_iso_code": "geo_country", "city_name": "geo_city"}
        for key, dim_col in out.items():
            env.write(f"{target}.{key}", F.col(dim_col))

    def _script(self, env: _Env, spec: dict) -> None:
        source = spec.get("source", "")
        cond = parse_condition(spec["if"], env.cols) if "if" in spec else None
        if "splitOnToken" in source and "tls" in source:
            # TLS-version split (axway-ingest.json:130-136)
            parts = F.split(F.lower(env.get("apache.access.ssl.protocol")), "v")
            ok = F.size(parts) == 2
            raw = F.element_at(parts, 2)
            ver = F.when(raw.contains("."), raw).otherwise(F.concat(raw, F.lit(".0")))
            g = ok if cond is None else (cond & ok)
            env.write("tls.version", ver, g)
            env.write("tls.version_protocol", F.element_at(parts, 1), g)
        elif "removeIf" not in source:
            # (removeIf is the recursive null-scrub, axway-ingest.json:137-143:
            # a serialization concern — to_json omits null fields already.)
            raise ValueError("unrecognized painless script; only the reference's idioms are supported")

    def _pipeline(self, env: _Env, spec: dict) -> None:
        """Conditional sub-pipeline dispatch: the condition joins the
        guard of every write inside the sub-pipeline."""
        env.enter(parse_condition(spec["if"], env.cols) if "if" in spec else F.lit(True))
        self._apply(env, spec["name"])
        env.leave()

    # -- driver -----------------------------------------------------------

    _DISPATCH = {
        "grok": _grok,
        "uri_parts": _uri_parts,
        "set": _set,
        "remove": _remove,
        "rename": _rename,
        "date": _date,
        "geoip": _geoip,
        "script": _script,
        "pipeline": _pipeline,
    }

    def _apply(self, env: _Env, pipeline_name: str) -> None:
        spec = self.pipelines[pipeline_name]
        for proc in spec.get("processors", []):
            (ptype, pspec), = proc.items()
            self._DISPATCH[ptype](self, env, pspec)
        failed = env.failed if env.branch is None else (env.branch & env.failed)
        for handler in spec.get("on_failure", []):
            (ptype, pspec), = handler.items()
            if ptype == "set":
                raw = str(pspec.get("value", ""))
                value = (
                    env.state[_FAILMSG]
                    if "{{" in raw and "on_failure_message" in raw
                    else F.lit(pspec.get("value"))
                )
                env.cols[pspec["field"]] = F.when(failed, value).otherwise(env.get(pspec["field"]))

    def run(self, df: DataFrame, entry: str) -> DataFrame:
        """Apply the entry pipeline; one final projection drops the
        interpreter's hidden columns."""
        env = _Env(df)
        self._apply(env, entry)
        return env.df.select(*[v.alias(k) for k, v in env.cols.items()])
