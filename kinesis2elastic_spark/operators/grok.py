"""Grok-pattern → regex compiler (SURVEY §2 A18).

The reference parses Axway access-log lines with an OpenSearch ``grok``
processor (ingest/axway-ingest.json:4-12) using the stock logstash pattern
library.  This module re-expresses the needed subset as plain regexes so the
extraction runs JVM-side (``java.util.regex``, whole-stage codegen, no
Python in the hot path): one ``regexp_replace`` per line rewrites a match
to a delimited list of every capture (:meth:`CompiledGrok.captures`).
:class:`CompiledGrok` renders that extraction as SQL text, which the
pipeline interpreter (``pipeline_dsl``) and ``pipeline.q_grok`` run with
``selectExpr``.

Compilation contract:

- ``%{PATTERN:field}`` / ``%{PATTERN:field:type}`` become plain capturing
  groups; the compiler records (group_index, field, type) in order.
- ``(?<name>...)`` native named groups are preserved as captures under
  ``name`` (Java named-group syntax forbids ``_``/``.``, so we emit a plain
  group and track the index ourselves).
- bare ``(`` in templates or pattern bodies are rewritten to ``(?:`` so
  group indices stay dense and predictable (no backreferences in any
  pattern we support, so this is semantics-preserving).
- the emitted regex is both Java- and RE2-compatible (no lookarounds, no
  backrefs, no possessive quantifiers) — which lets the DuckDB oracle run
  the *same* compiled regex as an independent check of the compiler.

Grok field semantics preserved: a field is NULL (not empty string) when its
group does not participate in the match; ``:long``/``:int`` cast to BIGINT,
``:float``/``:double`` to DOUBLE (the reference relies on
``status_code:long`` etc).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..schemas import sql_literal

# Stock patterns (subset used by the reference + common companions),
# rewritten with non-capturing groups only.  Definitions follow the public
# logstash grok pattern semantics.
PATTERNS: dict[str, str] = {
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"[a-zA-Z0-9._-]+",
    "EMAILADDRESS": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+@\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*",
    "HTTPDUSER": r"(?:[a-zA-Z][a-zA-Z0-9_.+-=:]+@\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*|[a-zA-Z0-9._-]+)",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b",
    "IPV4": r"(?:25[0-5]|2[0-4]\d|[01]?\d?\d)(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d?\d)){3}",
    # RE2-safe IPv6 approximation (full logstash IPV6 uses alternations that
    # are fine too, but this engine only needs v4 + a conservative v6 form).
    "IPV6": r"(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f:.]+",
    "IP": r"(?:(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f:.]+|(?:25[0-5]|2[0-4]\d|[01]?\d?\d)(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d?\d)){3})",
    "IPORHOST": r"(?:(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f:.]+|(?:25[0-5]|2[0-4]\d|[01]?\d?\d)(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d?\d)){3}|\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b)",
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHDAY": r"(?:0[1-9]|[12]\d|3[01]|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "TIME": r"(?:2[0123]|[01]?\d):(?:[0-5]\d):(?:[0-5]\d)(?:[:.,]\d+)?",
    "HTTPDATE": r"(?:0[1-9]|[12]\d|3[01]|[1-9])/\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\b/(?:\d\d){1,2}:(?:2[0123]|[01]?\d):(?:[0-5]\d):(?:[0-5]\d) [+-]\d{4}",
}

# ---------------------------------------------------------------------------
# The rest of the standard grok base-pattern table (public logstash
# grok-patterns semantics), re-expressed RE2-safe: no lookarounds, no
# backrefs, non-capturing groups only — so arbitrary reference-style
# pipelines (not just the Axway one) compile, and the DuckDB oracle can run
# the same compiled regex.  Composed entries reference the table itself so a
# definition changes in exactly one place.
# ---------------------------------------------------------------------------
PATTERNS.update({
    "POSINT": r"\b[1-9]\d*\b",
    "NONNEGINT": r"\b\d+\b",
    "BASE10NUM": PATTERNS["NUMBER"],
    # logstash BASE16NUM uses a lookbehind; the boundary assertion is
    # dropped for RE2 compatibility.
    "BASE16NUM": r"[+-]?(?:0[xX])?[0-9A-Fa-f]+",
    "BASE16FLOAT": r"\b[+-]?(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "PORT": r"(?:6553[0-5]|655[0-2]\d|65[0-4]\d{2}|6[0-4]\d{3}|[1-5]?\d{1,4})",
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"(?:[0-5]\d)",
    "SECOND": r"(?:[0-5]?\d(?:[:.,]\d+)?|60(?:[:.,]\d+)?)",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "ISO8601_TIMEZONE": r"(?:Z|[+-](?:2[0123]|[01]?\d)(?::?(?:[0-5]\d)))",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|"
        r"[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|WARN(?:ING)?|"
        r"[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|"
        r"FATAL|[Ss]evere|SEVERE|[Ee]merg(?:ency)?|EMERG(?:ENCY)?)"
    ),
    # logstash QUOTEDSTRING needs backrefs; this RE2-safe form accepts
    # double- or single-quoted bodies with escapes.
    "QUOTEDSTRING": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]+)+",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "TTY": r"/dev/(?:pts|tty(?:[pq])?)(?:\w+)?(?:/\w+)?",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
})
PATTERNS.update({
    "MAC": rf"(?:{PATTERNS['CISCOMAC']}|{PATTERNS['WINDOWSMAC']}|{PATTERNS['COMMONMAC']})",
    "PATH": rf"(?:{PATTERNS['UNIXPATH']}|{PATTERNS['WINPATH']})",
    "QS": PATTERNS["QUOTEDSTRING"],
    "HOSTPORT": rf"{PATTERNS['IPORHOST']}:{PATTERNS['PORT']}",
    "DATE_US": rf"{PATTERNS['MONTHNUM']}[/-]{PATTERNS['MONTHDAY']}[/-]{PATTERNS['YEAR']}",
    "DATE_EU": rf"{PATTERNS['MONTHDAY']}[./-]{PATTERNS['MONTHNUM']}[./-]{PATTERNS['YEAR']}",
    "TIMESTAMP_ISO8601": (
        rf"{PATTERNS['YEAR']}-{PATTERNS['MONTHNUM']}-{PATTERNS['MONTHDAY']}"
        rf"[T ]{PATTERNS['HOUR']}:?{PATTERNS['MINUTE']}"
        rf"(?::?{PATTERNS['SECOND']})?{PATTERNS['ISO8601_TIMEZONE']}?"
    ),
    "SYSLOGTIMESTAMP": rf"{PATTERNS['MONTH']} +{PATTERNS['MONTHDAY']} {PATTERNS['TIME']}",
    "SYSLOGPROG": rf"{PATTERNS['PROG']}(?:\[{PATTERNS['POSINT']}\])?",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]<>-]*",
})
PATTERNS.update({
    "DATE": rf"(?:{PATTERNS['DATE_US']}|{PATTERNS['DATE_EU']})",
    "SYSLOGHOST": PATTERNS["IPORHOST"],
    "URIHOST": rf"{PATTERNS['IPORHOST']}(?::{PATTERNS['PORT']})?",
    "URIPATHPARAM": rf"{PATTERNS['URIPATH']}(?:{PATTERNS['URIPARAM']})?",
})
PATTERNS.update({
    "DATESTAMP": rf"{PATTERNS['DATE']}[- ]{PATTERNS['TIME']}",
    "URI": (
        rf"{PATTERNS['URIPROTO']}://(?:{PATTERNS['USER']}(?::[^@]*)?@)?"
        rf"(?:{PATTERNS['URIHOST']})?(?:{PATTERNS['URIPATHPARAM']})?"
    ),
    "SYSLOGBASE": (
        rf"{PATTERNS['SYSLOGTIMESTAMP']} (?:.+ )?{PATTERNS['IPORHOST']} "
        rf"{PATTERNS['SYSLOGPROG']}:"
    ),
})

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.@\[\]_-]+))?(?::(\w+))?\}")
_NAMED_GROUP = re.compile(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>")


@dataclass
class GrokField:
    group: int  # 1-based regex group index
    name: str   # dotted field path, e.g. "http.response.status_code"
    type: str   # "string" | "long" | "double"


# Delimiter of the single-pass capture list.  A source that contains it
# takes the per-group fallback, so the result stays exact for every input.
SEP = "\u0001"

_CASTS = {"long": "bigint", "double": "double"}


@dataclass
class CompiledGrok:
    regex: str
    fields: list[GrokField]

    @property
    def whole_regex(self) -> str:
        """``regex`` wrapped to span the whole string.  The lazy prefix
        tries each start position in order and ``regex`` backtracks as
        before at each, so the groups are those of the leftmost match that
        ``find()`` reports.  (The prefix steps over a supplementary
        character whole, where ``find()`` also tries the position between
        its surrogates; only a pattern that can begin a match on a lone low
        surrogate could tell the two apart, and none in :data:`PATTERNS`
        can.)"""
        return rf"^[\s\S]*?(?:{self.regex})[\s\S]*$"

    @property
    def replacement(self) -> str:
        """``SEP$1SEP$2…``: a group that did not participate gives ''."""
        return "".join(f"{SEP}${f.group}" for f in self.fields) or SEP

    def captures(self, src: str) -> str:
        """One regex pass per line, as SQL text over the SQL expression
        ``src``: ``['', g1, …, gn]`` when the template matches, an array of
        at most one element when it does not, NULL for a NULL ``src``.
        ``regexp_replace`` rewrites a matching line to :attr:`replacement`
        and ``split`` cuts it at ``SEP``; a line that does not match comes
        back unchanged.  A line containing ``SEP`` is extracted group by
        group instead.

        Measured with ``q_grok`` at sf0.1 (100k lines, all 14 fields,
        local[4] on a shared 4-vCPU host, noop write, warm runs): the
        single pass took 1.22-1.45 s against 4.05-4.44 s for one
        ``regexp_extract`` per field, each a separate ``find()`` of the
        same regex.  A reader of one field pays for the whole list.
        Spark 4 evaluates a ``nullif`` argument in a projection of its
        own, so an expression that reads both :meth:`matched` and a
        :meth:`field` of an unmaterialized list computes the list twice;
        the pipeline interpreter materializes it first."""
        rx = sql_literal(self.regex)
        groups = ", ".join(f"regexp_extract({src}, {rx}, {f.group})" for f in self.fields) or "''"
        fallback = f"if(rlike({src}, {rx}), array('', {groups}), NULL)"
        single = (
            f"split(regexp_replace({src}, {sql_literal(self.whole_regex)}, {sql_literal(self.replacement)}), "
            f"{sql_literal(SEP)}, -1)"
        )
        return f"if(contains({src}, {sql_literal(SEP)}), {fallback}, {single})"

    def matched(self, captures: str) -> str:
        """The match flag of a :meth:`captures` array (false for NULL)."""
        return f"isnotnull(try_element_at({captures}, 2))"

    def field(self, captures: str, f: GrokField) -> str:
        """Field ``f`` of a :meth:`captures` array, typed; NULL when the
        template did not match or the group did not participate (every
        supported pattern captures at least one character, so the ''
        of a non-participating group is faithfully NULL, as the grok
        processor sets a field only when it is captured)."""
        value = f"nullif(try_element_at({captures}, {f.group + 1}), '')"
        return f"{_CASTS[f.type]}({value})" if f.type in _CASTS else value


_TYPE_MAP = {None: "string", "int": "long", "long": "long", "float": "double", "double": "double"}


def _noncapturing(body: str) -> str:
    """Rewrite bare '(' to '(?:' outside character classes."""
    out, i, in_class = [], 0, False
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            out.append(body[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
        elif ch == "[":
            in_class = True
            out.append(ch)
        elif ch == "(" and not body.startswith("(?", i):
            out.append("(?:")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def compile_grok(template: str) -> CompiledGrok:
    """Compile one grok template into (regex, ordered capture fields)."""
    fields: list[GrokField] = []
    group_n = 0
    out: list[str] = []
    i = 0
    in_class = False
    while i < len(template):
        ch = template[i]
        if ch == "\\" and i + 1 < len(template):
            out.append(template[i : i + 2])
            i += 2
            continue
        if ch == "[" and not in_class:
            in_class = True
            out.append(ch)
            i += 1
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        m = _GROK_REF.match(template, i)
        if m:
            pat_name, field, typ = m.groups()
            if pat_name not in PATTERNS:
                raise KeyError(f"unknown grok pattern %{{{pat_name}}}")
            body = _noncapturing(PATTERNS[pat_name])
            if field:
                group_n += 1
                fields.append(GrokField(group_n, field, _TYPE_MAP.get(typ, "string")))
                out.append(f"({body})")
            else:
                out.append(f"(?:{body})")
            i = m.end()
            continue
        nm = _NAMED_GROUP.match(template, i)
        if nm:
            group_n += 1
            fields.append(GrokField(group_n, nm.group(1), "string"))
            out.append("(")  # plain group; Java named groups reject '_'
            i = nm.end()
            continue
        if ch == "(" and not template.startswith("(?", i):
            out.append("(?:")
            i += 1
            continue
        out.append(ch)
        i += 1
    return CompiledGrok("".join(out), fields)


def named_group_regex(compiled: CompiledGrok, prefix: str = "g") -> str:
    """Re-emit the compiled regex with RE2-style named groups
    ``(?P<g1>...)`` in capture order — needed by engines whose numbered
    group access is limited (DuckDB regexp_extract caps indices at 9)."""
    out: list[str] = []
    i = n = 0
    rx = compiled.regex
    in_class = False
    while i < len(rx):
        ch = rx[i]
        if ch == "\\" and i + 1 < len(rx):
            out.append(rx[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
        elif ch == "[":
            in_class = True
            out.append(ch)
        elif ch == "(" and not rx.startswith("(?", i):
            n += 1
            out.append(f"(?P<{prefix}{n}>")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


# The reference's two grok templates, verbatim semantics
# (ingest/axway-ingest.json:8 and :63-66).
AXWAY_ACCESS_TEMPLATE = (
    "%{HOSTNAME:remote.host} - %{HTTPDUSER:user.name} \\[%{HTTPDATE:apache.access.time}\\]  "
    '"(?:%{WORD:http.request.method} %{DATA:_tmp.url_orig} HTTP/%{NUMBER:http.version}|-)?" '
    "%{NUMBER:http.response.status_code:long} (?:%{NUMBER:http.response.body.bytes:long}|-) "
    '%{NUMBER:http.response.time:long} "(?<x_forwarded_for>%{IP:source.address}(?:,[^,]+)*)" '
    "%{DATA:hc.request.clientid} (%{DATA:hc.transactionid}|-) %{GREEDYDATA:hc.correlationid}"
)

IP_OR_HOSTNAME_TEMPLATE = "^(%{IP:source.ip}|%{HOSTNAME:source.domain})$"
