"""Grok compiler unit tests (pure Python), and the single-pass extraction
checked against a per-field reference in Spark."""

import re

from kinesis2elastic_spark.operators.grok import (
    AXWAY_ACCESS_TEMPLATE,
    IP_OR_HOSTNAME_TEMPLATE,
    compile_grok,
    named_group_regex,
)

LINE = (
    'gw01.example.com - jdoe [13/Aug/2026:10:15:32 +0000]  '
    '"GET /api/v1/items?q=x HTTP/1.1" 200 512 42 "203.0.113.7,10.0.0.1" '
    "client-42 txn-9f2 corr-77a1"
)


def _extract(template, s):
    c = compile_grok(template)
    m = re.search(c.regex, s)
    return c, m, ({f.name: m.group(f.group) for f in c.fields} if m else None)


def test_axway_full_line():
    c, m, d = _extract(AXWAY_ACCESS_TEMPLATE, LINE)
    assert m
    assert d["remote.host"] == "gw01.example.com"
    assert d["user.name"] == "jdoe"
    assert d["apache.access.time"] == "13/Aug/2026:10:15:32 +0000"
    assert d["http.request.method"] == "GET"
    assert d["_tmp.url_orig"] == "/api/v1/items?q=x"
    assert d["http.version"] == "1.1"
    assert d["http.response.status_code"] == "200"
    assert d["http.response.body.bytes"] == "512"
    assert d["http.response.time"] == "42"
    assert d["x_forwarded_for"] == "203.0.113.7,10.0.0.1"
    assert d["source.address"] == "203.0.113.7"
    assert d["hc.request.clientid"] == "client-42"
    assert d["hc.correlationid"] == "corr-77a1"


def test_axway_missing_fields_variant():
    # '-' placeholders: no request part, no bytes (grok alternations)
    line = 'gw01.example.com - - [13/Aug/2026:10:15:32 +0000]  "-" 400 - 7 "10.1.2.3" c-1 - corr'
    _, m, d = _extract(AXWAY_ACCESS_TEMPLATE, line)
    assert m
    assert d["http.request.method"] is None
    assert d["http.response.body.bytes"] is None
    assert d["http.response.status_code"] == "400"


def test_axway_nonmatch():
    _, m, _ = _extract(AXWAY_ACCESS_TEMPLATE, "GARBAGE LINE 42")
    assert m is None


def test_ip_or_hostname_split():
    _, _, d_ip = _extract(IP_OR_HOSTNAME_TEMPLATE, "203.0.113.7")
    assert d_ip == {"source.ip": "203.0.113.7", "source.domain": None}
    _, _, d_host = _extract(IP_OR_HOSTNAME_TEMPLATE, "gw01.example.com")
    assert d_host["source.ip"] is None
    assert d_host["source.domain"] == "gw01.example.com"


def test_typed_fields():
    c = compile_grok(AXWAY_ACCESS_TEMPLATE)
    types = {f.name: f.type for f in c.fields}
    assert types["http.response.status_code"] == "long"
    assert types["http.response.body.bytes"] == "long"
    assert types["remote.host"] == "string"


def test_named_group_regex_matches_same():
    c = compile_grok(AXWAY_ACCESS_TEMPLATE)
    named = named_group_regex(c)
    m = re.search(named.replace("(?P<", "(?P<"), LINE)
    assert m
    assert m.group("g7") == "200"
    assert m.group(f"g{len(c.fields)}") == "corr-77a1"


def test_unknown_pattern_raises():
    try:
        compile_grok("%{NOPE:x}")
    except KeyError as e:
        assert "NOPE" in str(e)
    else:
        raise AssertionError("expected KeyError")


def test_pattern_table_breadth_syslog():
    """Non-Axway pipelines compile: classic syslog line (SYSLOGTIMESTAMP,
    SYSLOGPROG via PROG/POSINT) — the reference relies on the stock
    OpenSearch pattern table, so common patterns beyond the Axway subset
    must compile and match."""
    import re as _re

    from kinesis2elastic_spark.operators.grok import compile_grok

    c = compile_grok(
        "%{SYSLOGTIMESTAMP:ts} %{IPORHOST:host} %{PROG:prog}(?:\\[%{POSINT:pid:long}\\])?: %{GREEDYDATA:msg}"
    )
    line = "Oct 11 22:14:15 web01.example.com sshd[4721]: Failed password for root"
    m = _re.search(c.regex, line)
    assert m
    vals = {f.name: m.group(f.group) for f in c.fields}
    assert vals["ts"] == "Oct 11 22:14:15"
    assert vals["host"] == "web01.example.com"
    assert vals["prog"] == "sshd"
    assert vals["pid"] == "4721"
    assert vals["msg"] == "Failed password for root"


def test_pattern_table_breadth_app_log():
    """ISO8601 timestamp + LOGLEVEL + UUID + URI — a typical app-log grok."""
    import re as _re

    from kinesis2elastic_spark.operators.grok import compile_grok

    c = compile_grok(
        "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} \\[%{UUID:trace}\\] %{WORD:verb} %{URI:uri} -> %{NUMBER:status:long}"
    )
    line = (
        "2024-03-05T12:34:56.789Z ERROR [123e4567-e89b-12d3-a456-426614174000] "
        "GET https://api.example.com:8443/v1/items?q=x -> 503"
    )
    m = _re.search(c.regex, line)
    assert m
    vals = {f.name: m.group(f.group) for f in c.fields}
    assert vals["level"] == "ERROR"
    assert vals["trace"] == "123e4567-e89b-12d3-a456-426614174000"
    assert vals["uri"] == "https://api.example.com:8443/v1/items?q=x"
    assert vals["status"] == "503"


def test_pattern_table_breadth_net_fields(spark):
    """MAC/QS/PATH/DATESTAMP compile and extract typed columns JVM-side."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.grok import compile_grok

    c = compile_grok(
        "%{COMMONMAC:mac} %{QS:agent} %{UNIXPATH:path} %{DATESTAMP:when}"
    )
    df = spark.createDataFrame(
        [Row(line='aa:bb:cc:dd:ee:ff "Mozilla \\"5.0\\"" /var/log/app.log 03/22/2024 14:01:02')]
    )
    captures = c.captures("line")
    out = df.select(*[F.expr(c.field(captures, f)).alias(f.name) for f in c.fields]).first()
    assert out["mac"] == "aa:bb:cc:dd:ee:ff"
    assert out["agent"] == '"Mozilla \\"5.0\\""'
    assert out["path"] == "/var/log/app.log"
    assert out["when"] == "03/22/2024 14:01:02"


def _generator_lines(n: int = 400) -> list[str]:
    """The ingest benchmark's messages: access lines, garbage lines and
    JSON messages, decoded from one seeded envelope."""
    import base64
    import gzip
    import importlib.util
    import json
    import os
    import sys

    path = os.path.join(os.path.dirname(__file__), "..", "perfbench", "envelopes.py")
    spec = importlib.util.spec_from_file_location("perfbench_envelopes", path)
    envelopes = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = envelopes  # its dataclasses resolve annotations there
    spec.loader.exec_module(envelopes)
    env, _ = envelopes.envelope(7, 0, 3, 1_790_000_000_000)
    lines = []
    for record in env["records"]:
        try:
            payload = json.loads(gzip.decompress(base64.b64decode(record["data"], validate=True)))
        except (ValueError, OSError):
            continue  # the planted bad-base64 and bad-gzip records
        lines += [e["message"] for e in payload["logEvents"]]
    return lines[:n]


def _reference(col, compiled):
    """Per-field ``rlike`` + ``regexp_extract``: one ``find()`` per field."""
    from pyspark.sql import functions as F

    matched = col.isNotNull() & col.rlike(compiled.regex)
    fields = {}
    for f in compiled.fields:
        c = F.nullif(F.regexp_extract(col, compiled.regex, f.group), F.lit(""))
        fields[f.name] = c.cast(f.type) if f.type != "string" else c
    return matched, fields


def test_single_pass_grok_matches_per_field_reference(spark):
    """Every field and the match flag of the single-pass grok equal the
    per-field reference, through ``CompiledGrok``'s SQL text and through
    the interpreter, for both reference templates — over the
    benchmark generator's lines, the ``-`` variants, lines holding the
    capture delimiter, ``''`` and NULL."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.grok import SEP
    from kinesis2elastic_spark.operators.pipeline_dsl import PipelineInterpreter

    dash = 'gw01.example.com - - [13/Aug/2026:10:15:32 +0000]  "-" 400 - 7 "10.1.2.3" c-1 - corr'
    lines = _generator_lines() + [
        LINE,
        dash,
        dash.replace("c-1 - corr", "c-1 txn-1 corr"),
        LINE.replace("corr-77a1", f"corr{SEP}77a1"),
        f"{SEP}{LINE}",
        LINE.replace(" 200 ", f" 200{SEP}"),
        SEP,
        "203.0.113.7",
        "gw01.example.com",
        f"203.0.113.7{SEP}",
        "",
        None,
    ]
    assert sum("GARBAGE" in (line or "") for line in lines) >= 3
    df = spark.createDataFrame([(i, v) for i, v in enumerate(lines)], "id int, line string")
    line = F.col("line")
    for template in (AXWAY_ACCESS_TEMPLATE, IP_OR_HOSTNAME_TEMPLATE):
        c = compile_grok(template)
        ref_matched, ref_fields = _reference(line, c)
        captures = c.captures("line")
        spec = {"p": {
            "processors": [{"grok": {"field": "line", "patterns": [template]}}],
            "on_failure": [{"set": {"field": "error.message", "value": "{{ _ingest.on_failure_message }}"}}],
        }}
        interp = {r.id: r for r in PipelineInterpreter(spec).run(df, "p").collect()}
        rows = df.select(
            "id", "line", ref_matched.alias("ref_matched"), F.expr(c.matched(captures)).alias("matched"),
            *[v.alias(f"ref:{k}") for k, v in ref_fields.items()],
            *[F.expr(c.field(captures, f)).alias(f.name) for f in c.fields],
        ).collect()
        n_matched = 0
        for r in rows:
            n_matched += r["ref_matched"]
            assert r["matched"] == r["ref_matched"], r["line"]
            assert (interp[r.id]["error.message"] is not None) == (r["line"] is not None and not r["ref_matched"])
            for f in c.fields:
                assert r[f.name] == r[f"ref:{f.name}"], (r["line"], f.name)
                assert interp[r.id][f.name] == r[f"ref:{f.name}"], (r["line"], f.name)
        assert 0 < n_matched < len(rows)

