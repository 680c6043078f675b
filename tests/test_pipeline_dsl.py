"""Pipeline-DSL interpreter tests: an independently-authored spec with the
same processor semantics as the reference chain, plus (when the read-only
reference checkout is present) the reference's literal JSON configs."""

import json
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kinesis2elastic_spark.operators.grok import (
    AXWAY_ACCESS_TEMPLATE,
    IP_OR_HOSTNAME_TEMPLATE,
    SEP,
    compile_grok,
)
from kinesis2elastic_spark.operators.pipeline_dsl import (
    PipelineInterpreter,
    fixture_spec,
    parse_condition,
)
from kinesis2elastic_spark.sources.geoip import synthetic_geoip_dim

GOOD = (
    'gw01.example.com - jdoe [13/Aug/2026:10:15:32 +0000]  '
    '"GET /api/v1/items.json?q=x HTTP/1.1" 200 512 42 "10.50.1.1,10.0.0.1" '
    "client-42 txn-9f2 corr-77a1"
)
BAD_STATUS = GOOD.replace(" 200 ", " 503 ")
GARBAGE = "GARBAGE NOT A LOG LINE"

# Same semantics as ingest/axway-ingest.json, written from the operator
# inventory (SURVEY §2 A17-A31), not copied: the committed package fixture
# that the service tests, q_pipeline_axway and perfbench all run.
SPEC = fixture_spec()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "/aws/axway/gateway", GOOD, "2021-10-30 19:35:18"),
        (2, "/aws/axway/gateway", BAD_STATUS, "2021-10-30 19:35:18"),
        (3, "/aws/axway/gateway", GARBAGE, "2021-10-30 19:35:18"),
        (4, "/aws/other/app", GOOD, "2021-10-30 19:35:18"),
    ]
    df = spark.createDataFrame(rows, "id bigint, lg string, msg string, ts string")
    return df.select(
        "id",
        F.col("lg").alias("records.data.logGroup"),
        F.col("msg").alias("records.data.logEvents.message.text"),
        F.col("ts").cast("timestamp").alias("@timestamp"),
    )


@pytest.fixture(scope="module")
def result(spark, docs):
    interp = PipelineInterpreter(SPEC, geoip_dim=synthetic_geoip_dim(spark))
    out = interp.run(docs, "route")
    return {r.id: r.asDict() for r in out.collect()}


def test_enriched_good_line(result):
    r = result[1]
    assert r["http.response.status_code"] == 200
    assert r["event.outcome"] == "success"
    assert r["url.path"] == "/api/v1/items.json"
    assert r["url.extension"] == "json"
    assert r["source.ip"] == "10.50.1.1"
    assert r["source.geo.country_iso_code"] == "US"
    assert r["source.as.number"] == 64500
    assert r["event.created"].year == 2021   # copied BEFORE promotion
    assert r["@timestamp"].year == 2026      # promoted to access time
    assert r["error.message"] is None


def test_failure_branch(result):
    r = result[2]
    assert r["event.outcome"] == "failure"


def test_grok_miss_dead_letters_and_skips_rest(result):
    r = result[3]
    assert r["error.message"] and "grok" in r["error.message"]
    assert r["http.response.status_code"] is None
    assert r["event.outcome"] is None
    assert r["@timestamp"].year == 2021      # not promoted on failure


def test_non_axway_passthrough(result):
    r = result[4]
    assert r["records.data.logGroup"] == "/aws/other/app"
    assert r["http.response.status_code"] is None
    assert r["event.kind"] is None
    assert r["@timestamp"].year == 2021


def test_fixture_grok_is_the_axway_template():
    """q_pipeline_axway's oracle extracts with AXWAY_ACCESS_TEMPLATE's
    compiled regex, so the fixture must run exactly that grok."""
    assert SPEC["enrich"]["processors"][0]["grok"]["patterns"] == [AXWAY_ACCESS_TEMPLATE]


def test_dispatch_keeps_values_outside_branch(spark):
    """Rows outside a ``pipeline`` branch keep their input values for the
    columns the branch overwrites (``@timestamp`` via ``date``, a preset
    ``event.kind``); a scratch column the branch creates and removes is
    absent from the output."""
    spec = {
        "route": {"processors": [{"pipeline": {"name": "sub", "if": "ctx.lg =~ /axway/"}}]},
        "sub": {
            "processors": [
                {"set": {"field": "tmp.scratch", "value": "x"}},
                {"set": {"field": "event.kind", "value": "event"}},
                {"date": {"field": "t", "formats": ["dd/MMM/yyyy:H:m:s Z"]}},
                {"remove": {"field": "tmp.scratch"}},
            ]
        },
    }
    t = "13/Aug/2026:10:15:32 +0000"
    df = spark.createDataFrame(
        [(1, "/aws/axway/gw", t, "preset"), (2, "/aws/app/svc", t, "preset"), (3, None, t, None)],
        "id bigint, lg string, t string, kind string",
    ).select(
        "id", "lg", "t", F.col("kind").alias("event.kind"),
        F.lit("2021-10-30 19:35:18").cast("timestamp").alias("@timestamp"),
    )
    out = PipelineInterpreter(spec).run(df, "route")
    assert out.columns == ["id", "lg", "t", "event.kind", "@timestamp"]
    rows = {r.id: r for r in out.collect()}
    assert rows[1]["event.kind"] == "event" and rows[1]["@timestamp"].year == 2026
    assert rows[2]["event.kind"] == "preset" and rows[2]["@timestamp"].year == 2021
    assert rows[3]["event.kind"] is None and rows[3]["@timestamp"].year == 2021


def test_nested_pipeline_dispatch(spark):
    """A ``pipeline`` inside a branch writes only where both conditions
    hold.  Each condition is evaluated once, at dispatch: the inner branch
    overwriting ``g`` (and the grok materializing that) does not move
    rows out of the outer branch."""
    spec = {
        "outer": {"processors": [{"pipeline": {"name": "mid", "if": "ctx.g =~ /a|b/"}}]},
        "mid": {
            "processors": [
                {"set": {"field": "m", "value": "mid"}},
                {"pipeline": {"name": "inner", "if": "ctx.g =~ /a/"}},
                {"grok": {"field": "v", "patterns": ["^%{WORD:w}$"]}},
                {"set": {"field": "after", "value": "{{v}}"}},
            ]
        },
        "inner": {"processors": [{"set": {"field": "v", "value": "inner"}},
                                 {"set": {"field": "g", "value": "z"}}]},
    }
    df = spark.createDataFrame([(1, "a", "x"), (2, "b", "y"), (3, "c", "w")], "id bigint, g string, v string")
    out = PipelineInterpreter(spec).run(df, "outer")
    assert out.columns == ["id", "g", "v", "m", "w", "after"]
    got = {r.id: (r.g, r.v, r.m, r.w, r.after) for r in out.collect()}
    assert got == {
        1: ("z", "inner", "mid", "inner", "inner"),
        2: ("b", "y", "mid", "y", "y"),
        3: ("c", "w", None, None, None),
    }


def test_spec_plan_stays_flat(spark):
    """Writes stay symbolic until a grok or geoip needs a materialized
    column, so SPEC over the service's flattened documents analyzes to a
    bounded number of projections, not one per processor write."""
    from kinesis2elastic_spark.operators.decode import decode_envelopes
    from kinesis2elastic_spark.schemas import FIREHOSE_ENVELOPE
    from kinesis2elastic_spark.service import flatten_for_pipeline

    flat = flatten_for_pipeline(decode_envelopes(spark.createDataFrame([], FIREHOSE_ENVELOPE)))
    out = PipelineInterpreter(SPEC, geoip_dim=synthetic_geoip_dim(spark)).run(flat, "route")
    plan = out._jdf.queryExecution().analyzed().treeString()
    n_projects = sum(1 for line in plan.splitlines() if line.lstrip(" :+-").startswith("Project ["))
    assert n_projects <= 25, n_projects

    # Each grok is one regex pass, and the two geoip processors on
    # source.ip are one join.
    groks = [compile_grok(p["grok"]["patterns"][0]) for p in SPEC["enrich"]["processors"] if "grok" in p]
    nodes, counts = _grok_regex_counts(out, groks)
    assert counts == {"RegExpReplace": len(groks)}, counts
    assert sum(node["class"].endswith(".Join") for node in nodes) == 1


@pytest.mark.parametrize("query, template", [
    ("q_grok_ip", IP_OR_HOSTNAME_TEMPLATE),
    ("q_parse_url", AXWAY_ACCESS_TEMPLATE),
    ("q_set_ops", AXWAY_ACCESS_TEMPLATE),
    ("q_case_when", AXWAY_ACCESS_TEMPLATE),
    ("q_date_parse", AXWAY_ACCESS_TEMPLATE),
    ("q_dead_letter", AXWAY_ACCESS_TEMPLATE),
])
def test_processor_query_runs_grok_once(spark, sf_dir, query, template):
    """The per-processor oracle queries run their grok through the
    interpreter, which materializes the capture array before anything
    reads it: the optimized plan holds one ``regexp_replace`` of the
    grok and no other evaluation of its regex outside the delimiter
    fallback, whether the query reads the match flag, one field or
    several."""
    from kinesis2elastic_spark.operators.pipeline import QUERIES

    _nodes, counts = _grok_regex_counts(QUERIES[query](spark, sf_dir), [compile_grok(template)])
    assert counts == {"RegExpReplace": 1}, counts


def test_service_chain_plan_shape(spark):
    """The whole per-batch chain of ``run_service`` — flatten, the
    interpreter, ``_id``, the sink's serialization — is precompiled SQL
    text: one projection each around the interpreter's six, one join,
    and a JVM-local dimension on the join's broadcast side."""
    from kinesis2elastic_spark.operators.decode import decode_envelopes
    from kinesis2elastic_spark.schemas import FIREHOSE_ENVELOPE
    from kinesis2elastic_spark.service import document_id, flatten_for_pipeline
    from kinesis2elastic_spark.streaming.sink import BulkSink

    def n_projects(df):
        plan = df._jdf.queryExecution().analyzed().treeString()
        return sum(1 for line in plan.splitlines() if line.lstrip(" :+-").startswith("Project ["))

    docs = decode_envelopes(spark.createDataFrame([], FIREHOSE_ENVELOPE))
    flat = flatten_for_pipeline(docs)
    out = PipelineInterpreter(SPEC, geoip_dim=synthetic_geoip_dim(spark)).run(flat, "route")
    with_id = document_id(out, event_id_col="`records.data.logEvents.id`")
    ser = BulkSink("http://fake:9200", "logs", transport=None).serialize(with_id)
    chain = [docs, flat, out, with_id, ser]
    assert [n_projects(b) - n_projects(a) for a, b in zip(chain, chain[1:])] == [1, 6, 1, 1]

    nodes = json.loads(ser._jdf.queryExecution().optimizedPlan().toJSON())
    assert sum(node["class"].endswith(".Join") for node in nodes) == 1
    physical = ser._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastExchange [^\n]*\n\s*\+- LocalTableScan ", physical), physical
    assert physical.count("BroadcastExchange") == 1


def _grok_regex_counts(df, groks):
    """The optimized plan's nodes, and the evaluations of the ``groks``'
    regexes in its expression trees, read whole from its JSON form
    (treeString truncates long Projects)."""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    counts = Counter()
    for node in nodes:
        for flat_tree in _expression_lists(list(node.values())):
            _count_grok_regex(_tree(iter(flat_tree)), {c.regex for c in groks}, {c.whole_regex for c in groks}, counts)
    return nodes, counts


def _expression_lists(value):
    """Each expression of a plan node's JSON fields, as its pre-order node list."""
    if isinstance(value, list) and value and isinstance(value[0], dict) and "num-children" in value[0]:
        yield value
    elif isinstance(value, list):
        for v in value:
            yield from _expression_lists(v)


def _tree(nodes):
    node = next(nodes)
    return node["class"].rsplit(".", 1)[1], node, [_tree(nodes) for _ in range(node["num-children"])]


def _count_grok_regex(tree, regexes, whole_regexes, counts):
    """Count the grok regex evaluations in ``tree``: ``rlike`` and
    ``regexp_extract`` of a grok regex, and ``regexp_replace`` of a
    whole-line grok regex, skipping the fallback branch taken only by
    sources that hold the capture delimiter."""
    name, _, kids = tree
    if name == "If" and kids[0][0] == "Contains" and kids[0][2][1][1].get("value") == SEP:
        kids = [kids[0], kids[2]]
    elif name in ("RLike", "RegExpExtract", "RegExpReplace"):
        pattern = kids[1][1].get("value")
        if pattern in (whole_regexes if name == "RegExpReplace" else regexes):
            counts[name] += 1
    for kid in kids:
        _count_grok_regex(kid, regexes, whole_regexes, counts)


def test_unsupported_spec_shapes_are_rejected(spark, docs):
    """Spec shapes the interpreter would otherwise mis-run fail at
    compile time: a grok with several patterns (ES tries each in turn)
    and an ``on_failure`` handler other than ``set``."""
    two_patterns = {"p": {"processors": [{"grok": {
        "field": "records.data.logEvents.message.text", "patterns": [AXWAY_ACCESS_TEMPLATE, "%{GREEDYDATA:x}"],
    }}]}}
    with pytest.raises(ValueError, match="one pattern"):
        PipelineInterpreter(two_patterns).run(docs, "p")
    remove_handler = {"p": {
        "processors": [{"set": {"field": "event.kind", "value": "event"}}],
        "on_failure": [{"remove": {"field": "event.kind"}}],
    }}
    with pytest.raises(ValueError, match="on_failure"):
        PipelineInterpreter(remove_handler).run(docs, "p")


def test_set_literals_keep_value_and_type(spark):
    """``set`` values reach the compiled SQL as literals with the value
    and type a Column literal gives them: quotes, backslashes and control
    characters survive the escaping."""
    values = {
        "s": "it's \\d+ \\\\ 'x' \"y\" \u0001 \n",
        "i": 7, "big": 2**40, "neg": -3, "b": True, "f": 0.1, "n": None,
    }
    spec = {"p": {"processors": [{"set": {"field": k, "value": v}} for k, v in values.items()]}}
    out = PipelineInterpreter(spec).run(spark.range(1), "p")
    # the Column form of a guarded write, as the interpreter composed it before
    ref = spark.range(1).select(
        "id", *[F.when(~F.lit(False), F.lit(v)).otherwise(F.lit(None).cast("string")).alias(k)
                for k, v in values.items()]
    )
    assert out.schema == ref.schema
    assert out.first() == ref.first()
    assert out.first()["s"] == values["s"]


def test_condition_parser_rejects_unknown():
    with pytest.raises(ValueError):
        parse_condition("ctx.x ** 2 == 4", ["x"])


REF_DIR = "/root/reference/ingest"


@pytest.mark.skipif(not os.path.isdir(REF_DIR), reason="reference checkout not present")
def test_reference_literal_configs_execute(spark, docs):
    """The interpreter must run the reference's UNMODIFIED pipeline JSON
    (loaded at test time from the read-only checkout — never copied into
    this repo)."""
    with open(f"{REF_DIR}/one-pipeline-to-rule-them-all.json") as f:
        route = json.load(f)
    with open(f"{REF_DIR}/axway-ingest.json") as f:
        axway = json.load(f)
    interp = PipelineInterpreter(
        {"one-pipeline-to-rule-them-all": route, "axway-ingest": axway},
        geoip_dim=synthetic_geoip_dim(spark),
    )
    out = {r.id: r.asDict() for r in interp.run(docs, "one-pipeline-to-rule-them-all").collect()}
    assert out[1]["http.response.status_code"] == 200
    assert out[1]["event.outcome"] == "success"
    assert out[1]["source.as.number"] == 64500
    assert out[2]["event.outcome"] == "failure"
    assert out[3]["error.message"] is not None
    assert out[4]["event.kind"] is None  # non-axway untouched


def test_non_axway_pipeline_with_standard_patterns(spark):
    """A user-authored syslog pipeline (not the reference's Axway chain)
    compiles and runs through the interpreter using the standard grok
    base-pattern table added in r3 — the breadth the reference gets for
    free from OpenSearch's stock pattern library."""
    spec = {
        "syslog": {
            "processors": [
                {
                    "grok": {
                        "field": "message",
                        "patterns": [
                            "%{SYSLOGTIMESTAMP:system.timestamp} "
                            "%{IPORHOST:host.name} "
                            "%{PROG:process.name}(?:\\[%{POSINT:process.pid:long}\\])?: "
                            "%{GREEDYDATA:system.message}"
                        ],
                    }
                },
                {
                    "set": {
                        "field": "event.kind",
                        "value": "event",
                        "if": "ctx.process?.pid != null",
                    }
                },
            ],
            "on_failure": [
                {"set": {"field": "error.message", "value": "syslog grok failed"}}
            ],
        }
    }
    rows = [
        ("Oct 11 22:14:15 web01.example.com sshd[4721]: Failed password for root",),
        ("Oct 12 03:02:09 10.1.2.3 cron[88]: (root) CMD (run-parts /etc/cron.hourly)",),
        ("not even close to a syslog line",),
    ]
    df = spark.createDataFrame(rows, "message string")
    out = PipelineInterpreter(spec).run(df, "syslog")
    got = out.collect()
    by_msg = {r["message"]: r for r in got}
    ok1 = by_msg[rows[0][0]]
    assert ok1["process.name"] == "sshd" and ok1["process.pid"] == 4721
    assert ok1["host.name"] == "web01.example.com"
    assert ok1["event.kind"] == "event"
    assert ok1["error.message"] is None
    ok2 = by_msg[rows[1][0]]
    assert ok2["process.name"] == "cron" and ok2["process.pid"] == 88
    bad = by_msg[rows[2][0]]
    assert bad["error.message"] == "syslog grok failed"
    assert bad["process.name"] is None
