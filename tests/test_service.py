"""Full-service e2e: HTTP POST → spool → stream → decode → the committed
pipeline spec → idempotent bulk sink (file-backed fake transport), plus
stream-stream join behavior."""

import base64
import gzip
import json
import os
import urllib.error
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from kinesis2elastic_spark.operators.pipeline_dsl import fixture_spec
from kinesis2elastic_spark.service import run_service
from kinesis2elastic_spark.sources.firehose import FirehoseReceiver
from kinesis2elastic_spark.sources.geoip import synthetic_geoip_dim
from kinesis2elastic_spark.streaming.sink import BulkSink

ACCESS_LINE = (
    'gw01.example.com - jdoe [13/Aug/2026:10:15:32 +0000]  '
    '"GET /api/v1/items?q=x HTTP/1.1" 200 512 42 "10.50.1.1,10.0.0.1" '
    "client-42 txn-9f2 corr-77a1"
)

def _post_envelope(url, log_group, messages):
    payload = {
        "messageType": "DATA_MESSAGE",
        "owner": "1",
        "logGroup": log_group,
        "logStream": "s",
        "subscriptionFilters": [],
        "logEvents": [
            {"id": f"ev-{uuid.uuid4().hex[:8]}", "timestamp": 1635622510000 + i, "message": m}
            for i, m in enumerate(messages)
        ],
    }
    env = {
        "requestId": str(uuid.uuid4()),
        "timestamp": 1635622518652,
        "records": [
            {"data": base64.b64encode(gzip.compress(json.dumps(payload).encode())).decode()}
        ],
    }
    req = urllib.request.Request(
        url + "/firehose", data=json.dumps(env).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.status == 200


def _file_transport(out_dir: str, status=lambda n: 200):
    """Bulk transport that records each request body in a file of its own
    under ``out_dir``: it runs in the executors' Python workers, so the
    test reads the files back; a list in the test process would stay
    empty.  ``status(n)`` scripts the answer to the n-th request (counted
    across processes by the files already written)."""

    def transport(url, body, headers):
        code = status(len(os.listdir(out_dir)))
        with open(os.path.join(out_dir, f"{uuid.uuid4().hex}-{code}.ndjson"), "wb") as f:
            f.write(body)
        return code, {"errors": False}

    return transport


def _delivered(out_dir: str, accepted: bool = True) -> list[tuple[str, dict]]:
    """(_id, document) of every bulk item the sink sent and the transport
    accepted (``accepted=False``: refused)."""
    items = []
    for name in sorted(os.listdir(out_dir)):
        if name.endswith("-200.ndjson") != accepted:
            continue
        with open(os.path.join(out_dir, name)) as f:
            lines = f.read().splitlines()
        for action, doc in zip(lines[::2], lines[1::2]):
            items.append((json.loads(action)["index"]["_id"], json.loads(doc)))
    return items


def test_full_service_e2e(spark, tmp_path):
    """HTTP POST → spool → stream → decode → the committed pipeline spec
    → bulk sink; asserts on the documents the sink actually delivered."""
    receiver = FirehoseReceiver(str(tmp_path / "spool")).start()
    _post_envelope(receiver.url, "/aws/axway/gateway", [ACCESS_LINE, "not an access log"])
    _post_envelope(receiver.url, "/aws/other/app", ['{"k": 1}', "plain"])

    out_dir = tmp_path / "bulk"
    out_dir.mkdir()
    sink = BulkSink("http://fake:9200", "logs", _file_transport(str(out_dir)))
    q = run_service(
        spark,
        receiver.spool_dir,
        sink,
        pipelines=fixture_spec(),
        entry_pipeline="route",
        geoip_dim=synthetic_geoip_dim(spark),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    receiver.stop()

    items = _delivered(str(out_dir))
    assert len(items) == 4  # 2 envelopes x 2 logEvents
    assert len({_id for _id, _ in items}) == 4  # deterministic, distinct _ids
    by_group = {}
    for _id, doc in items:
        assert _id == doc["records.data.logEvents.id"]
        by_group.setdefault(doc["records.data.logGroup"], []).append(doc)
    axway_docs = by_group["/aws/axway/gateway"]
    enriched = [d for d in axway_docs if "http.response.status_code" in d]
    dead = [d for d in axway_docs if "error.message" in d]
    assert len(enriched) == 1 and len(dead) == 1
    e = enriched[0]
    assert e["http.response.status_code"] == 200
    assert e["event.outcome"] == "success"
    assert e["url.path"] == "/api/v1/items"
    assert e["source.geo.country_iso_code"] == "US"
    assert e["source.as.number"] == 64500
    assert e["@timestamp"].startswith("2026-08-13T10:15:32")  # promoted access time
    assert dead[0]["error.message"] == "grok: no match for field [records.data.logEvents.message.text]"
    assert "http.response.status_code" not in dead[0]
    other = by_group["/aws/other/app"]
    assert len(other) == 2
    assert all("http.response.status_code" not in d and "event.kind" not in d for d in other)


def test_service_checkpoint_no_redelivery(spark, tmp_path):
    """A7 semantics: three drains over one checkpoint deliver 2, then 0
    (the committed batch is not reprocessed), then 1 document (the new
    spool file is picked up), and every _id reaches the sink once."""
    receiver = FirehoseReceiver(str(tmp_path / "spool")).start()
    sink_dirs = [tmp_path / f"bulk{i}" for i in range(3)]

    def drain(out_dir):
        out_dir.mkdir()
        sink = BulkSink("http://fake:9200", "logs", _file_transport(str(out_dir)))
        run_service(spark, receiver.spool_dir, sink, checkpoint_dir=str(tmp_path / "ckpt")).awaitTermination()
        return _delivered(str(out_dir))

    _post_envelope(receiver.url, "/aws/app", ["m1", "m2"])
    first = drain(sink_dirs[0])
    second = drain(sink_dirs[1])  # no new data
    _post_envelope(receiver.url, "/aws/app", ["m3"])
    third = drain(sink_dirs[2])
    receiver.stop()

    assert [len(first), len(second), len(third)] == [2, 0, 1]
    ids = [_id for _id, _ in first + second + third]
    assert len(ids) == len(set(ids)) == 3
    messages = sorted(json.loads(doc["records.data.logEvents.message"])["text"] for _, doc in first + third)
    assert messages == ["m1", "m2", "m3"]


def test_stream_stream_join(spark, tmp_path):
    from kinesis2elastic_spark.streaming import windows as sw

    def write(path, rows):
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/part-0.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))

    clicks = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T12:00:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
    ]
    buys = [
        {"event_id": 10, "ts": "2024-01-01T10:30:00.000Z", "user_id": 1, "event_type": "purchase", "value": 9.0, "props": "{}"},
        {"event_id": 11, "ts": "2024-01-01T09:30:00.000Z", "user_id": 1, "event_type": "purchase", "value": 9.0, "props": "{}"},
    ]
    cp, bp = str(tmp_path / "clicks"), str(tmp_path / "buys")
    write(cp, clicks)
    write(bp, buys)
    # purchases joined to clicks within the following hour of the click:
    # click@10:00 ↔ buy@10:30 only (buy@09:30 precedes; click@12:00 has none)
    joined = sw.stream_stream_join(
        sw.stream_events(spark, bp),  # left = purchase
        sw.stream_events(spark, cp),  # right = click within previous hour
        key="user_id",
        within="1 hour",
    )
    name = f"j_{uuid.uuid4().hex[:8]}"
    sw.run_to_memory_sink(
        joined.select(
            F.col("l.event_id").alias("buy_id"), F.col("r.event_id").alias("click_id")
        ),
        name,
    )
    rows = {(r.buy_id, r.click_id) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows == {(10, 1)}


def test_structured_logging_request_and_batch_scoped(spark, tmp_path):
    """A33: JSON-lines logger — requestId-bound lines from the receiver,
    epoch-bound batch lifecycle + chunk outcomes from the service; level
    filtering suppresses debug at info."""
    from kinesis2elastic_spark.logs import StructuredLogger

    lines = []
    logger = StructuredLogger("ingest", level="info", sink=lines.append)

    receiver = FirehoseReceiver(str(tmp_path / "spool3"), logger=logger).start()
    _post_envelope(receiver.url, "/aws/app", ["m1", "m2"])
    # one rejected request (bad content type) → error line with requestId
    req = urllib.request.Request(
        receiver.url + "/firehose", data=b"x",
        headers={"Content-Type": "text/plain",
                 "X-Amz-Firehose-Request-Id": "req-bad"}, method="POST",
    )
    try:
        urllib.request.urlopen(req, timeout=10)
    except urllib.error.HTTPError as e:
        assert e.code == 400

    def transport(url, body, headers):
        return 200, {"errors": False}

    sink = BulkSink("http://fake:9200", "logs", transport)
    q = run_service(spark, receiver.spool_dir, sink,
                    checkpoint_dir=str(tmp_path / "ck3"), logger=logger)
    q.awaitTermination()
    receiver.stop()

    recs = [json.loads(l) for l in lines]
    assert all({"ts", "level", "component", "event"} <= set(r) for r in recs)
    spooled = [r for r in recs if r["event"] == "request_spooled"]
    assert len(spooled) == 1 and spooled[0]["n_records"] == 1
    assert spooled[0]["requestId"]  # request-scoped binding
    rejected = [r for r in recs if r["event"] == "request_rejected"]
    assert len(rejected) == 1 and rejected[0]["requestId"] == "req-bad"
    assert rejected[0]["level"] == "error"
    done = [r for r in recs if r["event"] == "batch_done"]
    assert done and done[0]["n_items"] == 2 and "epoch" in done[0]
    assert done[0]["n_failed_chunks"] == 0
    # level filter: bulk_chunk_ok is debug → suppressed at info
    assert not [r for r in recs if r["event"] == "bulk_chunk_ok"]

    dbg_lines = []
    dbg = StructuredLogger("x", level="debug", sink=dbg_lines.append)
    dbg.debug("visible")
    assert json.loads(dbg_lines[0])["event"] == "visible"


def test_service_metrics_scrapeable(spark, tmp_path):
    """A32 composed: the receiver and the streaming listener publish to
    ONE registry, served at GET /metrics (main.go:215-217) — after a
    service drain the scrape shows both the HTTP request counters and the
    per-batch stream counters."""
    from kinesis2elastic_spark.metrics import CollectingListener, MetricsRegistry

    registry = MetricsRegistry()
    receiver = FirehoseReceiver(str(tmp_path / "spool"), registry=registry).start()
    listener = CollectingListener(registry=registry)
    spark.streams.addListener(listener)
    try:
        _post_envelope(receiver.url, "/aws/app/a", ['{"k": 1}'])
        _post_envelope(receiver.url, "/aws/app/b", ["plain text"])

        out_dir = tmp_path / "bulk"
        out_dir.mkdir()
        sink = BulkSink("http://fake:9200", "logs", _file_transport(str(out_dir)))
        q = run_service(
            spark,
            receiver.spool_dir,
            sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        # listener events are delivered on an async bus thread — give the
        # progress callbacks a moment to drain into the registry
        import time as _time

        deadline = _time.time() + 15
        while registry.value("k2e_batches_total") < 1 and _time.time() < deadline:
            _time.sleep(0.2)

        with urllib.request.urlopen(receiver.url + "/metrics", timeout=10) as resp:
            body = resp.read().decode()
        assert 'k2e_http_requests_total{path="/firehose",status="200"} 2' in body
        assert "k2e_records_spooled_total 2" in body
        # listener-side counters: one availableNow drain = >=1 batch over
        # the 2 spooled envelopes
        assert registry.value("k2e_batches_total") >= 1
        assert registry.value("k2e_input_rows_total") >= 2
        assert "k2e_batches_total" in body and "k2e_input_rows_total" in body
        # the stream's observed document counters reach the scrape
        n_delivered = len(_delivered(str(out_dir)))
        assert n_delivered == 2
        assert registry.value("k2e_docs_total") == n_delivered
        assert f"k2e_docs_total {n_delivered}" in body
    finally:
        spark.streams.removeListener(listener)
        receiver.stop()


def test_undelivered_batch_is_not_committed_then_replays(spark, tmp_path):
    """A 503 storm longer than the sink's retries fails the batch: the
    query stops with the error and commits nothing.  A second run on the
    same checkpoint replays the batch and delivers every _id once."""
    from pyspark.errors import StreamingQueryException

    receiver = FirehoseReceiver(str(tmp_path / "spool")).start()
    _post_envelope(receiver.url, "/aws/app/a", ["m1", "m2"])
    _post_envelope(receiver.url, "/aws/app/b", ["m3"])
    receiver.stop()
    ckpt = tmp_path / "ckpt"

    storm = tmp_path / "storm"
    storm.mkdir()
    sink = BulkSink("http://fake:9200", "logs", _file_transport(str(storm), status=lambda n: 503))
    q = run_service(spark, receiver.spool_dir, sink, checkpoint_dir=str(ckpt))
    with pytest.raises(StreamingQueryException, match="not delivered"):
        q.awaitTermination()
    assert q.exception() is not None
    assert (ckpt / "offsets" / "0").exists()
    assert not (ckpt / "commits").exists() or not os.listdir(ckpt / "commits")
    refused = {_id for _id, _ in _delivered(str(storm), accepted=False)}
    assert len(refused) == 3

    good = tmp_path / "good"
    good.mkdir()
    sink = BulkSink("http://fake:9200", "logs", _file_transport(str(good)))
    q = run_service(spark, receiver.spool_dir, sink, checkpoint_dir=str(ckpt))
    q.awaitTermination()
    assert q.exception() is None
    assert (ckpt / "commits" / "0").exists()
    ids = [_id for _id, _ in _delivered(str(good))]
    assert sorted(ids) == sorted(refused)  # every _id, each exactly once


def test_batch_done_reports_sink_retries(spark, tmp_path):
    """The batch_done line sums the chunks' retries and post seconds: a
    scripted transport answers 429 twice, then 200."""
    from kinesis2elastic_spark.logs import StructuredLogger

    lines = []
    receiver = FirehoseReceiver(str(tmp_path / "spool")).start()
    _post_envelope(receiver.url, "/aws/app", ["m1", "m2"])
    receiver.stop()
    out_dir = tmp_path / "bulk"
    out_dir.mkdir()
    sink = BulkSink("http://fake:9200", "logs", _file_transport(str(out_dir), status=lambda n: 429 if n < 2 else 200))
    q = run_service(spark, receiver.spool_dir, sink, checkpoint_dir=str(tmp_path / "ckpt"),
                    logger=StructuredLogger("ingest", level="info", sink=lines.append))
    q.awaitTermination()

    (done,) = [r for r in map(json.loads, lines) if r["event"] == "batch_done"]
    assert done["n_chunks"] == 1 and done["n_items"] == 2
    assert done["retries"] == 2
    assert done["post_s"] >= 0.3  # 0.1 s + 0.2 s of backoff
    assert len(_delivered(str(out_dir))) == 2
