"""Workload ``ingest_drain``: a backlog of Firehose envelopes, POSTed to a
running ``FirehoseReceiver`` at set-up, then drained by
``run_service(available_now=True)`` into the local ``_bulk`` stub.

One drain is one micro-batch over the whole spool: the batch's Spark job,
which decodes, interprets and sinks every document, takes about two thirds
of a drain, and driver-side plan construction the rest."""

from __future__ import annotations

import hashlib
import os
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from bulkstub import BulkStub, check, parse
from common import JobStats, Spans, add_stats, cores, measure, median, metric, pct, round_metrics
from envelopes import Truth, envelope, firehose_body

# The independently authored ingest-pipeline spec the interpreter tests run.
from tests.test_pipeline_dsl import SPEC

ENTRY = "route"
# One envelope per core: the file source makes one task of each.
N_ENVELOPES = 4
EVENTS_PER_RECORD = 100
# the first drain compiles and the JIT settles over the next two
WARMUP_DRAINS = 3
MIN_DRAINS = 3
# every logEvent carries the same event time: the backlog is all due at once
EVENT_TS_MS = 1_790_000_000_000

TRIGGER_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "latestOffset",
    "getBatch",
    "walCommit",
    "commitOffsets",
)
# The sink write runs the batch's Spark job; every other layer only builds
# the plan on the driver.
EXEC_LAYER = "streaming.sink.BulkSink.write_batch"
CONSTRUCT_LAYERS = (
    "streaming.windows.stream_envelopes",
    "operators.decode.decode_envelopes",
    "service.flatten_for_pipeline",
    "operators.pipeline_dsl.PipelineInterpreter.run",
    "streaming.sink.document_id",
    "metrics.with_doc_metrics",
)


def trace_layers(spans: Spans) -> None:
    """Wrap each layer's public function where ``run_service`` looks it up."""
    from kinesis2elastic_spark import service
    from kinesis2elastic_spark.operators.pipeline_dsl import PipelineInterpreter
    from kinesis2elastic_spark.streaming.sink import BulkSink

    for layer in CONSTRUCT_LAYERS:
        name = layer.rsplit(".", 1)[1]
        spans.wrap(PipelineInterpreter if name == "run" else service, name, layer)
    spans.wrap(BulkSink, "write_batch", EXEC_LAYER)


def trigger_phases(progress: list[dict]) -> dict:
    """p50 of each ``durationMs`` phase over the micro-batches that read
    rows, plus the batch count and the p50 rows per batch."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict = {"batches": len(batches)}
    for phase in TRIGGER_PHASES:
        out[phase] = median([p["durationMs"].get(phase, 0) for p in batches])
    out["rows_per_batch_p50"] = median([p["numInputRows"] for p in batches])
    return out


def scrape(url: str) -> dict:
    """``/firehose`` request counters from the receiver's ``/metrics``."""
    with urllib.request.urlopen(url + "/metrics", timeout=10) as resp:
        text = resp.read().decode()
    out = {"requests": 0.0, "rejected": 0.0}
    for line in text.splitlines():
        if line.startswith('k2e_http_requests_total{path="/firehose"'):
            value = float(line.rsplit(" ", 1)[1])
            out["requests"] += value
            if 'status="200"' not in line:
                out["rejected"] += value
    return out


def stage(spool_dir: str, bodies: list[tuple[str, bytes]]) -> tuple[float, dict, str]:
    """POST each body to a fresh receiver spooling into ``spool_dir``, one
    connection per core.  Returns the seconds the POSTs took, the
    receiver's request counters and a digest of the spooled bytes."""
    from kinesis2elastic_spark.sources.firehose import FirehoseReceiver

    def post(item: tuple[str, bytes]) -> None:
        rid, body = item
        req = urllib.request.Request(
            receiver.url + "/firehose",
            data=body,
            method="POST",
            headers={
                "Content-Type": "application/json",
                "Content-Encoding": "gzip",
                # a fixed request id keeps the spooled bytes a function of the seed
                "X-Amz-Firehose-Request-Id": rid,
            },
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            resp.read()

    receiver = FirehoseReceiver(spool_dir).start()
    try:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(min(cores(), len(bodies))) as pool:
            list(pool.map(post, bodies))
        seconds = time.perf_counter() - t0
        counters = scrape(receiver.url)
    finally:
        receiver.stop()
    digests = []
    for name in os.listdir(spool_dir):
        with open(os.path.join(spool_dir, name), "rb") as f:
            digests.append(hashlib.sha256(f.read()).hexdigest())
    return seconds, counters, hashlib.sha256("".join(sorted(digests)).encode()).hexdigest()


def generate(seed: int) -> tuple[Truth, list[tuple[str, bytes]]]:
    truth = Truth()
    bodies = []
    for i in range(N_ENVELOPES):
        env, t = envelope(seed, i, EVENTS_PER_RECORD, EVENT_TS_MS)
        truth.merge(t)
        bodies.append((env["requestId"], firehose_body(env)))
    return truth, bodies


def run(spark, work: str, seed: int, seconds: float, trace: bool) -> dict:
    from kinesis2elastic_spark.service import run_service
    from kinesis2elastic_spark.sources.geoip import synthetic_geoip_dim
    from kinesis2elastic_spark.streaming.sink import BulkSink, http_transport

    t_gen = time.perf_counter()
    truth, bodies = generate(seed)
    gen_s = time.perf_counter() - t_gen
    spool = os.path.join(work, "spool")
    stage_s, counters, fingerprint = stage(spool, bodies)

    stub = BulkStub()
    sink = BulkSink(stub.url, "logs", http_transport)
    geoip = synthetic_geoip_dim(spark)
    spans = Spans()
    jobs = JobStats(spark)

    def drain(index: int, traced: bool) -> dict:
        if traced:
            trace_layers(spans)
        try:
            t0 = time.time()
            q = run_service(
                spark, spool, sink, pipelines=SPEC, entry_pipeline=ENTRY, geoip_dim=geoip,
                checkpoint_dir=os.path.join(work, f"ckpt-{index}"), available_now=True,
            )
            q.awaitTermination()
            wall = time.time() - t0
        finally:
            spans.unwrap()
        delivered = parse(stub.take())
        # Keep only summaries: holding every drain's parsed documents would
        # grow the heap this process collects while the next drains run.
        return {
            # read now: the status store drops old stages
            "stats": jobs.group(str(q.runId)) if traced else None,
            "wall": wall,
            "docs": len(delivered["ids"]),
            "latency_ms": [(t - t0) * 1000.0 for t in delivered["received"].values()],
            "posts": delivered["posts"],
            "bytes": delivered["bytes"],
            "verdict": check(delivered, truth),
            "progress": q.recentProgress,
        }

    try:
        t_warm = time.perf_counter()
        warm = [drain(-1 - k, False) for k in range(WARMUP_DRAINS)]
        warmup_s = time.perf_counter() - t_warm
        plain, traced = measure(drain, seconds, MIN_DRAINS, trace)
    finally:
        stub.close()

    # the same seed staged again, outside the timed set-up: the spool must
    # come out byte for byte the same
    again = stage(os.path.join(work, "spool-again"), generate(seed)[1])[2]
    rounds = plain + traced
    attempted = truth.n_docs * (len(rounds) + len(warm))
    failed = sum(r["verdict"]["wrong"] for r in warm + rounds)
    rates = [r["docs"] / r["wall"] for r in plain]
    detail = {
        "docs_per_drain": truth.n_docs,
        "drains": len(plain),
        "drain_wall_s": [r["wall"] for r in plain],
        "docs_per_s": rates,
        # per document, drain start to its bulk receipt: p50 per drain,
        # median over drains (documents arrive at the end of a drain)
        "doc_receipt_p50_ms": median([pct(r["latency_ms"], 50) for r in plain]),
        "generate_s": gen_s,
        "sources.firehose": dict(counters, post_s=stage_s, envelopes=N_ENVELOPES),
        "spool_deterministic": fingerprint == again,
        "dead_letters_planted": truth.dead_letters(),
        "dead_letters_delivered": plain[-1]["verdict"]["dead_letters"],
        "posts_per_drain": plain[-1]["posts"],
        "bulk_mb_per_drain": plain[-1]["bytes"] / 1e6,
        "trigger_p50_ms": trigger_phases([p for r in plain for p in r["progress"]]),
    }
    layers = None
    if trace:
        stats: dict = {}
        for r in traced:
            add_stats(stats, r["stats"])
        construct = sum(spans.seconds[layer] for layer in CONSTRUCT_LAYERS)
        execute = spans.seconds[EXEC_LAYER]
        # the trigger phases outside addBatch: offsets, planning, commits
        outside_batch = sum(
            p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
            for r in traced
            for p in r["progress"]
        ) / 1000.0
        layers = round_metrics(
            construct, execute, stats, construct + execute + outside_batch,
            median([r["wall"] for r in plain]), median([r["wall"] for r in traced]), stage_s, len(traced),
        )
        detail["spans"] = {k: v / len(traced) for k, v in spans.seconds.items()}
        detail["traced_drain_wall_s"] = [r["wall"] for r in traced]
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0
        and detail["spool_deterministic"]
        and counters == {"requests": N_ENVELOPES, "rejected": 0}
        and detail["dead_letters_planted"] == detail["dead_letters_delivered"],
        "setup_parts": {"stage_s": stage_s, "warmup_s": warmup_s},
        "e2e": {"throughput_per_s": metric(median(rates), "1/s")},
        "layers": layers,
        "detail": detail,
    }
