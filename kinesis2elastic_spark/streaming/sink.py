"""Bulk-index sink (SURVEY §2 A5-A7): the OpenSearch BulkIndexer re-expressed
as a partition-parallel ``foreachBatch`` writer.

Reference behavior reproduced (main.go:399-451, 546-584):

- bulk bodies chunked by BYTES (flushBytes=5 MB, main.go:46) — not row
  count, because document sizes vary wildly in log data;
- retry with exponential backoff on 429/502/503/504 (main.go:402-412);
- basic-auth passthrough (main.go:321-323);
- ingest pipeline name attached as a request parameter (main.go:437).

Deliberate improvements (documented deviations):

- **deterministic _id** per document (the reference indexes with no _id,
  main.go:555-559, so Firehose redelivery duplicates documents; we derive
  _id from the logEvent id / a digest → at-least-once delivery becomes
  effectively-once);
- **no commit without delivery**: a chunk still refused after
  ``MAX_RETRIES`` (a non-2xx status) makes :meth:`BulkSink.write_batch`
  raise :class:`BulkDeliveryError`, so ``foreachBatch`` fails, Structured
  Streaming does not commit the offset, and the next run replays the
  batch (the deterministic _id keeps the replay idempotent).  Item-level
  failures inside a 2xx ``_bulk`` response (``errors: true``) are only
  surfaced, as the chunk's ``errors`` flag: they are neither retried nor
  dead-lettered yet.

Each stage of the batch DataFrame (:func:`document_id`, the serialization
in :meth:`BulkSink.serialize`) is one ``selectExpr`` of SQL text, compiled
once per input column list: a streaming query re-plans every batch, and
building the same expressions through per-column Column calls would cost
driver time on each.

Transport is injectable (any ``callable(url, body, headers) -> (status,
response_json)``) so tests run with a fake and production drops in an HTTP
client per executor (the per-request-client anti-pattern the reference's
author notes at main.go:422-423 becomes a per-partition session here).
Parallelism = one writer per partition inside ``foreachPartition`` — the
reference's 3 worker goroutines become |partitions| workers.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row

from ..schemas import sql_ident

DEFAULT_FLUSH_BYTES = 5_000_000  # main.go:46
RETRY_STATUSES = {429, 502, 503, 504}  # main.go:412
MAX_RETRIES = 5

Transport = Callable[[str, bytes, dict], tuple[int, dict]]


def make_bulk_chunks(
    docs: Iterator[tuple[str, str]], flush_bytes: int = DEFAULT_FLUSH_BYTES
) -> Iterator[tuple[bytes, int]]:
    """Pack (doc_id, json_doc) pairs into (_bulk NDJSON body, n_items)
    tuples capped at ``flush_bytes`` (one chunk may exceed it only if a
    single doc does).  The item count is tracked while packing — scanning
    the body for ``{"index"`` afterwards would miscount any document whose
    own JSON text contains that substring."""
    buf: list[bytes] = []
    size = 0
    n_items = 0
    for doc_id, doc_json in docs:
        action = json.dumps({"index": {"_id": doc_id}}).encode() + b"\n"
        line = action + doc_json.encode() + b"\n"
        if buf and size + len(line) > flush_bytes:
            yield b"".join(buf), n_items
            buf, size, n_items = [], 0, 0
        buf.append(line)
        size += len(line)
        n_items += 1
    if buf:
        yield b"".join(buf), n_items


def post_with_retry(
    transport: Transport,
    url: str,
    body: bytes,
    headers: dict,
    max_retries: int = MAX_RETRIES,
    base_delay: float = 0.1,
    sleep=time.sleep,
) -> tuple[int, dict, int]:
    """Exponential backoff on overload statuses (main.go:402-412).
    Returns the last (status, response) and the number of attempts."""
    attempt = 0
    while True:
        status, resp = transport(url, body, headers)
        if status not in RETRY_STATUSES or attempt >= max_retries:
            return status, resp, attempt + 1
        sleep(base_delay * (2**attempt))
        attempt += 1


def http_transport(url: str, body: bytes, headers: dict) -> tuple[int, dict]:
    """Stdlib production transport: one POST, returns (status, json body).
    Module-level (not a closure) so a BulkSink carrying it pickles into
    executor tasks; connection pooling beyond keep-alive is the cluster
    HTTP client's job — this is the dependency-free default used by the
    in-sandbox e2e (tests/test_sink.py) and small deployments."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            payload = resp.read()
            status = resp.status
    except urllib.error.HTTPError as e:  # non-2xx still carries a body
        payload = e.read()
        status = e.code
    try:
        return status, json.loads(payload or b"{}")
    except ValueError:
        return status, {"errors": status >= 400, "raw": payload[:200].decode("utf-8", "replace")}


class BulkDeliveryError(RuntimeError):
    """Chunks of a batch still had a non-2xx status after their retries;
    ``results`` holds every chunk summary of the batch."""

    def __init__(self, message: str, results: list[dict]):
        super().__init__(message)
        self.results = results


@functools.lru_cache(maxsize=64)
def _serialize_exprs(columns: tuple[str, ...], id_col: str) -> tuple[str, str]:
    payload = ", ".join(sql_ident(c) for c in columns if c != id_col)
    return f"CAST({sql_ident(id_col)} AS STRING) AS {sql_ident(id_col)}", f"to_json(struct({payload})) AS doc_json"


@functools.lru_cache(maxsize=64)
def _document_id_exprs(columns: tuple[str, ...], event_id_col: str) -> tuple[str, ...]:
    digest = f"md5(CAST(to_json(struct({', '.join(map(sql_ident, columns))})) AS BINARY))"
    id_expr = f"coalesce({event_id_col}, {digest}) AS _id"
    kept = tuple(id_expr if c == "_id" else sql_ident(c) for c in columns)
    return kept if "_id" in columns else (*kept, id_expr)


class BulkSink:
    """Byte-capped, retrying, idempotent bulk writer for foreachBatch."""

    def __init__(
        self,
        url: str,
        index: str,
        transport: Transport,
        pipeline: str | None = "one-pipeline-to-rule-them-all",  # main.go:144
        auth_b64: str | None = None,
        flush_bytes: int = DEFAULT_FLUSH_BYTES,
        id_col: str = "_id",
    ):
        self.url = url.rstrip("/")
        self.index = index
        self.transport = transport
        self.pipeline = pipeline
        self.auth_b64 = auth_b64
        self.flush_bytes = flush_bytes
        self.id_col = id_col

    def bulk_url(self) -> str:
        u = f"{self.url}/{self.index}/_bulk"
        if self.pipeline:
            u += f"?pipeline={self.pipeline}"
        return u

    def headers(self) -> dict:
        h = {"Content-Type": "application/x-ndjson"}
        if self.auth_b64:
            # X-Amz-Firehose-Access-Key passthrough → Basic (main.go:321-323)
            h["Authorization"] = f"Basic {self.auth_b64}"
        return h

    def write_partition(self, rows: Iterator[Row]) -> Iterator[dict]:
        """Runs on the executor.  Yields per-chunk result summaries: the
        final status, the item count, the response's item-error flag
        (surfaced, not acted on), the retries and the seconds spent
        posting, backoff included."""
        url, headers, fb = self.bulk_url(), self.headers(), self.flush_bytes
        docs = ((r[self.id_col], r["doc_json"]) for r in rows)
        for chunk, n_items in make_bulk_chunks(docs, fb):
            t0 = time.perf_counter()
            status, resp, attempts = post_with_retry(self.transport, url, chunk, headers)
            yield {
                "status": status,
                "n_items": n_items,
                "errors": resp.get("errors", status >= 400),
                "retries": attempts - 1,
                "post_s": time.perf_counter() - t0,
            }

    def serialize(self, batch_df: DataFrame) -> DataFrame:
        """(string _id, doc_json) per document, nulls stripped — the
        reference's recursive null-scrub script, axway-ingest.json:137-143,
        is a serialization concern: Spark's to_json omits null fields."""
        return batch_df.selectExpr(*_serialize_exprs(tuple(batch_df.columns), self.id_col))

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> list[dict]:
        """foreachBatch entry: serialize the documents (which carry their
        deterministic _id), write partition-parallel, and return the chunk
        summaries.  Raises :class:`BulkDeliveryError` when a chunk was not
        delivered, so the batch is not committed."""
        results = self.serialize(batch_df).rdd.mapPartitions(
            lambda rows: self.write_partition(rows)
        ).collect()
        failed = [r["status"] for r in results if not 200 <= r["status"] < 300]
        if failed:
            raise BulkDeliveryError(
                f"{len(failed)} of {len(results)} bulk chunks not delivered (statuses {sorted(set(failed))})",
                results,
            )
        return results


def document_id(df: DataFrame, event_id_col: str = "record.data.logEvents.id") -> DataFrame:
    """Deterministic _id: the logEvent id when present (unused by the
    reference, incoming/firehose.go:41 — promoting it to _id is the
    idempotency fix), else a digest of the serialized document.
    ``event_id_col`` is SQL text (backtick-quote a flat dotted-path name);
    an existing ``_id`` column is replaced in place."""
    return df.selectExpr(*_document_id_exprs(tuple(df.columns), event_id_col))
