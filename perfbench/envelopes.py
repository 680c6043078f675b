"""Seeded Firehose envelope generator for the ingest workload.

Every envelope is a Firehose request ``{requestId, timestamp, records}``
whose records carry base64(gzip(CloudWatch Logs payload)).  The message mix:

- access-log lines in an ``/aws/axway/*`` group, matched by the grok of the
  ``SPEC`` in ``tests/test_pipeline_dsl.py``;
- garbage lines in the same group (grok miss, dead-lettered by the spec's
  ``on_failure``);
- JSON messages in other groups (routed past the enrich pipeline);
- one record with bad base64 and one with bad gzip per envelope
  (dead-lettered by decode).

The same seed gives the same envelopes byte for byte.  :class:`Truth`
carries what the delivered documents must contain.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import json
import random
from dataclasses import dataclass, field

from kinesis2elastic_spark.sources.geoip import SYNTH_RANGES

AXWAY_GROUPS = ("/aws/axway/gateway", "/aws/axway/portal")
OTHER_GROUPS = ("/aws/app/orders", "/aws/app/billing")
STATUSES = (200, 200, 200, 201, 204, 301, 304, 404, 500, 503)
METHODS = ("GET", "GET", "POST", "PUT", "DELETE")
PATHS = ("/api/v1/items", "/api/v1/items.json", "/api/v2/orders", "/health", "/static/app.js")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

GROK_MISS = "grok: no match for field [records.data.logEvents.message.text]"
BAD_BASE64 = "base64 decode failed"
BAD_GZIP = "gzip decompress failed"

# Firehose buffers until 1 MB or 60 s, whichever comes first (BufferingHints
# in the reference deployment), so 1 MB caps an envelope.  The size used
# here is a quarter of that cap, the 60 s flush of a slower stream;
# perfbench/README.md says why.
ENVELOPE_BYTES = 250_000
# The mix below is synthetic; perfbench/README.md says what each part
# exercises.  Each envelope holds one record with bad base64 and one with
# bad gzip, at these positions: a dead letter carries only the requestId,
# the envelope time and the reason, so two of one kind in one envelope
# would be the same document.
BAD_RECORDS = {7: BAD_BASE64, 31: BAD_GZIP}
# One axway line in this many is garbage.
GARBAGE_EVERY = 29


@dataclass
class Truth:
    """Expected delivery for a set of envelopes.

    ``events`` maps each logEvent id to the fields its document must carry
    (absent keys must be absent from the document).  ``dead_records`` maps
    (requestId, reason) to how many undecodable records the envelope held;
    each becomes one document with that ``decode.error``."""

    events: dict[str, dict] = field(default_factory=dict)
    dead_records: dict[tuple[str, str], int] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.events) + sum(self.dead_records.values())

    def dead_letters(self) -> dict[str, int]:
        """Planted dead-letter count by reason."""
        out: dict[str, int] = {}
        for (_rid, reason), n in self.dead_records.items():
            out[reason] = out.get(reason, 0) + n
        for exp in self.events.values():
            if "error.message" in exp:
                out[exp["error.message"]] = out.get(exp["error.message"], 0) + 1
        return out

    def merge(self, other: Truth) -> None:
        self.events.update(other.events)
        for k, n in other.dead_records.items():
            self.dead_records[k] = self.dead_records.get(k, 0) + n


def _country(ip: str) -> str | None:
    a, b, c, d = (int(p) for p in ip.split("."))
    n = a * 16777216 + b * 65536 + c * 256 + d
    for lo, hi, country, *_ in SYNTH_RANGES:
        if lo <= n <= hi:
            return country
    return None


def _access_line(rng: random.Random) -> tuple[str, dict]:
    status = rng.choice(STATUSES)
    ip = f"10.{rng.randrange(200)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    line = (
        f"gw{rng.randrange(1, 40):02d}.example.com - user{rng.randrange(500)} "
        f"[{rng.randrange(1, 29):02d}/{rng.choice(MONTHS)}/2026:"
        f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d} +0000]  "
        f'"{rng.choice(METHODS)} {rng.choice(PATHS)}?q={rng.randrange(10**6)} HTTP/1.1" '
        f"{status} {rng.randrange(100, 90000)} {rng.randrange(1, 3000)} "
        f'"{ip},10.0.0.1" client-{rng.randrange(1000)} txn-{rng.getrandbits(24):06x} '
        f"corr-{rng.getrandbits(32):08x}"
    )
    expected = {
        "http.response.status_code": status,
        "event.outcome": "success" if status < 400 else "failure",
    }
    country = _country(ip)
    if country is not None:
        expected["source.geo.country_iso_code"] = country
    return line, expected


def _payload(rng: random.Random, group: str, events: list[dict]) -> bytes:
    body = {
        "messageType": "DATA_MESSAGE",
        "owner": "123456789012",
        "logGroup": group,
        "logStream": f"stream-{rng.randrange(8)}",
        "subscriptionFilters": ["firehose"],
        "logEvents": events,
    }
    # mtime=0: the gzip header carries no clock, so bytes depend on the seed only
    return gzip.compress(json.dumps(body).encode(), mtime=0)


def envelope(seed: int, index: int, n_events: int, ts_ms: int) -> tuple[dict, Truth]:
    """Envelope number ``index`` of the stream for ``seed``: records of
    ``n_events`` logEvents each, every logEvent stamped ``ts_ms``, added
    until the next record would take the body past ``ENVELOPE_BYTES``, the way
    Firehose fills its buffer.  Content depends on (seed, index) only."""
    rng = random.Random(f"{seed}:{index}")
    rid = hashlib.sha1(f"req:{seed}:{index}".encode()).hexdigest()[:32]
    truth = Truth()
    records: list[dict] = []
    size = len(json.dumps({"requestId": rid, "timestamp": ts_ms, "records": []}))
    while True:
        r = len(records)
        ordinal = index * 10_000 + r
        dead = BAD_RECORDS.get(r)
        if dead == BAD_BASE64:
            record, expected_events = {"data": "not*base64*" + "%08x" % rng.getrandbits(32)}, {}
        elif dead == BAD_GZIP:
            record = {"data": base64.b64encode(b"plain bytes, no gzip magic " + bytes(8)).decode()}
            expected_events = {}
        else:
            axway = ordinal % 3 != 2
            group = rng.choice(AXWAY_GROUPS if axway else OTHER_GROUPS)
            events, expected_events = [], {}
            for e in range(n_events):
                ev_id = f"{seed}-{index}-{r}-{e}"
                if not axway:
                    msg = json.dumps(
                        {"level": rng.choice(("info", "warn", "error")), "order": rng.randrange(10**6)}
                    )
                    expected: dict = {}
                elif (ordinal * n_events + e) % GARBAGE_EVERY == 0:
                    msg, expected = f"GARBAGE NOT A LOG LINE {rng.getrandbits(32):08x}", {"error.message": GROK_MISS}
                else:
                    msg, expected = _access_line(rng)
                events.append({"id": ev_id, "timestamp": ts_ms, "message": msg})
                expected_events[ev_id] = expected
            record = {"data": base64.b64encode(_payload(rng, group, events)).decode()}
        size += len(json.dumps(record)) + 2
        if size > ENVELOPE_BYTES:
            break
        records.append(record)
        if dead is not None:
            truth.dead_records[(rid, dead)] = truth.dead_records.get((rid, dead), 0) + 1
        truth.events.update(expected_events)
    env = {"requestId": rid, "timestamp": ts_ms, "records": records}
    return env, truth


def firehose_body(env: dict) -> bytes:
    """The gzip-encoded POST body a Firehose delivery stream sends."""
    return gzip.compress(json.dumps(env).encode(), mtime=0)
