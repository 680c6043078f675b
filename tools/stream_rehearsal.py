"""Streaming-state rehearsal over ~20 micro-batches (r6 VERDICT #5).

Every q_stream_*_equiv correctness query drains exactly TWO micro-batches
and (for the joins) uses an over-span watermark as a determinism device.
This rehearsal measures what those gates don't: per-batch wall clock and
state-store growth/eviction at REALISTIC settings over a long drain.

Leg A — stream-stream event-time interval join (the B101 production
  shape: clicks x purchases, 120-min funnel window) with a 2-HOUR
  watermark, drained over ~20 time-ordered micro-batches of sf0.1
  events (each batch spans ~1.5 days, so the watermark clears each
  batch's join state almost entirely by the next).  Claim under test:
  join-state rows PLATEAU (eviction keeps pace) instead of accumulating
  the stream's history; per-batch wall stays flat.

Leg B — incremental MinHash dedup against the persisted band index
  (the B33 100-TB operating mode), drained over ~20 batches of sf0.1
  documents.  The index GROWS by design (it is the persisted corpus
  memory); the claim is that per-batch wall stays ~flat because the
  probe cost is bounded by the batch-side band fan and the hot-bucket
  guard, not by the index size.

Usage:  python tools/stream_rehearsal.py [--sf-dir DIR] [--batches N]
Prints a markdown table per leg (paste into SCALING.md) plus one JSON
summary line.  Work dirs under /tmp only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from kinesis2elastic_spark.catalog import load
from kinesis2elastic_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"
N_BATCHES = 20
WORK = "/tmp/k2e_stream_rehearsal"


def _write_time_batches(df, ts_col: str, src: str, n: int) -> list[int]:
    """Split df into n TIME-ORDERED equal-count batches; write each as
    parquet under src/batch_i but return paths without registering them —
    the drive loop moves one in per drain."""
    staged = os.path.join(WORK, "staged")
    counts = []
    b = df.withColumn("__b", F.ntile(n).over(Window.orderBy(ts_col)))
    b = b.localCheckpoint(eager=True)
    for i in range(1, n + 1):
        part = b.filter(F.col("__b") == i).drop("__b")
        part.coalesce(1).write.mode("overwrite").parquet(f"{staged}/b{i:02d}")
        counts.append(part.count())
    os.makedirs(src, exist_ok=True)
    return counts


def _admit(src: str, i: int) -> None:
    shutil.copytree(os.path.join(WORK, "staged", f"b{i:02d}"), os.path.join(src, f"b{i:02d}"))


def _drain_collect_progress(q) -> list[dict]:
    q.awaitTermination(600)
    return [json.loads(p.json()) if not isinstance(p, dict) else p for p in (q.recentProgress or [])]


def _state_rows(progresses: list[dict]) -> tuple[int, int, int]:
    """(max numRowsTotal, sum numRowsUpdated, sum numRowsRemoved) across
    the drain's micro-batches (data batch + trailing no-data batch)."""
    total = upd = rem = 0
    for p in progresses:
        for so in p.get("stateOperators") or []:
            total = max(total, so.get("numRowsTotal") or 0)
            upd += so.get("numRowsUpdated") or 0
            rem += so.get("numRowsRemoved") or 0
    return total, upd, rem


def leg_a_interval_join(spark, sf_dir: str, n_batches: int) -> list[dict]:
    root = os.path.join(WORK, "lega")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    src, out, ck = (os.path.join(root, d) for d in ("src", "out", "ck"))

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    counts = _write_time_batches(ev, "ts", src, n_batches)

    schema = "event_id long, user_id long, ts timestamp, event_type string"

    # Same join shape as q_stream_stream_join_equiv / stream_stream_join,
    # built inline with the REALISTIC 2h watermark (the equivalence query's
    # 366-day watermark is a determinism device, not a production setting).
    rows = []
    for i in range(1, n_batches + 1):
        _admit(src, i)
        clicks = (
            spark.readStream.schema(schema).parquet(src + "/*")
            .filter(F.col("event_type") == "click")
            .withWatermark("ts", "2 hours")
            .alias("c")
        )
        purch = (
            spark.readStream.schema(schema).parquet(src + "/*")
            .filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "2 hours")
            .alias("p")
        )
        cond = (
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 120 MINUTES"))
        )
        j = clicks.join(purch, cond, "inner").select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
        t0 = time.time()
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        prog = _drain_collect_progress(q)
        wall = time.time() - t0
        st_total, st_upd, st_rem = _state_rows(prog)
        rows.append(
            {
                "batch": i,
                "input_rows": counts[i - 1],
                "wall_sec": round(wall, 2),
                "state_rows_total": st_total,
                "state_rows_removed": st_rem,
            }
        )
        print(f"# legA batch {i}: {rows[-1]}", file=sys.stderr)
    return rows


def leg_b_incremental_dedup(spark, sf_dir: str, n_batches: int) -> list[dict]:
    from kinesis2elastic_spark.streaming.dedup_stream import incremental_dedup_stream

    root = os.path.join(WORK, "legb")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    src, state = os.path.join(root, "src"), os.path.join(root, "state")
    os.makedirs(src)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    per = -(-n_docs // n_batches)
    staged = os.path.join(WORK, "staged_docs")
    for i in range(n_batches):
        part = docs.filter((F.col("doc_id") >= i * per) & (F.col("doc_id") < (i + 1) * per))
        part.coalesce(1).write.mode("overwrite").parquet(f"{staged}/b{i:02d}")

    rows = []
    for i in range(n_batches):
        shutil.copytree(f"{staged}/b{i:02d}", f"{src}/b{i:02d}")
        t0 = time.time()
        q = (
            incremental_dedup_stream(
                spark,
                spark.readStream.schema("doc_id long, text string").parquet(src + "/*"),
                state,
            )
            .option("checkpointLocation", os.path.join(state, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        wall = time.time() - t0
        idx_path = os.path.join(state, "band_index")
        pairs_path = os.path.join(state, "pairs")
        idx_rows = spark.read.parquet(idx_path).count() if os.path.isdir(idx_path) else 0
        pair_rows = spark.read.parquet(pairs_path).count() if os.path.isdir(pairs_path) else 0
        rows.append(
            {
                "batch": i + 1,
                "wall_sec": round(wall, 2),
                "index_rows": idx_rows,
                "cum_pairs": pair_rows,
            }
        )
        print(f"# legB batch {i + 1}: {rows[-1]}", file=sys.stderr)
    return rows


def _md(rows: list[dict]) -> str:
    keys = list(rows[0].keys())
    out = ["| " + " | ".join(keys) + " |", "|" + "---|" * len(keys)]
    for r in rows:
        out.append("| " + " | ".join(str(r[k]) for k in keys) + " |")
    return "\n".join(out)


def main() -> None:
    sf_dir = SF_DIR
    n = N_BATCHES
    args = sys.argv[1:]
    if "--sf-dir" in args:
        sf_dir = args[args.index("--sf-dir") + 1]
    if "--batches" in args:
        n = int(args[args.index("--batches") + 1])
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark("k2e-stream-rehearsal", cpus="32")
    spark.sparkContext.setLogLevel("ERROR")

    a = leg_a_interval_join(spark, sf_dir, n)
    b = leg_b_incremental_dedup(spark, sf_dir, n)

    print("\n## Leg A: stream-stream interval join, 2h watermark\n")
    print(_md(a))
    print("\n## Leg B: incremental MinHash dedup vs persisted index\n")
    print(_md(b))
    half = n // 2
    summary = {
        "legA_state_rows_max_first_half": max(r["state_rows_total"] for r in a[:half]),
        "legA_state_rows_max_second_half": max(r["state_rows_total"] for r in a[half:]),
        "legA_wall_first_half": round(sum(r["wall_sec"] for r in a[:half]), 1),
        "legA_wall_second_half": round(sum(r["wall_sec"] for r in a[half:]), 1),
        "legB_wall_first_half": round(sum(r["wall_sec"] for r in b[:half]), 1),
        "legB_wall_second_half": round(sum(r["wall_sec"] for r in b[half:]), 1),
        "legB_index_rows_final": b[-1]["index_rows"],
    }
    print("\n" + json.dumps(summary))
    shutil.rmtree(WORK, ignore_errors=True)

    if "--assert" in args:
        # Repeatable gate (r7 VERDICT #7): the two SCALING.md §r7 claims,
        # checked mechanically so a state-plateau or per-batch-cost
        # regression fails THIS process loudly instead of needing a manual
        # table diff.  Thresholds are 1.5x halves — r7 measured ~1.01x on
        # both legs, so a trip means a real regression, not jitter.
        failures = []
        if summary["legA_state_rows_max_second_half"] > 1.5 * max(
            summary["legA_state_rows_max_first_half"], 1
        ):
            failures.append(
                "legA join state did NOT plateau: "
                f"{summary['legA_state_rows_max_first_half']} -> "
                f"{summary['legA_state_rows_max_second_half']} buffered rows "
                "(watermark eviction fell behind)"
            )
        if summary["legA_wall_second_half"] > 1.5 * summary["legA_wall_first_half"]:
            failures.append(
                "legA per-batch wall is trending up: halves "
                f"{summary['legA_wall_first_half']}s -> "
                f"{summary['legA_wall_second_half']}s"
            )
        if summary["legB_wall_second_half"] > 1.5 * summary["legB_wall_first_half"]:
            failures.append(
                "legB probe cost grew with the index: halves "
                f"{summary['legB_wall_first_half']}s -> "
                f"{summary['legB_wall_second_half']}s"
            )
        idx = [r["index_rows"] for r in b]
        if summary["legB_index_rows_final"] <= 0 or idx != sorted(idx):
            failures.append(f"legB band index not monotone/non-empty: {idx}")
        if failures:
            for msg in failures:
                print(f"ASSERT FAIL: {msg}", file=sys.stderr)
            sys.exit(1)
        print("ASSERT OK: state plateau + flat per-batch wall hold")


if __name__ == "__main__":
    main()
