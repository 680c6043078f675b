"""Per-job attribution for one or more queries (r14 optimization round).

Runs each named query on a warm session, then dumps EVERY Spark job the
query launched (construct + noop write) with its description, duration,
and stage count, via the local UI REST API — per-job attribution that the
per-pass job, stage and task totals of ``perfbench/run.py --trace 1`` do
not give.

Usage: python tools/r14_jobdump.py [--sf DIR] q_name [q_name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def _spark_with_ui():
    """get_spark()'s config with the UI (REST API) enabled."""
    import os as _os

    from pyspark.sql import SparkSession

    from kinesis2elastic_spark.session import ship_package

    cpus = _os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("r14-jobdump")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    spark = _spark_with_ui()
    queries = entrymod.queries()
    sc = spark.sparkContext

    # warm like bench.py does
    spark.range(1000).count()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for name in names:
        try:
            queries[name](spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(f"WARM-FAIL {name}: {e}")

    for name in names:
        jobs_before = {j["jobId"] for j in _rest(spark, "jobs")}
        sc.setJobGroup(name, name)
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        t_construct = time.time() - t0
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        t_write = time.time() - t0
        sc.setJobGroup("idle", "idle")
        jobs = [
            j for j in _rest(spark, "jobs") if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        print(
            f"\n=== {name}: construct={t_construct:.3f}s write={t_write:.3f}s "
            f"jobs={len(jobs)} ==="
        )
        for j in jobs:
            dur = None
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                st = datetime.strptime(j["submissionTime"], fmt)
                ct = datetime.strptime(j["completionTime"], fmt)
                dur = (ct - st).total_seconds()
            except Exception:  # noqa: BLE001
                pass
            desc = (j.get("description") or j.get("name") or "")[:110]
            print(
                f"  job {j['jobId']:4d}  {dur if dur is not None else -1:7.3f}s  "
                f"stages={len(j.get('stageIds', []))} tasks={j.get('numTasks'):4d}  {desc}"
            )


if __name__ == "__main__":
    main()
