"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  Workloads: ``ingest_drain`` and
``analytics`` (see perfbench/README.md).  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics; a detail record goes to stderr.
Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_drain", "analytics")


def sandbox(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isfile(os.path.join(ROOT, "kinesis2elastic_spark", "service.py")):
        print("perfbench: no kinesis2elastic_spark source next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sandbox(work)
    import common

    spark = None
    try:
        t0 = time.perf_counter()
        spark = common.start_spark()
        session_s = time.perf_counter() - t0
        if args.workload == "ingest_drain":
            import drain as workload
        else:
            import analytics as workload
        res = workload.run(spark, work, args.seed, args.seconds, bool(args.trace))
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    parts = dict(res["setup_parts"], session_s=session_s)
    setup_s = sum(parts.values())
    metrics = res["layers"] if args.trace else dict(setup_s=common.metric(setup_s, "s"), **res["e2e"])
    detail = dict(res["detail"], setup_parts=parts)
    print("perfbench detail: " + json.dumps(detail, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
