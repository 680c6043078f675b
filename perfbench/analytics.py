"""Workload ``analytics``: batch queries from the ``bench.py`` headline
set, one per operator module that owns headline queries, each forced with
a noop write, plus a DuckDB control over the same tables in the same run.

It bypasses the service layers entirely, so an ingest change must show no
change here."""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from common import JobStats, Spans, add_stats, cores, measure, median, metric, round_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
# the first pass compiles and the JIT settles over the second; later passes
# are measured, and each query's wall is its median over them
WARMUP_PASSES = 2
MIN_PASSES = 3
# DuckDB's twins of these are regex-bound (seconds each at 4 threads): they
# would make the control a regex timer, so they are not run at all and
# their row counts go unchecked.
CONTROL_EXCLUDED = {"q_grok", "q_pipeline_axway"}


def stage(dst: str, seed: int) -> float:
    """The committed sf0.01 tables with every table's rows in a seeded order."""
    t0 = time.perf_counter()
    os.makedirs(dst)
    for k, name in enumerate(sorted(os.listdir(DATA))):
        table = pq.read_table(os.path.join(DATA, name))
        order = np.random.default_rng([seed, k]).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(dst, name))
    return time.perf_counter() - t0


# One headline query per operator module: the one with the smallest wall
# at sf0.01 on 4 cores, so a pass fits the run.
PREFERRED = {
    "q_window_running", "q_grok", "q_binary_source", "q_dedup_exact", "q_sql_q5",
    "q_asof_join", "q_skew_salted_agg", "q_doc_chunk", "q_scd2_history", "q_sql_q9",
    "q_triangle_count", "q_seq_pattern", "q_stats_prune", "q_delta_read",
}


def query_set() -> list[tuple[str, str, object]]:
    """(name, owning module, callable) of the ``bench.HEADLINE`` entries in
    ``PREFERRED``, in headline order: one per module that owns headline
    queries."""
    import __spark_entry__ as entry
    import bench

    owner = {}
    for mod in entry._collect_modules():
        for name in mod.QUERIES:
            owner.setdefault(name, mod.__name__.rsplit(".", 1)[-1])
    registry = entry.queries()
    chosen = [(n, owner[n], registry[n]) for n in bench.HEADLINE if n in PREFERRED]
    modules = [m for _n, m, _fn in chosen]
    if len(chosen) != len(PREFERRED) or sorted(modules) != sorted({owner[n] for n in bench.HEADLINE}):
        raise RuntimeError("PREFERRED must name one bench.HEADLINE query per owning module")
    return chosen


def run(spark, work: str, seed: int, seconds: float, trace: bool) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    sf_dir = os.path.join(work, "sf")
    stage_s = stage(sf_dir, seed)
    queries = query_set()
    sc = spark.sparkContext
    spans = Spans()
    jobs = JobStats(spark)
    run_tag = f"{seed}-{os.getpid()}"

    def one(pass_no: int, traced: bool, name: str, module: str, fn) -> dict:
        group = f"perfbench-analytics-{run_tag}-{pass_no}-{name}"
        sc.setJobGroup(group, name)
        obs = Observation(name)
        span = spans.span if traced else (lambda _layer: nullcontext())
        t0 = time.perf_counter()
        with span(f"operators.{module}.construct"):
            df = fn(spark, sf_dir)
        with span(f"operators.{module}.exec"):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        return {"name": name, "module": module, "wall": wall, "rows": obs.get["rows"], "group": group}

    def one_pass(pass_no: int, traced: bool) -> dict:
        t0 = time.perf_counter()
        results = [one(pass_no, traced, *q) for q in queries]
        wall = time.perf_counter() - t0
        if traced:  # read now: the status store drops old stages
            for r in results:
                r["stats"] = jobs.group(r["group"])
        return {"wall": wall, "results": results}

    t_warm = time.perf_counter()
    warm = [one_pass(-1 - k, False) for k in range(WARMUP_PASSES)]
    warmup_s = time.perf_counter() - t_warm
    plain, traced = measure(one_pass, seconds, MIN_PASSES, trace)

    # DuckDB control, once per run, over the same staged tables
    import duckdb

    from kinesis2elastic_spark.catalog import TABLES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads={cores()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    duck_rows, duck_s = {}, {}
    for name, _module, _fn in queries:
        if name not in oracles or name in CONTROL_EXCLUDED:
            continue
        t0 = time.perf_counter()
        duck_rows[name] = len(con.execute(oracles[name]).fetchall())
        duck_s[name] = time.perf_counter() - t0
    con.close()

    results = [r for p in warm + plain + traced for r in p["results"]]
    failed = sum(1 for r in results if r["name"] in duck_rows and r["rows"] != duck_rows[r["name"]])
    walls = {name: median([r["wall"] for p in plain for r in p["results"] if r["name"] == name]) for name, *_ in queries}
    detail = {
        "queries": [q[0] for q in queries],
        "passes": len(plain),
        "pass_wall_s": [p["wall"] for p in plain],
        "query_wall_s": walls,
        "total_s": sum(walls.values()),
        "duckdb_s": duck_s,
        "duckdb_control_s": sum(duck_s.values()),
        "spark_over_duckdb": sum(walls[n] for n in duck_s) / sum(duck_s.values()),
        "rows": {r["name"]: r["rows"] for r in plain[-1]["results"]},
        "duckdb_rows": duck_rows,
    }
    layers = None
    if trace:
        n = len(traced)
        modules: dict[str, dict] = {}
        for p in traced:
            for r in p["results"]:
                add_stats(modules.setdefault(r["module"], {}), r["stats"])
        totals: dict = {}
        for stats in modules.values():
            add_stats(totals, stats)
        for module, stats in modules.items():
            for k in stats:
                stats[k] /= n
            stats["construct_s"] = spans.seconds[f"operators.{module}.construct"] / n
            stats["s"] = stats["construct_s"] + spans.seconds[f"operators.{module}.exec"] / n
        construct = sum(v for k, v in spans.seconds.items() if k.endswith(".construct"))
        execute = sum(v for k, v in spans.seconds.items() if k.endswith(".exec"))
        layers = round_metrics(
            construct, execute, totals, construct + execute,
            median([p["wall"] for p in plain]), median([p["wall"] for p in traced]), stage_s, n,
        )
        detail["modules"] = modules
        detail["traced_pass_wall_s"] = [p["wall"] for p in traced]
    return {
        "attempted": len(results),
        "failed": failed,
        "correct": failed == 0,
        "setup_parts": {"stage_s": stage_s, "warmup_s": warmup_s},
        "e2e": {"throughput_per_s": metric(len(queries) / sum(walls.values()), "1/s")},
        "layers": layers,
        "detail": detail,
    }
