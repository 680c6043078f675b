"""Shared pieces of the benchmark: the Spark session, percentiles, layer
spans around public functions, and per-job-group Spark status scrapes."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np


def cores() -> int:
    return os.cpu_count() or 1


def start_spark():
    """The engine's own session factory at local[<cores>]; ``get_spark``
    defaults to 32 cores, so the count is passed explicitly."""
    from kinesis2elastic_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values))


class Spans:
    """Wall time of named layers, taken around calls from outside."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[layer] += time.perf_counter() - t0

    def wrap(self, owner, attr: str, layer: str) -> None:
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(layer):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, inner))

    def unwrap(self) -> None:
        for owner, attr, inner in reversed(self._patched):
            setattr(owner, attr, inner)
        self._patched.clear()


def measure(round_fn, seconds: float, min_rounds: int, trace: bool) -> tuple[list, list]:
    """Measured rounds for ``seconds``, at least ``min_rounds`` untraced
    ones; returns (untraced, traced).  A round that would not end within
    ``seconds``, judged by the median round so far, is not started, so a
    run's length varies little.  With ``trace`` untraced and traced
    rounds alternate in pairs, each pair in the other order, and stop after
    whole ABBA blocks, so the traced layer sums can be set against the
    untraced wall of the same stretch of time even while the JIT still
    speeds rounds up.  A traced run reports layer shares, not end-to-end
    medians, so one block is enough for it.
    ``round_fn(index, traced)`` runs one round."""
    plain: list = []
    traced: list = []
    walls: list[float] = []
    need = 2 if trace else min_rounds
    t_start = time.time()

    def more() -> bool:
        if len(plain) < need or (trace and len(plain) % 2):
            return True
        # with trace, a new ABBA block is four rounds
        return time.time() - t_start + median(walls) * (4 if trace else 1) <= seconds

    while more():
        order = (False, True) if len(plain) % 2 == 0 else (True, False)
        for is_traced in order if trace else (False,):
            t0 = time.time()
            (traced if is_traced else plain).append(round_fn(len(plain) + len(traced), is_traced))
            walls.append(time.time() - t0)
    return plain, traced


class JobStats:
    """Jobs, stages, tasks, executor time and shuffle bytes of one Spark
    job group, read from the status tracker and the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    @staticmethod
    def _seq(seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def group(self, group_id: str, exclude: set[int] = frozenset(), timeout_s: float = 20.0) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0}
        deadline = time.time() + timeout_s
        seen_stages: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group_id):
            if job_id in exclude:
                continue
            job = self.store.job(job_id)
            # the listener bus is asynchronous: wait for the job-end event
            while not job.completionTime().isDefined() and time.time() < deadline:
                time.sleep(0.05)
                job = self.store.job(job_id)
            out["jobs"] += 1
            for stage_id in self._seq(job.stageIds()):
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                stage = self.store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["task_s"] += stage.executorRunTime() / 1000.0
                out["shuffle_mb"] += (stage.shuffleReadBytes() + stage.shuffleWriteBytes()) / 1e6
        return out


def add_stats(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def round_metrics(construct, execute, stats, layers_s, plain_wall, traced_wall, stage_s, rounds) -> dict:
    """The per-layer metrics every workload reports, per traced round:
    driver-side plan construction, the actions that run Spark jobs, the
    rest of the untraced wall, Spark's own job/stage/task/shuffle counts,
    how much of the untraced wall the traced layers cover, what tracing
    costs, and the one-off staging of the run's input.  ``plain_wall`` and
    ``traced_wall`` are medians per round; the other sums cover all
    ``rounds`` traced rounds."""
    n = float(rounds)
    return {
        "driver.construct_s": metric(construct / n, "s"),
        "spark.exec_s": metric(execute / n, "s"),
        "driver.other_s": metric(plain_wall - (construct + execute) / n, "s"),
        "spark.jobs": metric(stats.get("jobs", 0) / n, "count"),
        "spark.stages": metric(stats.get("stages", 0) / n, "count"),
        "spark.tasks": metric(stats.get("tasks", 0) / n, "count"),
        "spark.task_s": metric(stats.get("task_s", 0.0) / n, "s"),
        "spark.shuffle_mb": metric(stats.get("shuffle_mb", 0.0) / n, "MB"),
        "spark.exec_parallelism": metric(stats.get("task_s", 0.0) / execute if execute else 0.0, "ratio"),
        "trace.layers_sum_over_wall": metric(layers_s / n / plain_wall, "ratio"),
        "trace.tracing_overhead_s": metric(traced_wall - plain_wall, "s"),
        "setup.stage_s": metric(stage_s, "s"),
    }
