"""Per-kernel exchange-count regression sweep (r11 VERDICT #6).

The r11 pin()-loses-partitioning bug added one silent ENSURE_REQUIREMENTS
hash exchange to EVERY loop round of EVERY iterative kernel — caught by
a single plan test on a synthetic join.  This sweep locks the doctrine
in on the REAL kernels: ``plans.pinning.plan_audit`` captures the
physical plan of every frame the kernel pins, and the budgets below are
the calibrated shuffle counts of the current (judge-audited) plans on
fixed planted graphs.  A pin() refactor that re-introduces a per-round
exchange inflates the TOTAL by ~the round count and trips the budget;
the per-plan MAX guards against a single round silently going quadratic
in exchanges (e.g. a lost co-partitioning on the state-merge join).

Budgets are ceilings (≈10% above calibration), not equalities — minor
optimizer drift across Spark versions must not flake the suite.
"""

import re

import pytest

from kinesis2elastic_spark.operators import graph, llmops
from kinesis2elastic_spark.plans.pinning import plan_audit

_PATH = [(f"a{i}", f"a{i+1}") for i in range(6)]
_SYM = _PATH + [(b, a) for a, b in _PATH]
_TRI = [("x", "y"), ("y", "z"), ("z", "x")]


def _shuffles(plan: str) -> int:
    all_ids = set(re.findall(r"(?<!Reused)Exchange \((\d+)\)", plan))
    bcast = set(re.findall(r"BroadcastExchange \((\d+)\)", plan))
    return len(all_ids - bcast)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def _seeds(spark, ns):
    return spark.createDataFrame([(n,) for n in ns], "node string")


CASES = [
    # (name, runner, max_per_pinned_plan, total_budget)
    # lpa/cc/scc budgets tightened in r14: pin() keeps the whole
    # PartitioningCollection, so the alias-member ENSURE_REQUIREMENTS
    # exchange the early rounds used to pay is gone (LPA 17→9, CC 15→9,
    # SCC 41→27 audited; see plans/pinning.py)
    # bfs/lpa/ppr/sssp/scc budgets tightened in r15: kernel-init dedups
    # fused into the loop-layout repartition (distinct-then-repartition
    # paid a session-width exchange plus the repartition; ADVICE r14)
    ("bfs", lambda s: graph.bfs_reachability(_edges(s, _SYM), _seeds(s, ["a0"]), 8).count(), 2, 11),
    ("lpa", lambda s: graph.label_propagation(_edges(s, _SYM)).count(), 2, 9),
    ("cc", lambda s: graph.connected_components_exact(_edges(s, _SYM)).count(), 3, 10),
    ("logstar", lambda s: graph.connected_components_logstar(_edges(s, _SYM)).count(), 5, 35),
    ("kcore", lambda s: graph.kcore_membership(_edges(s, _SYM + _TRI + [(b, a) for a, b in _TRI]))[0].count(), 2, 9),
    # pagerank tightened in r14: contributions repartition to the pinned
    # hash(node)@parts layout before the sum, so the agg runs in place
    # and the rank-merge join is co-partitioned (62→23 audited, 1
    # exchange per iteration)
    ("pagerank", lambda s: graph.pagerank(_edges(s, _PATH)).count(), 3, 26),
    ("ppr", lambda s: graph.personalized_pagerank(_edges(s, _PATH), _seeds(s, ["a0"])).count(), 4, 20),
    # sssp tightened in r14: full-universe replaced-state dist makes the
    # merge a partitioning-preserving LEFT join (the old full-outer
    # reported UnknownPartitioning, so round plans grew 1→2→3→4
    # exchanges across each cadence window; 26→12 audited)
    ("sssp", lambda s: graph.sssp_weighted(
        s.createDataFrame([(a, b, 2) for a, b in _SYM], "src string, dst string, w long"),
        _seeds(s, ["a0"]),
    ).count(), 2, 12),
    ("scc", lambda s: graph.scc_decomposition(_edges(s, _PATH + [("a3", "a0")])).count(), 3, 28),
    # condensation: a planted DAG (the path plus a shortcut, so depth is
    # the LONGEST path) under the identity SCC labeling; calibrated per-pin
    # [6, 1, 1, 1, 0, 1, 1, 0, 1, 1, 0, 1] = 15 — the first pin maps the
    # edges through the unpartitioned labeling, then 1 exchange per round
    ("condensation", lambda s: graph.condensation_levels(
        _edges(s, _PATH + [("a0", "a3")]),
        s.createDataFrame([(f"a{i}", f"a{i}") for i in range(7)], "node string, scc_id string"),
    ).count(), 6, 17),
    # llm_cc added in r15: the near-dup CC kernel's labels init now rides
    # the pinned symmetric edge list's hash(b) layout with ZERO exchanges
    # (select b == select a on a symmetrized list; calibrated per-pin
    # [0, 1, 0, 1×n-rounds], max 1)
    ("llm_cc", lambda s: llmops.connected_components(
        s.createDataFrame([(i, i + 1) for i in range(6)], "doc_a long, doc_b long")
    ).count(), 1, 9),
]


@pytest.mark.parametrize("name,run,max_plan,total_budget", CASES, ids=[c[0] for c in CASES])
def test_kernel_exchange_budget(spark, name, run, max_plan, total_budget):
    with plan_audit() as plans:
        run(spark)
    assert plans, f"{name}: kernel pinned nothing — audit hook broken?"
    per = [_shuffles(p) for p in plans]
    assert max(per) <= max_plan, (name, per)
    assert sum(per) <= total_budget, (name, per, sum(per))
