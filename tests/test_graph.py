"""PageRank invariants (rows-only query: iterative, no SQL oracle)."""

import pytest
from pyspark.sql import functions as F

from kinesis2elastic_spark.operators import graph


def test_pagerank_known_graph(spark):
    """3-node chain a→b→c with back-edge c→a: b and c get fed, a only by
    c; ranks must sum to 3 and c (fed by b which is fed by a) must beat
    a nothing-special baseline.  Against networkx-style reference values
    computed by hand for d=0.85: symmetric cycle → all ranks equal 1."""
    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in graph.pagerank(cycle).collect()}
    assert ranks.keys() == {"a", "b", "c"}
    for v in ranks.values():
        assert v == pytest.approx(1.0, abs=1e-4)


def test_pagerank_dangling_mass_conserved(spark):
    """a→b, b is dangling: total rank mass must stay = n_nodes, and the
    fed node must outrank the unfed one."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    ranks = {r.node: r.rank for r in graph.pagerank(edges).collect()}
    assert sum(ranks.values()) == pytest.approx(2.0, abs=1e-3)
    assert ranks["b"] > ranks["a"]


def test_pagerank_topk_invariants(spark, sf_dir):
    """Detailed ranking: top-k rows, every rank >= (1-d), deterministic
    ordering."""
    df = graph.pagerank_topk(spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 25
    assert all(r.rank >= (1 - graph.PR_DAMPING) - 1e-9 for r in rows)
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_q_pagerank_self_check_flags(spark, sf_dir):
    """Contract query: one row, exact node count, every invariant flag
    TRUE (mass conservation, teleport floor, hub dominance)."""
    row = graph.q_pagerank(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_nodes > 0
    assert r.mass_conserved_ok and r.teleport_floor_ok and r.hub_outranks_ok


def _py_bfs(edges, seeds, max_hops):
    """Pure-Python BFS reference: exact min hop distance <= max_hops."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, max_hops + 1):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = hop
                    nxt.add(m)
        if not nxt:
            break
        frontier = nxt
    return dist


def test_bfs_reachability_matches_python_bfs(spark):
    """Diamond + chain + disconnected island: min-dist semantics, depth
    cutoff, and unreachable exclusion all match a pure-Python BFS."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),  # diamond: d at 2
        ("d", "e"), ("e", "f"), ("f", "g"),               # chain past cutoff
        ("x", "y"),                                       # island, unreachable
        ("b", "a"),                                       # back-edge: no revisit
    ]
    seeds = ["a"]
    for max_hops in (1, 3, 6):
        got = {
            r.node: r.dist
            for r in graph.bfs_reachability(
                spark.createDataFrame(edges, "src string, dst string"),
                spark.createDataFrame([(s,) for s in seeds], "node string"),
                max_hops,
            ).collect()
        }
        assert got == _py_bfs(edges, seeds, max_hops), max_hops


def test_bfs_seed_overlap_and_multi_seed(spark):
    """A node reachable from two seeds keeps dist 0 if it IS a seed; the
    closest seed wins otherwise."""
    edges = [("s1", "m"), ("m", "s2"), ("s2", "t")]
    got = {
        r.node: r.dist
        for r in graph.bfs_reachability(
            spark.createDataFrame(edges, "src string, dst string"),
            spark.createDataFrame([("s1",), ("s2",)], "node string"),
            4,
        ).collect()
    }
    assert got == {"s1": 0, "s2": 0, "m": 1, "t": 1}


def test_q_graph_reach_levels(spark, sf_dir):
    """Contract query: level 0 = exactly the seed suppliers; bipartite
    alternation (even levels are suppliers, odd are customers)."""
    rows = graph.q_graph_reach(spark, sf_dir).collect()
    by_dist = {r.dist: r for r in rows}
    assert 0 in by_dist and by_dist[0].first_node.startswith("s")
    for r in rows:
        prefix = "s" if r.dist % 2 == 0 else "c"
        assert r.first_node.startswith(prefix) and r.last_node.startswith(prefix)
        assert r.n_nodes > 0


def _py_lpa(edges, rounds):
    """Pure-Python synchronous LPA reference matching the kernel's
    directed semantics: a node's new label is the most frequent among
    its IN-neighbors' labels (ties to the minimum label), all nodes
    updated simultaneously, and a node with no in-edges keeps its
    label."""
    radj = {}
    nodes = set()
    for s, d in edges:
        nodes.update((s, d))
        radj.setdefault(d, set()).add(s)
    labels = {n: n for n in nodes}
    for _ in range(rounds):
        nxt = {}
        for n in nodes:
            ins = radj.get(n)
            if not ins:
                nxt[n] = labels[n]
                continue
            counts = {}
            for m in ins:
                lab = labels[m]
                counts[lab] = counts.get(lab, 0) + 1
            nxt[n] = min(counts, key=lambda lab: (-counts[lab], lab))
        labels = nxt
    return labels


def test_label_propagation_matches_python_reference(spark):
    """Planted communities: two 4-cliques bridged by one edge must end in
    two different labels, and every node's label must equal the pure-
    Python synchronous reference for 1..3 rounds."""
    import itertools

    a = [f"a{i}" for i in range(4)]
    b = [f"b{i}" for i in range(4)]
    und = (
        [(x, y) for x, y in itertools.permutations(a, 2)]
        + [(x, y) for x, y in itertools.permutations(b, 2)]
        + [("a0", "b0"), ("b0", "a0")]
    )
    edges = spark.createDataFrame(und, "src string, dst string")
    for rounds in (1, 2, 3):
        got = {
            (r.node, r.label)
            for r in graph.label_propagation(edges, rounds).collect()
        }
        want = set(_py_lpa(und, rounds).items())
        assert got == want, rounds
    final = dict(_py_lpa(und, 3))
    assert {final[x] for x in a} != {final[x] for x in b}


def test_q_label_prop_partition_invariants(spark, sf_dir):
    """Communities partition the node set: member counts sum to the graph's
    node count, every community's label is one of its own members'
    min/max range, and at least two communities survive 3 rounds on the
    bipartite trade graph."""
    rows = graph.q_label_prop(spark, sf_dir).collect()
    n_nodes = (
        graph._trade_edges(spark, sf_dir)
        .select(F.col("src").alias("node"))
        .distinct()
        .count()
    )
    assert sum(r.n_members for r in rows) == n_nodes
    assert len(rows) >= 2
    for r in rows:
        assert r.first_member <= r.last_member


def test_label_propagation_directed_carry_forward(spark):
    """General DIRECTED input (the r9 review finding): the node universe
    is src ∪ dst, labels flow along edge direction, and a node with no
    in-edges keeps its own label instead of vanishing from the output."""
    und = [("a", "b"), ("b", "c")]
    edges = spark.createDataFrame(und, "src string, dst string")
    for rounds in (1, 2):
        got = {
            (r.node, r.label)
            for r in graph.label_propagation(edges, rounds).collect()
        }
        assert got == set(_py_lpa(und, rounds).items()), rounds
    # explicit round-2 expectation: a keeps 'a'; b <- a; c <- b's round-1
    # label which was already 'a'
    assert dict(_py_lpa(und, 2)) == {"a": "a", "b": "a", "c": "a"}


def test_connected_components_planted_topology(spark):
    """B137: planted multi-component graph — a 5-node chain (tests deep
    propagation: min id at one end must travel the whole diameter), a
    triangle, an isolated edge, and a self-loop — every node must carry
    its component's MIN id."""
    edges = spark.createDataFrame(
        [
            # chain z5-z4-z3-z2-a1 (min "a1" sits at one END: needs 4 rounds)
            ("z5", "z4"), ("z4", "z3"), ("z3", "z2"), ("z2", "a1"),
            # triangle
            ("m1", "m2"), ("m2", "m3"), ("m3", "m1"),
            # isolated edge
            ("q1", "q2"),
            # self-loop (degenerate single-node component)
            ("s1", "s1"),
        ],
        "src string, dst string",
    )
    comp = {
        r.node: r.component
        for r in graph.connected_components_exact(edges).collect()
    }
    assert comp == {
        "z5": "a1", "z4": "a1", "z3": "a1", "z2": "a1", "a1": "a1",
        "m1": "m1", "m2": "m1", "m3": "m1",
        "q1": "q1", "q2": "q1",
        "s1": "s1",
    }


def test_connected_components_matches_python_reference(spark):
    """Property-style check on a deterministic pseudo-random graph vs a
    pure-Python union-find."""
    import hashlib

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    edges = []
    for i in range(120):
        a, b = h(i) % 60, h(i * 7 + 1) % 60
        edges.append((f"n{a:02d}", f"n{b:02d}"))

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonicalize: component id = min member id
    want = {}
    for n in parent:
        members = [m for m in parent if find(m) == find(n)]
        want[n] = min(members)

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.component
        for r in graph.connected_components_exact(df).collect()
    }
    assert got == want


def test_q_connected_components_invariants(spark, sf_dir):
    """Contract query: the rows form a partition of the node universe
    (sizes sum to the distinct node count), every canonical_id_ok flag
    is TRUE, and component ids are distinct."""
    rows = graph.q_connected_components(spark, sf_dir).collect()
    assert rows, "sparse trade subgraph must be non-empty"
    assert all(r.canonical_id_ok for r in rows)
    ids = [r.component for r in rows]
    assert len(ids) == len(set(ids))
    n_nodes = (
        graph._trade_edges_sparse(spark, sf_dir)
        .selectExpr("src AS node")
        .unionByName(
            graph._trade_edges_sparse(spark, sf_dir).selectExpr("dst AS node")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_members for r in rows) == n_nodes


def test_logstar_long_path_beats_diameter_bound(spark):
    """B139: a 120-node path has diameter 119 — far past what a
    min-propagation round budget should chase — and must converge in
    O(log n) pair-rounds with every node labeled by the path's min."""
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(119)],
        "src string, dst string",
    )
    comp = {
        r.node: r.component
        for r in graph.connected_components_logstar(edges, max_rounds=10).collect()
    }
    assert len(comp) == 120
    assert set(comp.values()) == {"n000"}


def test_logstar_matches_exact_kernel_and_unionfind(spark):
    """B139 vs B137 vs pure-Python union-find on a deterministic
    pseudo-random graph (the two Spark kernels are independent
    algorithms — rewiring vs propagation — so agreement is a strong
    check on both)."""
    import hashlib

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    edges = [
        (f"n{h(i) % 80:02d}", f"n{h(i * 13 + 5) % 80:02d}") for i in range(90)
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in list(parent):
        members = [m for m in parent if find(m) == find(n)]
        want[n] = min(members)

    df = spark.createDataFrame(edges, "src string, dst string")
    got_star = {
        r.node: r.component
        for r in graph.connected_components_logstar(df).collect()
    }
    got_prop = {
        r.node: r.component
        for r in graph.connected_components_exact(df).collect()
    }
    assert got_star == want
    assert got_prop == want


def test_logstar_planted_topology(spark):
    """B139 on the B137 planted graph (chain + triangle + isolated edge
    + self-loop): identical labeling."""
    edges = spark.createDataFrame(
        [
            ("z5", "z4"), ("z4", "z3"), ("z3", "z2"), ("z2", "a1"),
            ("m1", "m2"), ("m2", "m3"), ("m3", "m1"),
            ("q1", "q2"),
            ("s1", "s1"),
        ],
        "src string, dst string",
    )
    comp = {
        r.node: r.component
        for r in graph.connected_components_logstar(edges).collect()
    }
    assert comp == {
        "z5": "a1", "z4": "a1", "z3": "a1", "z2": "a1", "a1": "a1",
        "m1": "m1", "m2": "m1", "m3": "m1",
        "q1": "q1", "q2": "q1",
        "s1": "s1",
    }


def test_triangle_counts_planted(spark):
    """B141: K4 (every node in 3 triangles), one standalone triangle
    (1 each), a 4-cycle (0 — absent from output), a pendant edge."""
    k4 = [("k1", "k2"), ("k1", "k3"), ("k1", "k4"),
          ("k2", "k3"), ("k2", "k4"), ("k3", "k4")]
    tri = [("t1", "t2"), ("t2", "t3"), ("t1", "t3")]
    square = [("s1", "s2"), ("s2", "s3"), ("s3", "s4"), ("s4", "s1")]
    pendant = [("t1", "p9")]
    df = spark.createDataFrame(k4 + tri + square + pendant, "a string, b string")
    got = {r.node: r.n_tri for r in graph.triangle_counts(df).collect()}
    assert got == {
        "k1": 3, "k2": 3, "k3": 3, "k4": 3,
        "t1": 1, "t2": 1, "t3": 1,
    }


def test_triangle_counts_skewed_hub(spark):
    """Degree-ordered orientation: a star hub (degree 40) with one rim
    edge has exactly 1 triangle — and the hub's orientation must not
    blow the wedge space (correctness check; the bound itself is the
    plan's job)."""
    star = [("hub", f"r{i:02d}") for i in range(40)]
    rim = [("r00", "r01")]
    df = spark.createDataFrame(star + rim, "a string, b string")
    got = {r.node: r.n_tri for r in graph.triangle_counts(df).collect()}
    assert got == {"hub": 1, "r00": 1, "r01": 1}



def test_triangle_counts_symmetrized_input(spark):
    """r11 ADVICE: the kernel advertises a generic undirected edge list,
    so a symmetrized (both directions) or reversed-pair input — plus a
    planted self-loop — must produce the SAME counts as the canonical
    a<b form, not doubled degrees / duplicated oriented edges."""
    tri = [("t1", "t2"), ("t2", "t3"), ("t1", "t3")]
    sym = tri + [(b, a) for a, b in tri] + [("t1", "t1")]
    canon = {r.node: r.n_tri
             for r in graph.triangle_counts(
                 spark.createDataFrame(tri, "a string, b string")).collect()}
    messy = {r.node: r.n_tri
             for r in graph.triangle_counts(
                 spark.createDataFrame(sym, "a string, b string")).collect()}
    assert canon == messy == {"t1": 1, "t2": 1, "t3": 1}


def test_kcore_planted_peeling(spark):
    """B144 (k=2): a pendant chain peels away layer by layer, the
    triangle and 4-cycle survive with induced degree 2, and the flag
    reports convergence."""
    edges = spark.createDataFrame(
        [
            ("m1", "m2"), ("m2", "m3"), ("m3", "m1"),   # triangle
            ("m1", "c1"), ("c1", "c2"),                 # pendant chain
            ("s1", "s2"), ("s2", "s3"), ("s3", "s4"), ("s4", "s1"),  # 4-cycle
        ],
        "src string, dst string",
    )
    core, converged = graph.kcore_membership(edges, k=2, rounds=8)
    got = {r.node: r.core_degree for r in core.collect()}
    assert converged
    assert got == {
        "m1": 2, "m2": 2, "m3": 2,
        "s1": 2, "s2": 2, "s3": 2, "s4": 2,
    }


def test_kcore_not_converged_flag(spark):
    """B144: a long chain needs one peel round per end-layer — with a
    1-round budget the flag must say NOT converged (and the partial
    peel is exactly one layer deep)."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    core, converged = graph.kcore_membership(
        spark.createDataFrame(chain, "src string, dst string"), k=2, rounds=1
    )
    assert not converged
    # after one round only the two endpoints have peeled
    assert {r.node for r in core.collect()} == {f"n{i}" for i in range(1, 6)}


def test_scc_planted_cycles_and_dag(spark):
    """B146: a 2-cycle and a 3-cycle collapse to min-member ids, DAG
    chain nodes stay singletons, cross-SCC edges don't merge — and the
    condensation respects direction (y->z alone is NOT a cycle)."""
    edges = [
        ("a", "b"), ("b", "a"),                       # 2-cycle
        ("c", "d"), ("d", "e"), ("e", "c"),           # 3-cycle
        ("x", "y"), ("y", "z"),                       # DAG chain
        ("b", "c"), ("z", "a"),                       # cross-SCC edges
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.scc_id for r in graph.scc_decomposition(df).collect()}
    assert got == {
        "a": "a", "b": "a",
        "c": "c", "d": "c", "e": "c",
        "x": "x", "y": "y", "z": "z",
    }


def test_scc_directed_path_is_all_singletons(spark):
    """B146 DAG adversary: an 8-node directed path has NO cycles — every
    node is its own SCC regardless of id order (both orientations)."""
    up = [(f"n{i}", f"n{i+1}") for i in range(8)]
    down = [(f"n{i+1}", f"n{i}") for i in range(8)]
    for edges in (up, down):
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.scc_id for r in graph.scc_decomposition(df).collect()}
        assert got == {f"n{i}": f"n{i}" for i in range(9)}


def test_scc_on_symmetric_graph_equals_cc(spark):
    """B146 invariant: on a symmetrized edge list, SCCs ARE the
    connected components — the directed kernel must agree with B137's
    undirected one node-for-node."""
    base = [("p", "q"), ("q", "r"), ("s", "t"), ("u", "u2"), ("u2", "v")]
    sym = base + [(b, a) for a, b in base]
    df = spark.createDataFrame(sym, "src string, dst string")
    scc = {r.node: r.scc_id for r in graph.scc_decomposition(df).collect()}
    cc = {
        r.node: r.component
        for r in graph.connected_components_exact(df).collect()
    }
    assert scc == cc


def test_condensation_levels_planted(spark):
    """B147: SCCs collapse, then longest-path depth from sources — the
    2-cycle {a,b} sits downstream of both the 3-cycle {c,d,e} (via e->a)
    and the chain x->y->z->a, so its depth is the LONGEST incoming path
    (4 via the chain), not the shortest (2 via the cycle)."""
    edges = [
        ("c", "d"), ("d", "e"), ("e", "c"),   # 3-cycle, a source SCC
        ("a", "b"), ("b", "a"),               # 2-cycle
        ("e", "a"),                           # cycle -> cycle (depth 1 path)
        ("x", "y"), ("y", "z"), ("z", "a"),   # 4-node path into the 2-cycle
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    comp = graph.scc_decomposition(df)
    got = {
        r.scc_id: r.depth
        for r in graph.condensation_levels(df, comp).collect()
    }
    assert got == {"c": 0, "x": 0, "y": 1, "z": 2, "a": 3}


def test_condensation_levels_cycle_guard(spark):
    """B147: a labeling that is NOT a condensation (cycle survives the
    collapse) must fail loud, not loop or return garbage."""
    import pytest as _pytest

    edges = [("a", "b"), ("b", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    fake = spark.createDataFrame(
        [("a", "a"), ("b", "b")], "node string, scc_id string"
    )
    with _pytest.raises(RuntimeError, match="not a condensation"):
        graph.condensation_levels(df, fake, max_depth=6)


def test_sssp_cheap_detour_beats_direct_edge(spark):
    """B151: weighted relaxation must prefer a cheaper multi-hop path
    over a direct heavy edge (the case hop-count BFS gets wrong), take
    the min over parallel edges, and leave unreachable nodes out."""
    edges = spark.createDataFrame(
        [
            ("a", "b", 5),   # direct but heavy
            ("a", "c", 1),
            ("c", "b", 1),   # a->c->b costs 2 < 5
            ("a", "c", 9),   # parallel edge: min(1, 9) must win
            ("x", "y", 1),   # disconnected from the seed
        ],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    dist = {
        r.node: r.dist
        for r in graph.sssp_weighted(edges, seeds, max_rounds=8).collect()
    }
    assert dist == {"a": 0, "c": 1, "b": 2}


def test_sssp_multi_seed_and_fail_loud(spark):
    """B151: multi-seed takes the nearest seed per node; a budget too
    small for the weighted hop diameter raises instead of returning
    partially relaxed distances."""
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 1) for i in range(6)],
        "src string, dst string, w long",
    )
    seeds2 = spark.createDataFrame([("n0",), ("n6",)], "node string")
    dist = {
        r.node: r.dist
        for r in graph.sssp_weighted(chain, seeds2, max_rounds=8).collect()
    }
    # directed chain: n6 is a seed at 0; others measured from n0
    assert dist["n0"] == 0 and dist["n3"] == 3 and dist["n6"] == 0
    with pytest.raises(RuntimeError):
        seeds1 = spark.createDataFrame([("n0",)], "node string")
        graph.sssp_weighted(chain, seeds1, max_rounds=3)


def test_trustrank_spam_cluster_gets_no_trust(spark):
    """B154: a densely self-linked cluster unreachable from the seeds
    receives ZERO trust (the TrustRank property plain PageRank lacks),
    rank frames stay sparse (only reached nodes present), dangling mass
    re-teleports to seeds, and the result matches a driver-side
    reference iteration of the same recurrence to 1e-9."""
    edges = spark.createDataFrame(
        [
            ("a", "b"),
            ("b", "c"),  # c is dangling: its mass re-teleports to the seed
            ("s1", "s2"),
            ("s2", "s1"),  # spam farm: high mutual linkage, no seed path
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r.node: r.rank
        for r in graph.personalized_pagerank(edges, seeds, iters=6).collect()
    }
    assert set(got) == {"a", "b", "c"}  # sparse: spam nodes ABSENT, not 0.0
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    # reference: same recurrence, dense dict arithmetic
    d, tele = 0.85, 1.0
    out = {"a": ["b"], "b": ["c"], "s1": ["s2"], "s2": ["s1"]}
    r = {"a": tele}
    for _ in range(6):
        contrib = {}
        for u, rank in r.items():
            for v in out.get(u, []):
                contrib[v] = contrib.get(v, 0.0) + d * rank / len(out[u])
        dangling = sum(rank for u, rank in r.items() if u not in out)
        seed_mass = (1 - d) * tele + d * dangling * tele
        r = dict(contrib)
        r["a"] = r.get("a", 0.0) + seed_mass
    for node, want in r.items():
        assert got[node] == pytest.approx(want, abs=1e-9), node
    with pytest.raises(ValueError):
        graph.personalized_pagerank(
            edges, spark.createDataFrame([], "node string")
        )


def test_trustrank_isolated_seed_mass_conserved(spark):
    """r12 (r11 ADVICE): a seed that appears NOWHERE in the edge list is
    dangling — its parked teleport mass must re-teleport like any other
    dangling node, keeping Σrank = 1 exactly.  The r11 dst-only dangling
    probe leaked this mass (Σrank < 1 whenever a seed is isolated)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    # two seeds: one on the graph, one fully isolated
    seeds = spark.createDataFrame([("a",), ("z",)], "node string")
    got = {
        r.node: r.rank
        for r in graph.personalized_pagerank(edges, seeds, iters=8).collect()
    }
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the isolated seed keeps receiving its teleport share (never zero)
    assert got["z"] > 0.0
    # reference recurrence with z dangling
    d, tele = 0.85, 0.5
    out = {"a": ["b"], "b": ["a"]}
    r = {"a": tele, "z": tele}
    for _ in range(8):
        contrib = {}
        for u, rank in r.items():
            for v in out.get(u, []):
                contrib[v] = contrib.get(v, 0.0) + d * rank / len(out[u])
        dangling = sum(rank for u, rank in r.items() if u not in out)
        seed_mass = (1 - d) * tele + d * dangling * tele
        r = dict(contrib)
        for s in ("a", "z"):
            r[s] = r.get(s, 0.0) + seed_mass
    for node, want in r.items():
        assert got[node] == pytest.approx(want, abs=1e-9), node


def test_double_sweep_finds_path_diameter(spark):
    """B156: on a path whose MIN-id node sits mid-path, the first sweep
    underestimates the diameter (ecc of the middle = half) and the
    second sweep from the farthest node recovers it exactly — the
    double-sweep property the probe's kernel_choice policy rests on."""
    from pyspark.sql import functions as F

    # path: b0 - b1 - a - b2 - b3 - b4; min id 'a' is 2 from the left
    # end, 3 from the right -> ecc(a)=3, true diameter 5
    chain = ["b0", "b1", "a", "b2", "b3", "b4"]
    e = [(chain[i], chain[i + 1]) for i in range(5)]
    sym = spark.createDataFrame(
        e + [(d, s) for s, d in e], "src string, dst string"
    ).withColumn("w", F.lit(1).cast("long"))
    seed0 = sym.agg(F.min("src")).first()[0]
    assert seed0 == "a"
    b1 = graph.sssp_weighted(
        sym, spark.createDataFrame([(seed0,)], "node string"), max_rounds=16
    )
    far = b1.orderBy(F.col("dist").desc(), F.col("node").asc()).limit(1).first()
    assert far["dist"] == 3  # single sweep underestimates
    b2 = graph.sssp_weighted(
        sym, spark.createDataFrame([(far["node"],)], "node string"), max_rounds=16
    )
    assert b2.agg(F.max("dist")).first()[0] == 5  # double sweep exact on paths
    assert b2.count() == 6  # sweep 2 covers the whole component


def test_numeric_node_ids_do_not_overflow_int32_keys(spark, tmp_path):
    """Int32 keys ≥ 2^30: the BIGINT node ids 2k / 2k+1 and the SSSP
    weight's key sum are computed in 64 bits, so they neither wrap nor
    raise, and the ids decode back to the original keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cust, supp = 2**30 + 5, 2**31 - 2  # supp % CC_SUPP_MOD == 0: kept by the sparse graph
    i32 = pa.int32()
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([1], i32),
            "l_suppkey": pa.array([supp], i32),
            "l_quantity": pa.array([float(graph.CC_QTY)]),
        }),
        tmp_path / "lineitem.parquet",
    )
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1], i32), "o_custkey": pa.array([cust], i32)}),
        tmp_path / "orders.parquet",
    )
    d = str(tmp_path)
    c_id, s_id = 2 * cust, 2 * supp + 1
    both = {(c_id, s_id), (s_id, c_id)}

    sym = graph._trade_edges(spark, d, numeric=True)
    assert {(r.src, r.dst) for r in sym.collect()} == both
    sparse = graph._trade_edges_sparse(spark, d, numeric=True)
    assert {(r.src, r.dst) for r in sparse.collect()} == {(c_id, s_id)}
    weighted = graph._trade_edges_weighted(spark, d, numeric=True)
    w = 1 + (cust + supp) % graph.SSSP_W_MOD
    assert {(r.src, r.dst, r.w) for r in weighted.collect()} == {(a, b, w) for a, b in both}
    decoded = {r.n for r in sym.select(graph._node_str(F.col("src")).alias("n")).collect()}
    assert decoded == {f"c{cust}", f"s{supp}"}
