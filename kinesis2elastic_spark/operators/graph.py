"""Graph-analytics operators over derived edge lists — the link-based
curation signals a crawl-scale training pipeline uses (PageRank-weighted
sampling of web documents is the classic example: rank the link graph,
weight the corpus mix by authority).

No reference parity (the reference has no graph surface; declared absent
in SURVEY §2) — this extends the LLM-data-pipeline surface alongside
``llmops.connected_components``.

Scale shape (100 TB posture): every kernel is an iterative DataFrame loop
over one pinned edge list —
- the edge list is the only large dataset; ``_loop_edges`` dedups it
  inside the one hash(src) exchange, sorts it in place and pins it, so
  every round's join reuses that layout without re-shuffling the edges;
- per-round state is two narrow columns (node, value), shuffled once per
  round to hash(node);
- lineage is truncated with ``pin`` — every round for accumulated state,
  on a cadence for replaced state — or the plan doubles per round and
  the 20th round recomputes the 1st;
- convergence is decided by an Observation riding a pin, never by
  collecting the state to the driver.

The fixpoints whose state is one value per node improved by the values
its in-neighbors offer (CC, SCC's directed reachability, condensation
layering, SSSP) run one loop, ``_relax``.  BFS (accumulated visited
union), LPA (fixed-round argmax), k-core (peeling), PageRank/PPR (power
iteration) and log-star CC (edge rewiring) keep their own loop bodies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..catalog import load, table_rows
from ..functions.hashing import md5_hex_sql, md5_prefix_long
from ..plans.pinning import pin

PR_DAMPING = 0.85
PR_MAX_ITER = 20
PR_TOL = 1e-6


def _static_loop(fn):
    """Run an iterative kernel's body (prep pins + every round's eager
    pin) with AQE disabled — see ``plans.pinning.static_loop_plan`` for
    the measurement and the at-scale argument (per-round driver
    re-optimization of fixed-shape, co-partitioned loop plans buys
    nothing and its cost does not amortize with data).  The kernel's
    RETURNED frame compiles at the caller's action with the session's
    normal config, so downstream consumers keep AQE."""
    import functools

    from ..plans.pinning import static_loop_plan

    @functools.wraps(fn)
    def wrapped(edges: DataFrame, *args, **kwargs):
        with static_loop_plan(edges.sparkSession):
            return fn(edges, *args, **kwargs)

    return wrapped



@_static_loop
def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    max_iter: int = PR_MAX_ITER,
    tol: float = PR_TOL,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """PageRank over a directed (src, dst) edge list → (node, rank).

    Standard power iteration with uniform teleport: every node (source or
    sink) gets rank mass; dangling nodes' mass is redistributed uniformly
    each round so total rank stays = n_nodes (the invariant the pytest
    asserts).

    r14 setup-job slimming (the LPA/CC family discipline, guide §1.3):
    with a caller-provided ``n_edges_hint`` the dedup fuses into the one
    hash(src) co-partitioning exchange (no separate distinct shuffle, no
    edge-count job), the node set derives in ONE explode pass instead of
    a two-branch union (Spark re-executes the shared subtree per
    branch), and the two driver scalars this kernel needs (n_nodes,
    has-dangling) ride the pins as Observations instead of separate
    count()/head() jobs."""
    # Size the loop's partitioning to the GRAPH (same rationale as
    # connected_components): every one of the max_iter iterations
    # schedules one task per partition per stage, so a derived graph far
    # smaller than its source table must not inherit the session's
    # shuffle width; the rows-per-partition target keeps huge edge lists
    # wide.  Joins against `links` then co-partition to this width too.
    edges, parts = _loop_edges(
        edges.select("src", "dst"),
        n_edges_hint,
        width=lambda spark, n: max(
            2, min(spark.sparkContext.defaultParallelism, n // 250_000 + 1)
        ),
    )
    obs_nodes = Observation()
    nodes = pin(
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .observe(obs_nodes, F.count(F.lit(1)).alias("n"))
    )
    # scalar driver value for the teleport math — rides the pin above
    n_nodes = int(obs_nodes.get["n"])
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # edges ⋈ out_deg is iteration-invariant: pre-join once and pin; both
    # sides already carry the pinned hash(src) layout, so the join (and
    # the per-iteration rank join against the result) is co-located
    links = pin(edges.join(out_deg, "src"))
    # dangling nodes (no out-edges) are a static node set: find them once;
    # per-iteration only their current rank mass needs summing, and only
    # if any exist (the bipartite trade graph has none → zero extra jobs)
    obs_dangling = Observation()
    dangling_nodes = pin(
        nodes.join(out_deg, nodes.node == out_deg.src, "left_anti").observe(
            obs_dangling, F.count(F.lit(1)).alias("n")
        )
    )
    has_dangling = int(obs_dangling.get["n"]) > 0

    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for it in range(max_iter):
        contribs = (
            links.join(ranks, links.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("out_deg")).alias("c"))
            # ONE exchange per round (r14, the CC/kcore discipline):
            # repartition to the pinned hash(node)@parts layout first —
            # the sum runs in place and the rank-merge join below is
            # co-partitioned with `nodes`.  Aggregating at session width
            # paid a second (and on the merge join a third) exchange
            # whenever the session shuffle width differs from ``parts``.
            .repartition(parts, "node")
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = 0.0
        if has_dangling:
            # mass parked on dangling nodes this round, redistributed uniformly
            dangling = (
                ranks.join(dangling_nodes, "node").agg(F.sum("rank").alias("m")).first().m
                or 0.0
            )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * (F.coalesce("contrib", F.lit(0.0)) + F.lit(dangling / n_nodes))
                ).alias("rank"),
            )
        )
        # truncate lineage every OTHER round: one checkpoint job per two
        # iterations halves fixed job overhead while keeping the plan
        # depth bounded (two chained iterations, not max_iter)
        if it % 2 == 1 or it == max_iter - 1:
            new_ranks = pin(new_ranks)
        prev = ranks
        ranks = new_ranks
        if tol > 0:  # tol=0 → fixed-iteration mode, no per-round delta job
            delta = (
                new_ranks.join(prev.withColumnRenamed("rank", "prev"), "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d"))
                .first()
                .d
            )
            if delta is not None and delta < tol * n_nodes:
                break
    return ranks


def _symmetrize(df: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """(a, b) pairs → both edge directions as (src, dst) in ONE pass:
    ``explode(array(struct(a,b), struct(b,a)))`` doubles rows inline
    (narrow, whole-stage codegen) instead of ``unionByName`` over the
    same subtree, which re-executes the upstream plan once per branch
    (r14, guide §2.4).  Extra columns (e.g. an edge weight) ride along."""
    extra = [c for c in df.columns if c not in (a, b)]
    both = F.explode(
        F.array(
            F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
            F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
        )
    ).alias("__e")
    return df.select(both, *extra).select("__e.src", "__e.dst", *extra)


def _cust_node(key: Column) -> Column:
    """Customer key k → BIGINT node id 2k.  The key is widened before the
    arithmetic: for an int32 key ≥ 2^30, ``k * 2`` would overflow int32."""
    return key.cast("long") * 2


def _supp_node(key: Column) -> Column:
    """Supplier key k → BIGINT node id 2k+1 (widened first, as
    :func:`_cust_node`)."""
    return key.cast("long") * 2 + 1


def _node_str(col: Column) -> Column:
    """Decode a numeric trade-graph node id back to its string form:
    2k → 'c'+k (customer), 2k+1 → 's'+k (supplier).  Pure integer bit
    ops (no float division), exact at any key magnitude."""
    return F.concat(
        F.when(col.bitwiseAND(F.lit(1)) == 1, F.lit("s")).otherwise(F.lit("c")),
        F.shiftright(col, 1).cast("string"),
    )


def _trade_edges(
    spark: SparkSession, sf_dir: str, dedup: bool = True, numeric: bool = False
) -> DataFrame:
    """Symmetric directed edge list of the customer↔supplier trade graph
    (bipartite, derived from orders⋈lineitem).  ``dedup=False`` skips the
    pair-distinct shuffle for kernels that fuse dedup into their own
    co-partitioning exchange (bfs_reachability/label_propagation/
    connected_components_exact with a width hint).

    ``numeric=True`` (r15, guide §2.3 narrower types): node ids as
    BIGINT under the bijection custkey→2k / suppkey→2k+1 instead of the
    'c<k>'/'s<k>' strings — 8-byte loop keys instead of ~10-byte UTF8,
    long joins/aggregates instead of string ones (min(string) forces
    SortAggregate; min(long) hash-aggregates), and the string concat
    drops out of the derivation.  Decode with ``_node_str``.  ONLY for
    consumers whose round logic is id-order-INDEPENDENT (BFS/SSSP dists,
    CC membership with an explicit end-of-loop representative fix-up) —
    LPA's per-round min-label tie-break and CC's in-loop representative
    follow the id ORDER, and the bijection is not lexicographic-order-
    preserving ('c123' < 'c45' as strings but 123 > 45), so order-
    dependent kernels keep strings."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    if numeric:
        trade = joined.select(
            _cust_node(F.col("o_custkey")).alias("cust"),
            _supp_node(F.col("l_suppkey")).alias("supp"),
        )
    else:
        trade = joined.select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cust"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("supp"),
        )
    if dedup:
        trade = trade.distinct()
    # one-pass symmetrization (r14, guide §2.4): the old
    # union(trade, transpose(trade)) executed the orders⋈lineitem join
    # subtree TWICE (Spark does not share common subtrees across union
    # branches); exploding a 2-element struct array emits both directions
    # in a single narrow pass over one join execution.
    return _symmetrize(trade, "cust", "supp")


def pagerank_topk(spark: SparkSession, sf_dir: str, top_k: int = 25) -> DataFrame:
    """Authority ranking over the trade graph: the top-``top_k`` nodes by
    rank (TakeOrderedAndProject — no global sort), rank rounded so ties
    break deterministically on node id.  Rank values are engine-local, so
    this detailed form is pytest-verified; the contract query
    ``q_pagerank`` reduces the same ranks to an oracle-checkable row.

    Fixed-iteration mode (tol=0): 8 power iterations rank this graph
    stably (d^8 ≈ 0.27 residual is far below the gaps between top-k
    ranks), and skipping the per-round delta aggregate keeps the query
    inside the driver's per-query budget — callers who need converged
    values use pagerank() directly with a tolerance."""
    ranks = pagerank(
        _trade_edges(spark, sf_dir),
        max_iter=8,
        tol=0.0,
        # parquet-footer width hint (the LPA/CC discipline): skips the
        # kernel's distinct+count setup jobs; the input is already
        # pair-distinct and the fused dropDuplicates keeps it so
        n_edges_hint=2 * table_rows(sf_dir, "lineitem"),
    )
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(top_k)
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B83 contract query, self-verifying (est_ok pattern): PageRank is
    iterative and its rank values engine-local, but its INVARIANTS are
    exact — so the query emits the node count (which the DuckDB oracle
    recomputes exactly from the same trade-graph definition) plus
    in-engine checks: Σrank = n_nodes within 1e-6·n, every rank ≥ (1−d)
    (the teleport floor), and the rank-argmax node sits in the top decile
    by degree (hubs must win).  A broken iteration (lost mass, negative
    contributions, degree-blind propagation) trips a flag; the driver's
    hash check then fails on FALSE ≠ TRUE."""
    edges = _trade_edges(spark, sf_dir)
    ranks = pagerank(
        edges,
        max_iter=8,
        tol=0.0,
        n_edges_hint=2 * table_rows(sf_dir, "lineitem"),
    )
    degrees = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    joined = ranks.join(degrees, "node")
    stats = joined.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("rank").alias("_sum_rank"),
        F.min("rank").alias("_min_rank"),
        F.max_by("degree", F.struct(F.col("rank"), F.col("node"))).alias("_hub_degree"),
        F.expr("percentile(degree, 0.9)").alias("_deg_p90"),
    )
    return stats.select(
        "n_nodes",
        (F.abs(F.col("_sum_rank") - F.col("n_nodes")) <= 1e-6 * F.col("n_nodes")).alias(
            "mass_conserved_ok"
        ),
        (F.col("_min_rank") >= F.lit(1.0 - PR_DAMPING) - 1e-9).alias("teleport_floor_ok"),
        (F.col("_hub_degree") >= F.col("_deg_p90")).alias("hub_outranks_ok"),
    )


REACH_MAX_HOPS = 4
REACH_SEED_MOD = 7  # seeds = suppliers with s_suppkey % 7 == 3: non-empty
REACH_SEED_REM = 3  # and ~1/7 of suppliers at EVERY scale factor


def _loop_parts(spark: SparkSession, n_edges: int) -> int:
    """Loop width for the FEW-round fixpoints (BFS, LPA): 50k
    rows/partition with a floor of 8, capped by the session (r9 A/B at
    sf0.1: widths 8/16/24 equivalent warm, the old 250k target's width-5
    pick costs 2-3x — a <=4-round loop has too few, too-short stages to
    amortize under-parallelism).  pagerank's 20-round loop deliberately
    keeps its own 250k sizing: with 5x the rounds, per-round scheduling
    overhead compounds and its stages amortize differently."""
    return max(8, min(spark.sparkContext.defaultParallelism, n_edges // 50_000 + 1))


def _loop_edges(edges: DataFrame, n_edges_hint: int | None, width=_loop_parts):
    """Edge prep of the pinned-edge loop kernels: a (src, dst) frame →
    (pinned edge list, loop width ``parts``).  Without a caller's
    ``n_edges_hint`` the edges are deduped and counted first to size the
    loop with ``width(spark, n_edges)`` (pagerank passes its own rule).

    The pinned list is hash(src)@parts partitioned, duplicate-free and
    sorted on src inside each partition:
    - the dedup is FUSED into the one co-partitioning exchange: hash(src)
      co-locates every (src, dst) duplicate (HashPartitioning(src)
      satisfies ClusteredDistribution(src, dst)), so the dropDuplicates
      aggregate runs in place with no further shuffle — with a width hint
      this saves the separate distinct shuffle AND the counting pass over
      the derived edge list (r10), and every round's join against the list
      reuses its layout without re-shuffling it;
    - the prep sort (r15): the dedup is a HashAggregate, so the pinned
      leaf would carry NO ordering and every round's sort-merge join would
      re-sort the full edge list; one in-place sort (no exchange) makes
      pin() advertise [src ASC] and the per-round edge-rate Sort
      disappears at any scale."""
    if n_edges_hint is None:
        edges = edges.distinct()
        n_edges_hint = edges.count()
    parts = width(edges.sparkSession, int(n_edges_hint))
    return (
        pin(
            edges.repartition(parts, "src")
            .dropDuplicates(["src", "dst"])
            .sortWithinPartitions("src")
        ),
        parts,
    )


def _relax(
    edges: DataFrame,
    state: DataFrame,
    frontier: DataFrame,
    parts: int,
    offer: str,
    combine: str,
    improves: str,
    max_rounds: int,
    cadence: int,
    fail: str,
    frontier_first: bool = False,
) -> tuple[DataFrame, int]:
    """Semi-naive relaxation to fixpoint, the one loop behind min-label
    components (CC, and SCC's directed reachability), condensation
    layering and weighted shortest paths → (final state, number of
    improving rounds).

    ``state`` is the pinned (node, v) map over the whole node universe,
    ``edges`` the pinned hash(src) list, ``frontier`` the (node, v) rows
    the first round pushes.  Each round every frontier node offers
    ``offer`` (SQL over v and the edge's columns: ``label``, ``lvl + 1``,
    ``dist + w``) to its out-neighbors; the offers combine per node with
    ``combine`` (``min`` or ``max``) into ``__c``, and the nodes where
    ``improves`` (SQL over ``__c`` and v) holds are the round's update:
    merged into the state and the next frontier.  A node whose v did not
    change has already delivered it (edges are static), so per-round work
    follows the still-converging fringe and the loop exits the round the
    update is empty — rounds = the depth the values travel, not
    ``max_rounds``.  ``frontier_first`` makes the frontier the left
    (streamed) side of the round's join, the order sssp_weighted's loop
    has always planned; the other callers stream the edges.

    Scale shape:
    - ONE exchange per round: the offers repartition to the state's
      hash(node)@parts layout first; the combine, the improvement join and
      the left merge then run co-partitioned (a left join keeps the pinned
      layout);
    - the update is pinned every round (it is next round's join input) and
      its emptiness probe rides that pin as an Observation — the only
      driver action per round;
    - the state is REPLACED each round, so it pins every ``cadence``
      rounds: every update leaf below it is already materialized, so a
      longer cadence deepens a join chain over pinned leaves only, never a
      lazy recompute (SCALING addendum 3: the relaxed cadence is safe only
      for replaced state — BFS's accumulated visited union pins every
      round);
    - no fixpoint within ``max_rounds`` raises ``RuntimeError(fail)``
      rather than returning values that have not converged.

    The round body is SQL text (r15): every F.col/.alias Column op is its
    own py4j round-trip, paid per round.  Holds no module state: SCC runs
    two of these loops from driver threads at once."""
    v = state.columns[1]
    # a bare-column offer (``label``) is combined as is, so it adds no
    # alias to the plan; a computed one is projected as ``__c`` first
    offered = offer if offer == v else "__c"
    for rnd in range(max_rounds):
        if frontier_first:
            hop = frontier.join(edges, frontier.node == edges.src)
        else:
            hop = edges.join(frontier, edges.src == frontier.node)
        cand = (
            hop.selectExpr("dst AS node", f"{offer} AS {offered}")
            .repartition(parts, "node")
            .groupBy("node")
            .agg(F.expr(f"{combine}({offered})").alias("__c"))
        )
        upd = (
            cand.join(state, "node")
            .filter(improves)
            .selectExpr("node", f"__c AS {v}")
        )
        obs = Observation()
        upd = pin(upd.observe(obs, F.count(F.lit(1)).alias("n")))
        if obs.get["n"] == 0:
            return state, rnd
        state = state.join(
            upd.withColumnRenamed(v, "__new"), "node", "left"
        ).selectExpr("node", f"coalesce(__new, {v}) AS {v}")
        if rnd % cadence == cadence - 1:
            state = pin(state)
        frontier = upd
    raise RuntimeError(fail)


@_static_loop
def bfs_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Bounded-depth BFS over a (src, dst) edge list — the engine-level
    equivalent of SQL's recursive CTE (``WITH RECURSIVE``), which Spark
    SQL does not ship.  Input ``seeds`` is a one-column (node) frame;
    output is (node, dist) with dist = exact minimum hop count ≤
    ``max_hops`` — all-BIGINT, hash-safe by construction (no floats
    anywhere in the fixpoint).

    Semi-naive evaluation (the Datalog fixpoint discipline): each round
    expands ONLY the previous round's delta (the frontier), never the
    whole visited set — so per-round work is proportional to the new
    fringe, not to everything found so far.  Scale shape:
    - edges are hash-partitioned on the join key once and
      ``localCheckpoint``-pinned; every round's expansion join reuses
      that partitioning without re-shuffling the (large) edge list;
    - the frontier and visited sets are two narrow columns; the
      dedup-vs-visited anti-join shuffles only node ids, and AQE
      broadcasts the frontier side when it is small;
    - lineage is truncated every round (``localCheckpoint``) — without
      it round k re-derives rounds 1..k-1;
    - the only driver action per round is an emptiness probe
      (an Observation riding the pin, r11) for early exit — never
      the node set itself.
    """
    edges, parts = _loop_edges(edges.select("src", "dst"), n_edges_hint)
    # seed dedup fused into the one repartition to the loop layout
    # (r15, ADVICE: distinct-then-repartition paid two exchanges)
    visited = pin(
        seeds.select("node")
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .selectExpr("dst AS node")
            # ONE exchange per round: repartition to the pinned hash(node)
            # layout first, then dedup and anti-join both run on it with
            # no further shuffle (r8 VERDICT: distinct's own exchange
            # folded into the anti-join side).  The shuffle carries raw
            # fan-in duplicates, but they are bare 8-byte ids — cheaper
            # than a second full exchange at every scale.
            .repartition(parts, "node")
            .distinct()
            .join(visited, "node", "left_anti")
            .selectExpr("node", f"CAST({hop} AS BIGINT) AS dist")
        )
        # EVERY round pins — deliberately NOT pagerank's every-other
        # cadence: each nxt joins the accumulating visited union, so
        # an unpinned round is re-derived by every later anti-join
        # (and by the emptiness probe, and by the next frontier join)
        # — measured +65% wall at sf0.1 when r9 tried the
        # every-other discipline here.  The probe on the pinned
        # frame is then effectively free.
        obs = Observation()  # probe rides the pin (kcore pattern, r11)
        nxt = pin(nxt.observe(obs, F.count(F.lit(1)).alias("n")))
        if obs.get["n"] == 0:
            break
        # no checkpoint on the union: visited is a union of frames that
        # are each ALREADY pinned (seeds + every round's nxt), so its
        # lineage stays depth-1 regardless of round count — one fewer
        # eager job per round than checkpointing the union itself
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def q_graph_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B114: graph reachability with exact hop distances — the recursive-
    CTE surface (``WITH RECURSIVE`` transitive closure) re-expressed as a
    semi-naive BFS fixpoint, the shape that actually distributes: SQL
    recursion is inherently sequential-by-round, and each round here is
    one co-partitioned join + one anti-join, both width-``parts`` jobs.

    Seeds: a deterministic 1/7th of suppliers (s_suppkey % 7 == 3 —
    non-empty at every scale factor, unlike a nation filter); graph: the
    bipartite customer↔supplier trade graph (same derivation as
    q_pagerank, so the two oracles pin the same edge list).  Output: one
    row per BFS level — dist, node count, and an exact md5-prefix node
    checksum (the cross-engine set fingerprint: any node placed at the
    wrong level flips BOTH its levels' checksums).

    Oracle: DuckDB ``WITH RECURSIVE`` computes the same closure; its
    recursive UNION dedups (node, dist) pairs and the outer min(dist)
    group-by reduces them to BFS distances — exact integers end to end.
    """
    supplier = load(spark, sf_dir, "supplier")
    # numeric ids through the fixpoint (r15, guide §2.3): BFS distances
    # are id-order-independent, so the loop runs on the BIGINT bijection
    # (8-byte keys, hash-aggregatable dedup) and the node strings are
    # decoded ONCE on the node-rate output before the reduction — the
    # reduction's min/max/checksum see the exact original strings.
    seeds = supplier.filter(
        F.col("s_suppkey") % REACH_SEED_MOD == REACH_SEED_REM
    ).select(_supp_node(F.col("s_suppkey")).alias("node"))
    # loop-width hint: 2x the lineitem row count bounds the symmetrized
    # distinct trade-edge count from above (each lineitem contributes at
    # most one (cust, supp) pair) — read from the parquet FOOTER
    # (metadata-only, r11: even the column-free count job is overhead
    # when _loop_parts only needs an order of magnitude), so the kernel
    # skips its own distinct+count pass over the derived edges
    hint = 2 * table_rows(sf_dir, "lineitem")
    reach = bfs_reachability(
        _trade_edges(spark, sf_dir, dedup=False, numeric=True), seeds,
        REACH_MAX_HOPS, n_edges_hint=hint,
    ).select(_node_str(F.col("node")).alias("node"), "dist")
    node_hash = md5_prefix_long(F.col("node"))
    return (
        reach.groupBy("dist")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(node_hash).cast("long").alias("node_checksum"),
            F.min("node").alias("first_node"),
            F.max("node").alias("last_node"),
        )
    )


LP_ROUNDS = 3


@_static_loop
def label_propagation(
    edges: DataFrame,
    rounds: int = LP_ROUNDS,
    n_edges_hint: int | None = None,
    label_of_node=None,
) -> DataFrame:
    """Synchronous label-propagation community detection over a (src,
    dst) edge list → (node, label): every node starts labeled with its
    own id and each round simultaneously adopts the MOST FREQUENT label
    among its neighbors, ties broken by MINIMUM label — the
    deterministic variant of Raghavan et al. 2007 (asynchronous LPA with
    random tie-breaks is irreproducible; fixed synchronous rounds +
    min-label ties make every round a pure function of the previous
    labeling, so two engines agree row-for-row).

    General directed input is handled: labels propagate along edge
    direction (a node's new label is the argmax over its IN-neighbors'
    labels), the node universe is src ∪ dst, and a node with no in-edges
    KEEPS its current label each round (the carry-forward leg) — on a
    symmetric edge list like the trade graph the carry-forward never
    fires and in-neighbors == neighbors.

    Scale shape (the BFS/pagerank kernel discipline): the edge list is
    hash-partitioned on the join key once and localCheckpoint-pinned;
    per-round work is ONE co-partitioned join (labels reach neighbors) +
    one map-combinable groupBy(node, label) count + one map-combinable
    per-node argmax — ``min(struct(-c, label))`` IS "most frequent
    label, ties to minimum" (r11, replacing the row_number window the
    r10 verdict flagged: the window needed a per-node sort and could
    not partial-aggregate; the min-struct collapses to ≤ 1 row per
    (map partition, node) before its exchange and keeps hub nodes
    skew-safe because the preceding (node, label) count already spread
    a hub's edges across partitions by label) — + one node-keyed
    carry-forward outer join, with state two narrow columns and lineage
    truncated EVERY round (r14: the next round consumes labels twice —
    the count join and the carry-forward merge — and Spark executes a
    shared unpinned subtree once per consumer, so an unpinned round
    duplicated its edge-rate count exchange; one cheap pin job per
    round removes the duplicate).  No driver action inside the loop at
    all: rounds are fixed, so there is no convergence probe to pay
    for."""
    edges, parts = _loop_edges(edges.select("src", "dst"), n_edges_hint)
    # node universe in ONE explode pass over the pinned edges (the
    # pagerank r14 shape — the two-branch union scanned the checkpoint
    # twice), deduped IN the repartition to the loop layout (r15,
    # ADVICE: distinct-then-repartition paid a session-width exchange
    # plus the repartition; hash(node)@parts satisfies the dedup's
    # clustering, so one exchange does both).
    # ``label_of_node`` (r15): callers that re-encode node ids for loop
    # performance (BIGINT join keys, guide §2.3) but whose LABEL
    # semantics are order-sensitive (the per-round argmax tie-breaks on
    # MIN label) pass the decoder here, so labels stay the ORIGINAL
    # values and every round's tie-break is bit-identical to the
    # un-encoded run — only the join/grouping key column narrows.
    _lbl = (
        label_of_node(F.col("node")) if label_of_node else F.col("node")
    )
    labels = pin(
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .withColumn("label", _lbl)
    )
    for i in range(rounds):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .selectExpr("dst AS node", "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        upd = (
            # repartition BEFORE the argmax (the CC/kcore discipline,
            # r14): hash(node)@parts satisfies the groupBy's
            # ClusteredDistribution(node), so the argmax runs in place
            # and its output is already the layout the carry-forward
            # join needs.  Aggregating first paid an extra exchange
            # whenever the session shuffle width differs from ``parts``
            # (always, on a sized cluster): agg at session width, then
            # REPARTITION_BY_NUM re-shuffled the result.  The rows this
            # shuffles are the post-count (node, label, c) triples —
            # already collapsed by cnt's map-side combine.
            cnt.repartition(parts, "node")
            .groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
            .selectExpr("node", "m.label AS __new")
        )
        # carry-forward: a node with no in-edges this round keeps its
        # label (vacuous on symmetric graphs — every node with any edge
        # has an in-edge there)
        labels = labels.join(upd, "node", "left").selectExpr(
            "node", "coalesce(__new, label) AS label"
        )
        # pin EVERY round (r14, reversing the every-other cadence): the
        # next round consumes labels TWICE (the count join and the
        # carry-forward merge), and Spark executes a shared unpinned
        # subtree once per consumer — job-dump evidence at sf0.1 showed
        # the unpinned round's edge-rate count exchange running twice
        # (two identical ~1.5 s map jobs), which one ~0.1 s pin job
        # removes.  CC/SSSP keep the relaxed cadence: their frontier is
        # the (pinned) upd and the labels merge has ONE consumer per
        # round, so nothing edge-rate duplicates there.
        labels = pin(labels)
    return labels


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B133: label-propagation community detection — the second
    link-based curation signal after PageRank (B83): PageRank weights
    documents by authority, LPA groups them into communities for
    CLUSTER-LEVEL corpus mixing (sample per community, cap any one
    community's share — the crawl-curation dual of q_diversity_sample's
    embedding clusters).

    Fully deterministic (synchronous rounds, min-label ties), so the
    DuckDB oracle re-runs the SAME ``LP_ROUNDS`` rounds unrolled as SQL
    and the entire per-community reduction is EXACT cross-engine: one
    row per final community — size, md5-prefix member checksum (any node
    in the wrong community flips both communities' checksums), min/max
    member.  Same trade graph as q_pagerank/q_graph_reach, so the three
    oracles pin one edge-list derivation."""
    hint = 2 * table_rows(sf_dir, "lineitem")  # parquet-footer metadata
    # hybrid encoding (r15, guide §2.3): the loop's JOIN/grouping key is
    # the BIGINT node bijection (fast probes, narrow exchanges) while
    # LABELS stay the original strings — the per-round argmax tie-breaks
    # on MIN label, which is order-sensitive, so the label column must
    # carry the exact original values; node order never enters a round.
    # Node strings are decoded once on the node-rate output.
    labels = label_propagation(
        _trade_edges(spark, sf_dir, dedup=False, numeric=True),
        LP_ROUNDS,
        n_edges_hint=hint,
        label_of_node=_node_str,
    ).select(_node_str(F.col("node")).alias("node"), "label")
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum(md5_prefix_long(F.col("node"))).cast("long").alias("member_checksum"),
        F.min("node").alias("first_member"),
        F.max("node").alias("last_member"),
    )


CC_MAX_ROUNDS = 64
# sparse trade subgraph: quantity-1 lineitems from every 7th supplier —
# fractures the otherwise fully-connected trade graph into real multi-node
# components (8 components / 178 nodes at sf0.01; qty<=2 alone still
# leaves ONE giant component, which exercises nothing)
CC_QTY = 1
CC_SUPP_MOD = 7


@_static_loop
def connected_components_exact(
    edges: DataFrame,
    max_rounds: int = CC_MAX_ROUNDS,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Exact connected components over an edge list → (node, component),
    component = the MINIMUM node id in each component — the canonical-id
    primitive the dedup family wants (B33/B87 cluster ids, the reference's
    trade graph): min-label propagation to fixpoint, undirected by
    construction (the input is symmetrized), all-string/BIGINT exact.

    The fixpoint is ``_relax`` (the BFS delta-frontier discipline applied
    to labels: each round pushes ONLY the labels that changed last round,
    so rounds = graph diameter, not max_rounds) over the symmetrized
    ``_loop_edges`` list, every node pushing its own id in round 0 and
    the labels pinned every 4 rounds.

    Round bound: min-label propagation is O(graph diameter) — the
    information has to WALK from each component's min node, and pointer
    jumping does not help (label chains stay depth-1 by construction:
    every node already points at its min-so-far; measured on the sf0.1
    sparse trade subgraph, full per-round path compression only cut
    27 → 17 rounds while adding two joins per round — not worth it).
    The fixture needs 27 rounds at sf0.1; ``max_rounds`` defaults to 64
    and the kernel FAILS LOUD on non-convergence rather than returning
    silently-wrong canonical ids.  For adversarial diameters (path-like
    graphs at 100 TB) the named upgrade is edge-rewiring large-star /
    small-star (Kiveris et al. 2014), O(log²n) rounds at the cost of
    re-shuffling the edge list every round — the right trade only once
    diameter ≫ 64, since pinned-edge rounds are far cheaper.

    ``llmops.connected_components`` is a separate kernel for shallow
    near-dup graphs (whole-labeling rounds, convergence by an unchanged
    label sum); its docstring records why it is not folded into this
    one."""
    # one pass, both directions
    sym, parts = _loop_edges(_symmetrize(edges.select("src", "dst")), n_edges_hint)
    labels = pin(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(parts, "node")
    )
    # replaced-state cadence 4: r11 same-session interleaved A/B at
    # sf0.1, 27-round fixpoint — cadence 4 beat 2 in all three pairs
    # (7.60/8.26/8.42 vs 7.77/9.55/8.58 s) while 8 lost clearly
    # (10.1-10.5 s: the per-round re-execution of the deeper join chain
    # overtakes the pin savings)
    labels, _ = _relax(
        sym, labels, labels, parts, "label", "min", "__c < label",
        max_rounds, 4,
        f"connected_components_exact: no fixpoint within {max_rounds} "
        f"rounds (graph diameter exceeds the cap — raise max_rounds, "
        f"or switch to an edge-rewiring algorithm for this topology)",
    )
    return labels.select("node", F.col("label").alias("component"))


CC_LOGSTAR_MAX_ROUNDS = 32


@_static_loop
def connected_components_logstar(
    edges: DataFrame,
    max_rounds: int = CC_LOGSTAR_MAX_ROUNDS,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewiring (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") → (node, component), component = min member id — the
    SAME output contract as ``connected_components_exact``, different
    round complexity: O(log² n) rounds worst case (≈log n observed)
    regardless of diameter, vs min-label propagation's O(diameter).
    This is the named adversarial-diameter path of B137: a path-shaped
    graph of 10⁵ nodes converges in ~17 pair-rounds here where the
    propagation kernel would need 10⁵ rounds (pytest plants a 120-node
    path: 64-round propagation cap is fine, but the log-star kernel
    finishes it in ≤8 pairs).

    Per pair-round (the trade vs the pinned-edge kernels: the EDGE LIST
    ITSELF rewires, so each phase re-shuffles it — worth paying only
    when diameter ≫ rounds-budget):
    - large-star: every node links its strictly-LARGER neighbors to
      min(Γ(u) ∪ {u}) — one groupBy(u) min + one co-keyed join-back,
      emissions canonicalize (min, max) with dedup fused into the
      repartition (the B137 exchange discipline);
    - small-star: every node links its smaller neighborhood ∪ itself to
      its minimum — same shape over the (b → a) orientation;
    - state is pinned with ``pin`` (the r10 origin-stats rule) and the
      convergence probe rides the pin's materialization as an
      Observation (edge count + 48-bit md5-prefix sum signature; two
      identical consecutive signatures = the edge set is a fixpoint of
      small∘large = the final star forest, Kiveris Thm 1-2).

    Final labels: star edges are (root=a, member=b); nodes absent from
    the member side (roots, isolated nodes) keep their own id."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    canon = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).filter(F.col("a") != F.col("b"))
    if n_edges_hint is None:
        canon = canon.distinct()
        n_edges_hint = canon.count()
    parts = _loop_parts(spark, int(n_edges_hint))
    E = pin(canon.repartition(parts, "a").dropDuplicates(["a", "b"]))

    sig_col = F.sum(
        md5_prefix_long(F.concat_ws("|", F.col("a"), F.col("b")), 12)
    ).alias("sig")
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        # LARGE-STAR
        adj = (
            E.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(E.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .repartition(parts, "u")
        )
        mins = adj.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        emit = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
        )
        E = pin(emit.repartition(parts, "a").dropDuplicates(["a", "b"]))

        # SMALL-STAR (smaller-neighborhood orientation: u = b, v = a < u)
        sadj = E.select(F.col("b").alias("u"), F.col("a").alias("v")).repartition(
            parts, "u"
        )
        smins = sadj.groupBy("u").agg(F.min("v").alias("m"))
        emit = (
            sadj.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .unionByName(
                smins.select(F.col("m").alias("a"), F.col("u").alias("b"))
            )
        )
        obs = Observation()
        E = pin(
            emit.repartition(parts, "a")
            .dropDuplicates(["a", "b"])
            .observe(obs, F.count(F.lit(1)).alias("n"), sig_col)
        )
        row = obs.get
        sig = (row["n"], row["sig"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_logstar: no fixpoint within {max_rounds} "
            f"pair-rounds (O(log²n) bound exceeded — pathological input?)"
        )
    return nodes.join(
        E.select(F.col("b").alias("node"), F.col("a").alias("component")),
        "node",
        "left",
    ).select("node", F.coalesce("component", "node").alias("component"))


def _trade_edges_sparse(
    spark: SparkSession, sf_dir: str, dedup: bool = True, numeric: bool = False
) -> DataFrame:
    """Sparse trade subgraph (quantity-``CC_QTY`` lineitems from every
    ``CC_SUPP_MOD``-th supplier): thins both edge mass and hub count so
    the trade graph fractures into many components — the topology that
    actually exercises a components kernel.  ``dedup=False`` as in
    ``_trade_edges``."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") == CC_QTY)
            & (F.col("l_suppkey") % CC_SUPP_MOD == 0)
        )
        .select("l_orderkey", "l_suppkey")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    if numeric:  # r15: BIGINT ids (see _trade_edges)
        out = joined.select(
            _cust_node(F.col("o_custkey")).alias("src"),
            _supp_node(F.col("l_suppkey")).alias("dst"),
        )
    else:
        out = joined.select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    return out.distinct() if dedup else out


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B137: exact connected components — the fourth graph primitive
    (PageRank weights, LPA clusters, BFS reaches, and now canonical
    component ids), the prerequisite for global dedup-cluster ids at
    corpus scale (today's dedup clusters use banding cohesion via
    llmops.connected_components; this is the exact deep-graph kernel).

    Fully deterministic (component id = min member id), so the entire
    per-component reduction is EXACT cross-engine: one row per component
    — size, md5-prefix member checksum (any node in the wrong component
    flips both components' checksums), min/max member.  min(node) must
    equal the component id itself (the canonical-id invariant — a broken
    fixpoint that stops early leaves some component with min(node) <
    label and flips the hashed n_canonical_ok count).

    Oracle: DuckDB ``WITH RECURSIVE`` reachable-pairs closure + min —
    quadratic in component size, fine on the sparse subgraph at the
    driver's sf0.01 (the production Spark path is linear-per-round;
    the quadratic twin is verification only, the B33 twin doctrine)."""
    hint = 2 * (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") == CC_QTY)
            & (F.col("l_suppkey") % CC_SUPP_MOD == 0)
        )
        .count()
    )
    # numeric ids through the fixpoint (r15, guide §2.3): component
    # MEMBERSHIP is id-order-independent (min-label propagation finds
    # the same connected node sets under any label total order), so the
    # loop runs on the BIGINT bijection; the canonical STRING id (min
    # member in string order — the contract) is recomputed exactly in
    # the per-component reduction below, which was already grouping and
    # min/max-ing the members.  The canonical-id invariant moves to the
    # encoded space — min(numeric member) == numeric kernel label —
    # which is the SAME fixpoint property the string form asserted (a
    # broken/early-stopped fixpoint still flips the hashed flag).
    comp = connected_components_exact(
        _trade_edges_sparse(spark, sf_dir, dedup=False, numeric=True),
        n_edges_hint=hint,
    )
    return (
        comp.groupBy(F.col("component"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(md5_prefix_long(_node_str(F.col("node"))))
            .cast("long")
            .alias("member_checksum"),
            F.min(_node_str(F.col("node"))).alias("first_member"),
            F.max(_node_str(F.col("node"))).alias("last_member"),
            # min over the (constant-per-group) key == the key; min is
            # deterministic where first() is order-sensitive
            (F.min("node") == F.min("component")).alias("canonical_id_ok"),
        )
        .select(
            F.col("first_member").alias("component"),
            "n_members",
            "member_checksum",
            "first_member",
            "last_member",
            "canonical_id_ok",
        )
    )


KCORE_K = 2
KCORE_ROUNDS = 8


@_static_loop
def kcore_membership(
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    n_edges_hint: int | None = None,
):
    """Fixed-round k-core peeling over an undirected edge list →
    ((node, core_degree) DataFrame, converged flag): iteratively remove
    every node whose degree in the remaining induced subgraph is < k —
    the cohesion filter (spam rings, boilerplate farms, and isolated
    tendrils all peel away; what survives is the densely-linked core a
    link-based curation pass keeps).  Fixed ``rounds`` with an early
    exit at the fixpoint and an explicit converged flag — the LPA
    fixed-round determinism contract, so the DuckDB oracle unrolls the
    SAME rounds and agrees exactly whether or not the peel finished
    (the fixture converges in 6 rounds at sf0.01; 16 at sf0.1 — the
    flag says which world you're in, never a silently-partial core).

    Per round: two co-partitioned joins restrict edges to
    alive-both-ends (sym pinned hash(src) once; one exchange moves the
    surviving rows to hash(dst)), then the degree aggregate and the
    >= k filter run in place; alive state is replaced each round and
    pinned with ``pin`` (the r10 origin-stats rule), and the round's
    node count rides the pin as an Observation — alive counts are
    MONOTONE non-increasing, so equal consecutive counts == equal sets
    == fixpoint (no set-compare join needed)."""
    from pyspark.sql import Observation

    # one pass, both directions
    sym, parts = _loop_edges(_symmetrize(edges.select("src", "dst")), n_edges_hint)
    alive = pin(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .repartition(parts, "node")
    )
    prev_n = alive.count()
    converged = False
    for _ in range(rounds):
        ind = (
            sym.join(alive.withColumnRenamed("node", "src"), "src")
            .select("src", "dst")
            .repartition(parts, "dst")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
        )
        obs = Observation()
        nxt = pin(
            ind.groupBy("dst")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("dst").alias("node"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n = obs.get["n"] or 0
        alive = nxt
        if n == prev_n:
            converged = True
            break
        prev_n = n
    core_deg = (
        sym.join(alive.withColumnRenamed("node", "src"), "src")
        .select("src", "dst")
        .repartition(parts, "dst")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.count("*").cast("long").alias("core_degree"))
    )
    return core_deg, converged


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B144: k-core decomposition (k=2, 8 peel rounds) on the sparse
    trade subgraph — per-core-member rows (node, induced core degree)
    plus the convergence flag, all exact BIGINT/string; DuckDB oracle
    unrolls the identical rounds as chained CTEs and recomputes the
    a8-induced degrees, with converged = |a8| == |a7| (counts are
    monotone, so count equality is set equality)."""
    hint = 2 * (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") == CC_QTY)
            & (F.col("l_suppkey") % CC_SUPP_MOD == 0)
        )
        .count()
    )
    core, converged = kcore_membership(
        _trade_edges_sparse(spark, sf_dir, dedup=False), n_edges_hint=hint
    )
    return core.withColumn("converged", F.lit(bool(converged)))


TRI_QTY_MAX = 10  # co-purchase graph: lineitems with l_quantity <= 10


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts co-occurring in the same order (canonical p < q, distinct)
    — a NON-bipartite graph (the trade graph has no odd cycles, so no
    triangles); quantity-filtered to keep the per-order fan-out of the
    self-join bounded at contract scale."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= TRI_QTY_MAX)
        .select("l_orderkey", "l_partkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2")
    )
    return (
        li.join(l2, (li.l_orderkey == l2.o2) & (li.l_partkey < l2.p2))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over an undirected edge list →
    (node, n_tri) for every node in ≥1 triangle — the clustering
    signal (clustering coefficient, community density) the graph family
    lacks, and the classic bounded-wedge distributed kernel.

    Degree-ordered orientation (the O(E^1.5) discipline): each
    undirected edge is oriented from its LOWER-(degree, id) endpoint to
    the higher, so every node's out-degree is ≤ √(2E) and the wedge
    join (pairs of out-neighbors of one node) generates O(E^1.5)
    candidates total — id-ordered orientation instead lets one
    low-id hub of degree d generate O(d²) wedges.  Each triangle
    {x,y,z} is found EXACTLY once: from its lowest-ranked corner, as
    the wedge (x→y, x→z) closed by the oriented y–z edge.

    Shuffle shape: degree aggregate (map-combinable) + one broadcast of
    nothing — the orientation join is edges⋈degrees on both endpoints
    (two co-keyed hash joins over narrow rows), the wedge join is
    out⋈out on src, and the closing probe is one equi-join against the
    oriented edge set on the (lo, hi) rank pair.  No driver action; the
    per-node fan-in of wedges is the O(E^1.5) bound, never n².

    Input contract (r11 ADVICE): the kernel advertises "undirected edge
    list", so it canonicalizes DEFENSIVELY — least/greatest per pair,
    self-loops dropped, then distinct — the logstar-CC discipline.  A
    symmetrized or reversed-pair input would otherwise double degrees
    and duplicate oriented edges, silently inflating n_tri."""
    e = (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    # orient lower (deg, id) -> higher; rank ties broken by id
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    out = pin(
        ranked.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
                "deg_dst"
            ),
        )
    )
    o1 = out.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("deg_dst").alias("dv"),
    )
    o2 = out.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("deg_dst").alias("dw"),
    )
    # wedges at u: unordered out-neighbor pairs, then re-rank (v, w) the
    # same way the orientation did so the closing edge probe key matches
    wedge = (
        o1.join(o2, "u")
        .filter(F.col("v") < F.col("w"))
        .select(
            "u",
            F.when(
                (F.col("dv") < F.col("dw"))
                | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))),
                F.struct(F.col("v").alias("lo"), F.col("w").alias("hi")),
            )
            .otherwise(F.struct(F.col("w").alias("lo"), F.col("v").alias("hi")))
            .alias("k"),
        )
        .select("u", "k.lo", "k.hi")
    )
    tri = wedge.join(
        out.select(F.col("src").alias("lo"), F.col("dst").alias("hi")),
        ["lo", "hi"],
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("lo").alias("node")))
        .unionByName(tri.select(F.col("hi").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").cast("long").alias("n_tri"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B141: exact triangle counting — per-node triangle participation
    over the co-purchase parts graph, hashed row-for-row (plus each
    node's degree, pinning the edge derivation).  DuckDB oracle: the
    canonical id-ordered triple join E(a,b)⋈E(b,c)⋈E(a,c) with per-node
    counts via the three corners — a DIFFERENT exact algorithm (no
    orientation), so the degree-ordered kernel and the naive closure
    must agree on every node.

    r11: the edge list is derived ONCE and pinned — the lineitem
    self-join + distinct is the expensive stage and the r10 shape ran it
    twice (once for the kernel, once for the degree join); pin() also
    keeps the derivation's partitioning for the kernel's degree joins."""
    e = pin(_copurchase_edges(spark, sf_dir))
    comp = triangle_counts(e)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return comp.join(deg, "node").select(
        F.col("node").cast("long").alias("node"), "n_tri", "degree"
    )


def q_connected_components_logstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B139: the large-star/small-star kernel on the SAME sparse trade
    subgraph and reduction as B137 — two independent algorithms, one
    output contract, one oracle: any divergence between the rewiring
    kernel, the propagation kernel, and DuckDB's recursive closure
    flips a hash."""
    hint = 2 * (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") == CC_QTY)
            & (F.col("l_suppkey") % CC_SUPP_MOD == 0)
        )
        .count()
    )
    comp = connected_components_logstar(
        _trade_edges_sparse(spark, sf_dir, dedup=False), n_edges_hint=hint
    )
    return (
        comp.groupBy(F.col("component"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(md5_prefix_long(F.col("node"))).cast("long").alias("member_checksum"),
            F.min("node").alias("first_member"),
            F.max("node").alias("last_member"),
        )
        .withColumn("canonical_id_ok", F.col("first_member") == F.col("component"))
    )



SCC_MAX_OUTER = 8
SCC_INNER_MAX_ROUNDS = 32


def _minprop_directed(
    e: DataFrame, nodes: DataFrame, parts: int, max_rounds: int, what: str
) -> DataFrame:
    """Min-label propagation ALONG edge direction to fixpoint → (node,
    label), label = min id that can reach node (node included) — the
    ``_relax`` loop of connected_components_exact over directed edges,
    labels pinned every other round.  ``nodes`` (pinned hash(node)) is
    the label universe — active nodes with no in-class edges keep their
    own id without ever joining."""
    labels = pin(nodes.withColumn("label", F.col("node")))
    labels, _ = _relax(
        e, labels, labels, parts, "label", "min", "__c < label", max_rounds, 2,
        f"_minprop_directed({what}): no fixpoint within {max_rounds} rounds",
    )
    return labels


@_static_loop
def scc_decomposition(
    edges: DataFrame,
    max_outer: int = SCC_MAX_OUTER,
    inner_max_rounds: int = SCC_INNER_MAX_ROUNDS,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Strongly connected components over a DIRECTED (src, dst) edge
    list → (node, scc_id), scc_id = the minimum member id — the cycle
    collapse crawl-link analysis wants before ranking (B146; every
    other family kernel treats the graph as undirected or flat).

    Algorithm: parallel multi-pivot FW-BW via min-label reachability
    (Fleischer et al. 2000's recursion, all branches at once).  Each
    outer round, restricted to SAME-CLASS edges (classes partition the
    unassigned nodes; round 0 = one class):

    1. fwd(v) = min id that can reach v  (directed min-label fixpoint);
    2. bwd(v) = min id v can reach       (same kernel, reversed edges);
    3. fwd(v) == bwd(v) == m means m reaches v AND v reaches m, so v is
       ASSIGNED scc_id = m — this resolves exactly the SCCs of each
       class's min-reachability pivots, including every source/sink-min
       singleton of the condensation DAG;
    4. survivors re-class by the (fwd, bwd) pair.  Any SCC lies wholly
       inside one pair class (mutual reachability forces equal labels),
       and pairs cannot collide across classes (a propagated label is a
       member of its own class), so the recursion is sound and classes
       only ever split.

    Round bound: the recursion depth of FW-BW — 3 outer rounds on the
    sf0.01 directed trade graph (120 SCCs, 14 non-trivial; simulated
    before building, tools/r11_scc_sim note in SCALING.md).  Fail-loud
    past ``max_outer`` (the CC discipline: never silently-wrong ids).

    Scale shape: edges pinned hash(src) once (``_loop_edges``); per
    outer round the class restriction is two node-keyed joins + one
    repartition per direction, and each inner fixpoint is ``_relax``,
    the CC loop.  Assigned pairs are ACCUMULATED state → pinned every
    round (the BFS cadence rule); labels are REPLACED state → pinned
    every other round inside ``_relax``.  Driver actions: one
    emptiness probe per inner round + one per outer round."""
    e0, parts = _loop_edges(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")),
        n_edges_hint,
    )
    # node universe in one explode pass, dedup fused into the loop-layout
    # repartition (r15, ADVICE — the LPA init shape)
    act = pin(
        e0.select(F.explode(F.array("src", "dst")).alias("node"))
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .withColumn("cls", F.lit(""))
    )
    assigned: DataFrame | None = None
    for _outer in range(max_outer):
        if _outer == 0:
            # round 0 has a single class ("" everywhere): the class
            # restriction is a no-op, and e0 already carries the pinned
            # hash(src) layout — skip two joins and one pin on the
            # heaviest round (every node still unassigned)
            e_fwd = e0
            e_bwd = pin(
                e0.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ).repartition(parts, "src")
            )
        else:
            s_cls = act.select(
                F.col("node").alias("src"), F.col("cls").alias("__cs")
            )
            d_cls = act.select(
                F.col("node").alias("dst"), F.col("cls").alias("__cd")
            )
            e_act = (
                e0.join(s_cls, "src")
                .join(d_cls.repartition(parts, "dst"), "dst")
                .filter(F.col("__cs") == F.col("__cd"))
                .select("src", "dst")
            )
            e_fwd = pin(
                e_act.repartition(parts, "src").sortWithinPartitions("src")
            )
            e_bwd = pin(
                e_act.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
                .repartition(parts, "src")
                .sortWithinPartitions("src")
            )
        nodes = act.select("node")
        # the two fixpoints are independent — drive them from two driver
        # threads so their per-round jobs interleave on the cluster
        # (Spark's scheduler is thread-safe; each loop's jobs are small,
        # so this roughly halves the outer round's wall without touching
        # the plan).  Falls back to sequential if the executor is
        # unavailable for any reason.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            f_fwd = ex.submit(
                _minprop_directed, e_fwd, nodes, parts, inner_max_rounds, "fwd"
            )
            f_bwd = ex.submit(
                _minprop_directed, e_bwd, nodes, parts, inner_max_rounds, "bwd"
            )
            fwd = f_fwd.result()
            bwd = f_bwd.result()
        both = fwd.join(bwd.withColumnRenamed("label", "__bl"), "node")
        done = both.filter(F.col("label") == F.col("__bl")).select(
            "node", F.col("label").alias("scc_id")
        )
        assigned = done if assigned is None else assigned.unionByName(done)
        assigned = pin(assigned)  # accumulated state: every round
        rest = both.filter(F.col("label") != F.col("__bl")).select(
            "node",
            F.concat(F.col("label"), F.lit("|"), F.col("__bl")).alias("cls"),
        )
        act = pin(rest.repartition(parts, "node"))
        if not act.head(1):
            return assigned
    raise RuntimeError(
        f"scc_decomposition: unassigned nodes remain after {max_outer} "
        f"outer rounds (pathological condensation depth — raise max_outer)"
    )


def _trade_edges_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED sparse trade graph for the SCC kernel: the B137 sparse
    filter (quantity-``CC_QTY`` lineitems from every ``CC_SUPP_MOD``-th
    supplier) taken c→s for every trade and s→c ONLY where the lineitem
    was returned (l_returnflag = 'R') — return flows close cycles, so
    the graph has real multi-node SCCs (14 at sf0.01) plus one-way DAG
    tendrils (the c→s-only edges) that must stay singletons."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") == CC_QTY)
            & (F.col("l_suppkey") % CC_SUPP_MOD == 0)
        )
        .select("l_orderkey", "l_suppkey", "l_returnflag")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    cust = F.concat(F.lit("c"), F.col("o_custkey"))
    supp = F.concat(F.lit("s"), F.col("l_suppkey"))
    return j.select(cust.alias("src"), supp.alias("dst")).unionByName(
        j.filter(F.col("l_returnflag") == "R").select(
            supp.alias("src"), cust.alias("dst")
        )
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B146: strongly connected components — same output contract and
    reduction as B137 (scc_id = min member; size, md5-prefix member
    checksum, min/max member, canonical-id flag) over the directed
    sparse trade graph, plus ``is_nontrivial`` so the cycle collapse is
    visible in the hash.  DuckDB oracle: recursive reachable-pairs
    closure BOTH directions intersected (u,v mutual ⟺ same SCC) — a
    different exact algorithm, quadratic-in-component verification twin
    like B137's."""
    comp = scc_decomposition(_trade_edges_directed(spark, sf_dir))
    return (
        comp.groupBy(F.col("scc_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(md5_prefix_long(F.col("node"))).cast("long").alias("member_checksum"),
            F.min("node").alias("first_member"),
            F.max("node").alias("last_member"),
        )
        .withColumn("canonical_id_ok", F.col("first_member") == F.col("scc_id"))
        .withColumn("is_nontrivial", F.col("n_members") > 1)
    )


COND_MAX_DEPTH = 64


@_static_loop
def condensation_levels(
    edges: DataFrame,
    scc: DataFrame,
    max_depth: int = COND_MAX_DEPTH,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Condensation DAG + topological depth (B147): collapse each SCC of
    a directed graph to one node and assign every SCC its LONGEST-path
    depth from the DAG's sources → (scc_id, depth) — the crawl-analysis
    layering (how many cycle-collapsed hops deep a page cluster sits
    from the frontier) that only makes sense AFTER the B146 cycle
    collapse, because longest-path is undefined on cyclic graphs.

    Kernel: two node-keyed joins map edges to (scc(u), scc(v)), cross-
    SCC pairs dedup-fused into the co-partitioning exchange; then
    semi-naive MAX-level propagation on ``_relax`` (the CC loop with
    max/increment instead of min, levels pinned every other round):
    level(v) = max over in-edges of level(u)+1, frontier = levels raised
    last round, rounds = DAG depth.  ``max_depth`` doubles as the cycle
    guard — a cycle would climb forever, so exceeding the budget fails
    loud (it cannot happen on a true condensation; the guard protects
    against a caller passing a non-SCC labeling)."""
    spark = edges.sparkSession
    e0 = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if n_edges_hint is None:
        e0 = e0.distinct()
        n_edges_hint = e0.count()
    parts = _loop_parts(spark, int(n_edges_hint))
    s_map = scc.select(F.col("node").alias("src"), F.col("scc_id").alias("__cu"))
    d_map = scc.select(F.col("node").alias("dst"), F.col("scc_id").alias("__cv"))
    ce = pin(
        e0.join(s_map, "src")
        .join(d_map.repartition(parts, "dst"), "dst")
        .filter(F.col("__cu") != F.col("__cv"))
        .select(F.col("__cu").alias("src"), F.col("__cv").alias("dst"))
        .repartition(parts, "src")
        .dropDuplicates(["src", "dst"])
    )
    # dedup fused into the loop-layout repartition (r15, ADVICE)
    levels = pin(
        scc.select(F.col("scc_id").alias("node"))
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .withColumn("lvl", F.lit(0).cast("long"))
    )
    levels, _ = _relax(
        ce, levels, levels, parts, "lvl + 1", "max", "__c > lvl", max_depth, 2,
        f"condensation_levels: levels still rising after {max_depth} rounds "
        f"— the input labeling is not a condensation (cycle present)",
    )
    return levels.select(F.col("node").alias("scc_id"), F.col("lvl").alias("depth"))


def q_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B147: condensation DAG layering over the SAME directed trade
    graph as B146 — SCCs collapse, then each SCC gets its longest-path
    depth from the sources; one row per depth with the SCC count, the
    member-node count, an scc-id checksum, and the depth's min/max scc
    id.  DuckDB oracle: the B146 mutual-closure SCC CTE, condensation
    edges by set difference, then recursive path-length enumeration
    with max-per-node (exact longest path — terminates because the
    condensation is acyclic)."""
    edges = pin(_trade_edges_directed(spark, sf_dir).distinct())
    comp = scc_decomposition(edges, n_edges_hint=None)
    lv = condensation_levels(edges, comp)
    sizes = comp.groupBy("scc_id").agg(F.count("*").cast("long").alias("n_nodes"))
    return (
        lv.join(sizes, "scc_id")
        .groupBy(F.col("depth").cast("long").alias("depth"))
        .agg(
            F.count("*").cast("long").alias("n_sccs"),
            F.sum("n_nodes").cast("long").alias("n_member_nodes"),
            F.sum(md5_prefix_long(F.col("scc_id"))).cast("long").alias("scc_checksum"),
            F.min("scc_id").alias("first_scc"),
            F.max("scc_id").alias("last_scc"),
        )
    )

PPR_ITERS = 8  # fixed power iterations (the q_pagerank budget discipline)


@_static_loop
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = PR_DAMPING,
    iters: int = PPR_ITERS,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Gyöngyi et al. 2004, "Combating
    Web Spam with TrustRank") over a directed (src, dst) edge list →
    (node, rank): the power iteration r ← (1−d)·p + d·Mᵀr with teleport
    vector p uniform over ``seeds`` instead of all nodes — authority
    relative to a trusted seed set, the spam-resistant crawl-curation
    signal plain PageRank (B83) cannot give (a link farm inflates global
    PR but receives no trust unless a seed path reaches it).

    The SPARSITY is the scale story: rank frames hold only nodes with
    nonzero rank, and after k iterations that is exactly the k-hop
    out-neighborhood of the seeds — on a 100 TB web graph a trusted-seed
    PPR touches the seeds' reach, never the full node set (plain
    pagerank() materializes rank for every node by construction).
    Kernel shape follows the family contract: edges dedup-fused into the
    pinned hash(src) exchange, the out-degree join co-partitioned on it,
    ONE exchange per iteration (contributions repartition to hash(node);
    the teleport merge runs co-partitioned), full-outer teleport merge
    because a contribution may reach a node the teleport vector does not
    hold.  Dangling mass (rank parked on nodes with no out-edges) is
    redistributed to the SEEDS — the TrustRank convention, keeping
    Σrank = 1 exactly and trust non-leaking; the probe runs once (static
    node set), not per round.

    Exactness contract for the oracle: contributions are strictly
    positive, so {rank > 0} after k iterations EQUALS the ≤k-hop BFS
    closure of the seeds — an exact integer the DuckDB recursive CTE
    recomputes; mass conservation and the (1−d)/|S| seed floor are
    in-engine float invariants (1e-9/1e-12 slack)."""
    edges, parts = _loop_edges(edges.select("src", "dst"), n_edges_hint)
    # out-degree + link join both ride the pinned hash(src) layout
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    links = pin(edges.join(out_deg, "src"))
    obs_seeds = Observation()
    seed_nodes = pin(
        seeds.select("node")
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .observe(obs_seeds, F.count(F.lit(1)).alias("n"))
    )
    # seed count rides the pin (r14: was a separate count() job)
    n_seeds = int(obs_seeds.get["n"])
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: empty seed set")
    # rank can live only on seeds ∪ contribution targets (dst); the
    # dangling set is THAT union minus out-degree holders — a dst-only
    # probe (r11 ADVICE) misses ISOLATED seeds (no edges at all), whose
    # parked teleport mass would neither propagate nor re-teleport,
    # leaking Σrank below 1.
    obs_dangling = Observation()
    dangling_nodes = pin(
        seed_nodes.select("node")
        .union(edges.select(F.col("dst").alias("node")))
        # dedup fused into the one repartition to the loop layout; the
        # anti-join's build side (out_deg) descends from the pinned
        # hash(src) edges, so the probe runs co-partitioned (r15,
        # ADVICE: distinct-then-repartition paid two exchanges here)
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .join(out_deg.withColumnRenamed("src", "node"), "node", "left_anti")
        .observe(obs_dangling, F.count(F.lit(1)).alias("n"))
    )
    # emptiness probe rides the pin (r14: was a separate head() job)
    has_dangling = int(obs_dangling.get["n"]) > 0
    tele = 1.0 / n_seeds  # p(v) for seeds; teleport mass = (1-d)·p
    ranks = seed_nodes.withColumn("rank", F.lit(tele))  # r0 = p
    for it in range(iters):
        contribs = (
            links.join(ranks, links.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.lit(damping) * F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .repartition(parts, "node")
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        seed_mass = (1.0 - damping) * tele
        if has_dangling:
            dm = (
                ranks.join(dangling_nodes, "node")
                .agg(F.sum("rank").alias("m"))
                .first()["m"]
            )
            if dm:  # parked mass re-teleports to the trusted seeds
                seed_mass += damping * float(dm) * tele
        ranks = (
            seed_nodes.withColumn("tele", F.lit(seed_mass))
            .join(contribs, "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce(F.col("tele"), F.lit(0.0))
                    + F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if it % 2 == 1 or it == iters - 1:
            ranks = pin(ranks)
    return ranks


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B154 contract query: TrustRank from the B114 seed set (suppliers
    with s_suppkey % 7 == 3) over the trade graph.  Rank VALUES are
    engine-local floats, but the reduction is exact (the q_pagerank
    est_ok doctrine, strengthened): ``n_reached`` — the count of nodes
    with nonzero trust — must equal the seeds' ≤8-hop BFS closure, which
    DuckDB recomputes EXACTLY via a bounded recursive CTE (positive
    contributions cannot cancel, so reach and support coincide);
    ``n_seeds`` is exact; mass conservation (Σrank = 1 with dangling
    redistribution) and the (1−d)/|S| seed trust floor are in-engine
    invariant flags."""
    supplier = load(spark, sf_dir, "supplier")
    seeds = supplier.filter(
        F.col("s_suppkey") % REACH_SEED_MOD == REACH_SEED_REM
    ).select(F.concat(F.lit("s"), F.col("s_suppkey")).alias("node"))
    hint = 2 * table_rows(sf_dir, "lineitem")  # parquet-footer metadata
    ranks = personalized_pagerank(
        _trade_edges(spark, sf_dir, dedup=False), seeds, n_edges_hint=hint
    )
    n_seeds = seeds.distinct().count()
    floor = (1.0 - PR_DAMPING) / n_seeds
    seed_ranks = ranks.join(seeds.distinct(), "node")
    stats = ranks.agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum("rank").alias("_mass"),
    )
    seed_stats = seed_ranks.agg(F.min("rank").alias("_seed_min"))
    return stats.crossJoin(seed_stats).select(
        "n_reached",
        F.lit(n_seeds).cast("long").alias("n_seeds"),
        (F.abs(F.col("_mass") - F.lit(1.0)) <= 1e-9).alias("mass_conserved_ok"),
        (F.col("_seed_min") >= F.lit(floor) - 1e-12).alias("seed_floor_ok"),
    )


SSSP_W_MOD = 7          # edge weight = 1 + (custkey + suppkey) % 7 ∈ [1, 7]
SSSP_MAX_ROUNDS = 64    # fail-loud relaxation budget (kernel side)
SSSP_ORACLE_ROUNDS = 12  # unrolled SQL relaxations (>= observed fixpoint + slack)


@_static_loop
def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = SSSP_MAX_ROUNDS,
    n_edges_hint: int | None = None,
    pin_cadence: int = 4,
    stats_out: dict | None = None,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths over a (src, dst, w)
    edge list → (node, dist): exact minimum path COST from any seed,
    integer weights, BIGINT end to end — the weighted sibling of
    ``bfs_reachability`` (hop counts) the graph family lacked.  Distance
    semantics are multi-source Dijkstra's, computed as distributed
    Bellman-Ford: label-correcting relaxation to fixpoint, which is the
    shape that distributes (priority queues do not).

    Semi-naive evaluation on ``_relax`` (the CC loop, offering dist + w):
    each round relaxes ONLY the frontier (nodes whose dist improved last
    round) — a settled node re-offers nothing because edges are static
    and its best dist already propagated; dist pins every
    ``pin_cadence`` rounds.
    - parallel edges collapse to min weight INSIDE the one edge-prep
      exchange (groupBy(src, dst).min(w) under hash(src) partitioning —
      map-combinable, skew-safe), then the list pins; every round's
      frontier join reuses that layout with no re-shuffle;
    - the improvement check joins candidates to the CURRENT dist map and
      keeps strict improvements (or first sightings), so monotone
      convergence is structural — no oscillation, no float drift
      (weights are ints);
    - rounds ≤ the max hop count of any optimal path (≤ weighted
      diameter / min edge weight); the budget fails LOUD rather than
      returning partially-relaxed distances.  For adversarially
      heavy-tailed weights the named upgrade is Δ-stepping (Meyer &
      Sanders 2003) — bucketed relaxation bounds rounds by (max dist /
      Δ) instead of optimal-path hops; not needed while weights are
      small ints.
    """
    spark = edges.sparkSession
    if n_edges_hint is None:
        edges = edges.select("src", "dst", "w").distinct()
        n_edges_hint = edges.count()
    parts = _loop_parts(spark, int(n_edges_hint))
    # min-weight collapse of parallel edges fused into the one
    # co-partitioning exchange (hash(src) satisfies the groupBy's
    # ClusteredDistribution(src, dst) — the _loop_edges fusion, but
    # aggregate-with-min instead of dedup)
    edges = pin(
        edges.select("src", "dst", F.col("w").cast("long").alias("w"))
        .repartition(parts, "src")
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        # prep sort so the pinned leaf advertises [src ASC] and every
        # round's relaxation SMJ skips re-sorting the edge list (r15)
        .sortWithinPartitions("src")
    )
    # dist covers the FULL node universe up front (nodes ∪ seeds, NULL =
    # unreached) — the CC labels discipline (r14).  The old seeds-only
    # dist grew by first sightings, which forced the per-round merge to
    # be a FULL OUTER join, and FullOuter reports UnknownPartitioning —
    # so every unpinned round silently re-shuffled the accumulated dist
    # (audited: round plans grew 1→2→3→4 exchanges across each cadence
    # window; flat 1/round with the replaced-state form).  One extra
    # prep exchange (node-universe dedup) buys a dist-rate shuffle back
    # on every unpinned round at any scale.  Trade-off (r15, recorded):
    # the full-universe dist makes every round's left-merge and the
    # final IS NOT NULL filter process universe-rate rows even when the
    # reached set is tiny (single seed, mostly-unreachable graph) — the
    # co-partitioned join keeps those rows shuffle-free, so the cost is
    # a narrow in-place pass, acceptable; for sparse-reachability
    # workloads where even that pass matters, the seeds-only dist +
    # full-outer merge is the alternative and re-pays the per-round
    # shuffle instead.
    dist = pin(
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .unionByName(seeds.select("node"))
        .repartition(parts, "node")
        .dropDuplicates(["node"])
        .join(
            # seed dedup at the loop layout so the left join runs
            # co-partitioned (r15, ADVICE: session-width distinct paid
            # its own exchange plus an ENSURE re-shuffle at the join)
            seeds.select("node")
            .repartition(parts, "node")
            .dropDuplicates(["node"])
            .withColumn("__seed0", F.lit(0).cast("long")),
            "node",
            "left",
        )
        .select("node", F.col("__seed0").alias("dist"))
    )
    dist, rounds = _relax(
        edges, dist, dist.filter(F.col("dist").isNotNull()), parts,
        "dist + w", "min", "dist IS NULL OR __c < dist", max_rounds, pin_cadence,
        f"sssp_weighted: relaxation still improving after {max_rounds} "
        f"rounds — raise max_rounds (weighted hop diameter exceeds the "
        f"budget) or switch to Δ-stepping for this weight distribution",
        frontier_first=True,
    )
    # rounds that IMPROVED a distance — the bound an unrolled-relaxation
    # oracle must meet (r11 ADVICE)
    if stats_out is not None:
        stats_out["improving_rounds"] = rounds
    # unreached nodes are implementation state, not results — the
    # contract output is exactly the reached set the old form returned
    return dist.filter(F.col("dist").isNotNull())


def _trade_edges_weighted(
    spark: SparkSession, sf_dir: str, numeric: bool = False
) -> DataFrame:
    """Symmetric weighted trade graph: one edge per DISTINCT (customer,
    supplier) trading pair, weight 1 + (custkey + suppkey) % SSSP_W_MOD —
    deterministic from the keys alone, so the weight survives the
    pair-distinct and both engines derive identical (src, dst, w) rows.
    No dedup here: the kernel fuses its min-weight collapse into its own
    edge-prep exchange (dedup=False discipline of ``_trade_edges``)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    w = (
        F.lit(1) + (F.col("o_custkey").cast("long") + F.col("l_suppkey")) % F.lit(SSSP_W_MOD)
    ).alias("w")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    if numeric:  # r15: BIGINT ids (see _trade_edges) — weights untouched
        trade = joined.select(
            _cust_node(F.col("o_custkey")).alias("cust"),
            _supp_node(F.col("l_suppkey")).alias("supp"),
            w,
        )
    else:
        trade = joined.select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cust"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("supp"),
            w,
        )
    return _symmetrize(trade, "cust", "supp")


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B151: weighted shortest paths from the B114 seed set (suppliers
    with s_suppkey % 7 == 3) over the trade graph with deterministic
    integer weights — the graph family's cost-distance primitive
    (crawl-budget propagation, link-distance curation signals) where
    B114's BFS gives only hop counts.

    Fully deterministic and integer-exact, so the reduction hashes one
    row per DISTINCT DISTANCE VALUE: node count, md5-prefix node
    checksum (a node at the wrong distance flips two rows' checksums),
    min/max node.  Oracle: ``SSSP_ORACLE_ROUNDS`` Bellman-Ford
    relaxations unrolled as chained CTEs (the ``_lp_rounds_sql``
    doctrine — exact because extra rounds past the fixpoint are
    no-ops), a DIFFERENT exact algorithm shape from the kernel's
    semi-naive frontier."""
    supplier = load(spark, sf_dir, "supplier")
    # numeric ids through the relaxation loop (r15, guide §2.3):
    # distances are pure long arithmetic over edge weights — id order
    # never enters the rounds — so the loop runs on the BIGINT bijection
    # and the strings are decoded once on the node-rate output.
    seeds = supplier.filter(
        F.col("s_suppkey") % REACH_SEED_MOD == REACH_SEED_REM
    ).select(_supp_node(F.col("s_suppkey")).alias("node"))
    hint = 2 * table_rows(sf_dir, "lineitem")  # parquet-footer metadata
    stats: dict = {}
    dist = sssp_weighted(
        _trade_edges_weighted(spark, sf_dir, numeric=True),
        seeds,
        n_edges_hint=hint,
        stats_out=stats,
    ).select(_node_str(F.col("node")).alias("node"), "dist")
    # r12 (r11 ADVICE): the oracle unrolls a FIXED number of relaxations;
    # if a graph shape ever needs more improving rounds than that, the
    # oracle would silently return partially-relaxed distances and the
    # driver would record a FALSE failure — fail loud here instead.
    if stats.get("improving_rounds", SSSP_MAX_ROUNDS) > SSSP_ORACLE_ROUNDS:
        raise RuntimeError(
            f"q_sssp: kernel needed {stats.get('improving_rounds')} improving "
            f"rounds but ORACLE['q_sssp'] unrolls only {SSSP_ORACLE_ROUNDS} "
            f"relaxations — raise SSSP_ORACLE_ROUNDS to keep the oracle exact"
        )
    return dist.groupBy("dist").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(md5_prefix_long(F.col("node"))).cast("long").alias("node_checksum"),
        F.min("node").alias("first_node"),
        F.max("node").alias("last_node"),
    )


DIAM_MAX_HOPS = 64  # matches CC_MAX_ROUNDS: the budget the probe informs


def q_diameter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B156: double-sweep diameter lower bound (Magnien et al. 2009 —
    the standard cheap eccentricity probe): BFS from a deterministic
    seed (the MINIMUM node id), take the farthest node u (ties to min
    id), BFS again from u; ecc(u) lower-bounds the seed component's
    diameter and is exact on trees / near-exact on real graphs.

    This is the KERNEL-SELECTION signal the components family
    documents but could not previously measure: min-label CC (B137) is
    O(diameter) rounds and wins while diameter ≤ the round budget;
    large-star/small-star (B139) is O(log²n) and wins beyond it.  The
    probe costs two BFS fixpoints — 2·diameter pinned rounds, each
    frontier-proportional — which at 100 TB is the cheap pre-flight
    before committing a 10⁵-round propagation to a path-shaped graph.
    ``kernel_choice`` ships the decision itself ('minlabel' iff the
    measured bound fits the B137 budget) so the oracle checks the
    POLICY, not just the numbers.

    Everything hashed is exact: seed and u are deterministic ids, hop
    counts are BIGINTs, reach sizes are component-exact (sweep 2 covers
    exactly the seed's component: same closure, different root).
    DuckDB recomputes both sweeps as bounded recursive CTEs with the
    same argmax tie-break.

    Execution note: the sweeps run as ``sssp_weighted`` with unit
    weights, NOT ``bfs_reachability`` — BFS accumulates its visited set
    as a growing union of per-round frames (right for its ≤4-hop
    contract, where the union doubles as the result), but a
    diameter-deep sweep pays that plan depth every round; the SSSP
    kernel's REPLACED dist state is the deep-loop form.  pin_cadence=2
    here, not the kernel's default 4: an interleaved warm A/B on the
    sf0.01 sweeps put cadence 2 at 7.2-9.1 s vs cadence 4's unstable
    4.1-13.8 s — on a TINY deep graph the between-pin merge-chain
    re-execution is pure fixed overhead, so shorter chains win, while
    CC's sf0.1 A/B (SCALING addendum 6) showed the reverse at volume;
    the cadence stays a per-call knob for exactly this reason."""
    edges = _trade_edges_sparse(spark, sf_dir, dedup=False)
    sym = pin(
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .withColumn("w", F.lit(1).cast("long"))
    )
    hint = 4 * (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") == CC_QTY)
            & (F.col("l_suppkey") % CC_SUPP_MOD == 0)
        )
        .count()
    )
    seed0 = sym.agg(F.min("src").alias("m")).first()["m"]
    b1 = sssp_weighted(
        sym,
        spark.createDataFrame([(seed0,)], "node string"),
        max_rounds=DIAM_MAX_HOPS,
        n_edges_hint=hint,
        pin_cadence=2,
    )
    far = (
        b1.orderBy(F.col("dist").desc(), F.col("node").asc()).limit(1).first()
    )
    u, ecc_seed = far["node"], int(far["dist"])
    b2 = sssp_weighted(
        sym,
        spark.createDataFrame([(u,)], "node string"),
        max_rounds=DIAM_MAX_HOPS,
        n_edges_hint=hint,
        pin_cadence=2,
    )
    stats = b2.agg(
        F.max("dist").cast("long").alias("diameter_lb"),
        F.count("*").cast("long").alias("n_reached_2"),
    ).first()
    n1 = b1.count()
    return spark.createDataFrame(
        [
            (
                seed0,
                u,
                ecc_seed,
                int(stats["diameter_lb"]),
                int(n1),
                int(stats["n_reached_2"]),
                "minlabel"
                if int(stats["diameter_lb"]) <= CC_MAX_ROUNDS
                else "logstar",
            )
        ],
        "seed_node string, far_node string, ecc_seed long, diameter_lb long, "
        "n_reached_1 long, n_reached_2 long, kernel_choice string",
    )


QUERIES = {
    "q_pagerank": q_pagerank,
    "q_graph_reach": q_graph_reach,
    "q_label_prop": q_label_prop,
    "q_connected_components": q_connected_components,
    "q_connected_components_logstar": q_connected_components_logstar,
    "q_triangle_count": q_triangle_count,
    "q_kcore": q_kcore,
    "q_scc": q_scc,
    "q_condensation": q_condensation,
    "q_sssp": q_sssp,
    "q_trustrank": q_trustrank,
    "q_diameter_probe": q_diameter_probe,
}

# The oracle recomputes n_nodes exactly from the same graph definition and
# expects every invariant flag TRUE — PageRank's values are engine-local,
# but mass conservation / teleport floor / hub dominance are not.
ORACLE: dict[str, str] = {
    "q_pagerank": """
        WITH trade AS (
          SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        SELECT CAST((SELECT count(DISTINCT cust) FROM trade)
                  + (SELECT count(DISTINCT supp) FROM trade) AS BIGINT) AS n_nodes,
               TRUE AS mass_conserved_ok,
               TRUE AS teleport_floor_ok,
               TRUE AS hub_outranks_ok
    """,
}

_NODE_HEX8 = md5_hex_sql("node")

ORACLE["q_graph_reach"] = f"""
    WITH RECURSIVE
    trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    seeds AS (
      SELECT DISTINCT 's' || s_suppkey AS node
      FROM supplier WHERE s_suppkey % {REACH_SEED_MOD} = {REACH_SEED_REM}),
    reach(node, dist) AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
      UNION
      SELECT e.dst AS node, r.dist + 1 AS dist
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.dist < {REACH_MAX_HOPS}),
    best AS (SELECT node, min(dist) AS dist FROM reach GROUP BY node)
    SELECT dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum({_NODE_HEX8}) AS BIGINT) AS node_checksum,
           min(node) AS first_node,
           max(node) AS last_node
    FROM best GROUP BY dist
"""

def _sssp_rounds_sql(rounds: int) -> str:
    """Unrolled Bellman-Ford relaxations as chained CTEs: d{i} = min per
    node over (d{i-1} carried forward ∪ one-edge relaxations of d{i-1}).
    Exact for any ``rounds`` ≥ the fixpoint's hop count — further rounds
    are no-ops — and each d{i} is at most |V| rows, so the unroll stays
    linear (contrast a recursive (node, dist) enumeration, which cycles
    forever on a cyclic graph because longer-and-costlier paths keep
    producing new rows).

    Every CTE is MATERIALIZED: each d{i} references d{i-1} TWICE (the
    carry-forward leg and the relaxation leg), and DuckDB 1.0 inlines
    multiply-referenced CTEs by default — an inlined 12-round chain
    expands 2^12 copies of the base scans (first symptom: 'Too many
    open files' on the parquet views before the planner even runs)."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i - 1} d JOIN edges e ON e.src = d.node)
      GROUP BY node)"""
        )
    return ",\n    ".join(parts)


ORACLE["q_trustrank"] = f"""
    WITH RECURSIVE
    trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    seeds AS (
      SELECT DISTINCT 's' || s_suppkey AS node
      FROM supplier WHERE s_suppkey % {REACH_SEED_MOD} = {REACH_SEED_REM}),
    reach(node, dist) AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
      UNION
      SELECT e.dst AS node, r.dist + 1 AS dist
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.dist < {PPR_ITERS})
    SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_reached,
           (SELECT CAST(count(*) AS BIGINT) FROM seeds) AS n_seeds,
           TRUE AS mass_conserved_ok,
           TRUE AS seed_floor_ok
    FROM reach
"""

ORACLE["q_sssp"] = f"""
    WITH trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp,
             CAST(1 + (o_custkey + l_suppkey) % {SSSP_W_MOD} AS BIGINT) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges0 AS (
      SELECT cust AS src, supp AS dst, w FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst, w FROM trade),
    edges AS MATERIALIZED (
      SELECT src, dst, min(w) AS w FROM edges0 GROUP BY src, dst),
    d0 AS MATERIALIZED (
      SELECT DISTINCT 's' || s_suppkey AS node, CAST(0 AS BIGINT) AS dist
      FROM supplier WHERE s_suppkey % {REACH_SEED_MOD} = {REACH_SEED_REM}),
    {_sssp_rounds_sql(SSSP_ORACLE_ROUNDS)}
    SELECT dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum({{node_hex}}) AS BIGINT) AS node_checksum,
           min(node) AS first_node,
           max(node) AS last_node
    FROM d{SSSP_ORACLE_ROUNDS} GROUP BY dist
""".replace("{node_hex}", _NODE_HEX8)


def _lp_rounds_sql(rounds: int) -> str:
    """Unrolled LPA rounds as chained CTEs — possible because the round
    count is a small fixed constant and each round is a pure function of
    the previous labeling (the determinism contract of
    ``label_propagation``).  Mirrors the kernel's DIRECTED semantics
    exactly: per round, w{i} is the in-neighbor argmax (ties by min
    label) and l{i} left-joins it back so a node with no in-edges keeps
    its previous label (the carry-forward leg) — on a symmetric edge
    list the carry-forward is vacuous, but the oracle no longer depends
    on symmetry to agree with ``label_propagation``."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f"""c{i} AS (
      SELECT e.dst AS node, l.label, count(*) AS c
      FROM edges e JOIN l{i - 1} l ON l.node = e.src
      GROUP BY e.dst, l.label),
    w{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM c{i}) WHERE rn = 1),
    l{i} AS (
      SELECT l.node, coalesce(w.label, l.label) AS label
      FROM l{i - 1} l LEFT JOIN w{i} w ON w.node = l.node)"""
        )
    return ",\n    ".join(parts)


ORACLE["q_label_prop"] = f"""
    WITH trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    l0 AS (
      SELECT node, node AS label FROM (
        SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges)),
    {_lp_rounds_sql(LP_ROUNDS)}
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum({_NODE_HEX8}) AS BIGINT) AS member_checksum,
           min(node) AS first_member,
           max(node) AS last_member
    FROM l{LP_ROUNDS} GROUP BY label
"""

ORACLE["q_connected_components"] = f"""
    WITH RECURSIVE
    trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity = {CC_QTY} AND l_suppkey % {CC_SUPP_MOD} = 0),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    -- reachable-pairs closure: (node, label) for every label whose owner
    -- can reach node; min over labels = the component's min id (exact,
    -- quadratic-in-component-size — verification twin only)
    r(node, label) AS (
      SELECT node, node AS label FROM nodes
      UNION
      SELECT e.dst AS node, r.label
      FROM r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node, min(label) AS component FROM r GROUP BY node)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum({_NODE_HEX8}) AS BIGINT) AS member_checksum,
           min(node) AS first_member,
           max(node) AS last_member,
           min(node) = component AS canonical_id_ok
    FROM comp GROUP BY component
"""

ORACLE["q_connected_components_logstar"] = ORACLE["q_connected_components"]

ORACLE["q_diameter_probe"] = f"""
    WITH RECURSIVE
    trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity = {CC_QTY} AND l_suppkey % {CC_SUPP_MOD} = 0),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    seed AS (SELECT min(src) AS node FROM edges),
    r1(node, dist) AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM seed
      UNION
      SELECT e.dst, r1.dist + 1
      FROM r1 JOIN edges e ON e.src = r1.node
      WHERE r1.dist < {DIAM_MAX_HOPS}),
    b1 AS (SELECT node, min(dist) AS dist FROM r1 GROUP BY node),
    far AS (
      SELECT node, dist FROM b1 ORDER BY dist DESC, node ASC LIMIT 1),
    r2(node, dist) AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM far
      UNION
      SELECT e.dst, r2.dist + 1
      FROM r2 JOIN edges e ON e.src = r2.node
      WHERE r2.dist < {DIAM_MAX_HOPS}),
    b2 AS (SELECT node, min(dist) AS dist FROM r2 GROUP BY node)
    SELECT (SELECT node FROM seed) AS seed_node,
           (SELECT node FROM far) AS far_node,
           (SELECT dist FROM far) AS ecc_seed,
           (SELECT max(dist) FROM b2) AS diameter_lb,
           (SELECT CAST(count(*) AS BIGINT) FROM b1) AS n_reached_1,
           (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n_reached_2,
           CASE WHEN (SELECT max(dist) FROM b2) <= {CC_MAX_ROUNDS}
                THEN 'minlabel' ELSE 'logstar' END AS kernel_choice
"""

ORACLE["q_scc"] = f"""
    WITH RECURSIVE
    li AS (
      SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem
      WHERE l_quantity = {CC_QTY} AND l_suppkey % {CC_SUPP_MOD} = 0),
    j AS (
      SELECT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp, l_returnflag
      FROM li JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT DISTINCT cust AS src, supp AS dst FROM j
      UNION
      SELECT DISTINCT supp AS src, cust AS dst FROM j WHERE l_returnflag = 'R'),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    -- forward reachable-pairs closure; mutual pairs = same SCC
    r(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b),
    mutual AS (
      SELECT r1.a AS u, r1.b AS v
      FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a),
    scc AS (
      SELECT node, least(node, coalesce(min(v), node)) AS scc_id
      FROM nodes LEFT JOIN mutual ON u = node GROUP BY node)
    SELECT scc_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum({_NODE_HEX8}) AS BIGINT) AS member_checksum,
           min(node) AS first_member,
           max(node) AS last_member,
           min(node) = scc_id AS canonical_id_ok,
           count(*) > 1 AS is_nontrivial
    FROM scc GROUP BY scc_id
"""


ORACLE["q_condensation"] = f"""
    WITH RECURSIVE
    li AS (
      SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem
      WHERE l_quantity = {CC_QTY} AND l_suppkey % {CC_SUPP_MOD} = 0),
    j AS (
      SELECT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp, l_returnflag
      FROM li JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT DISTINCT cust AS src, supp AS dst FROM j
      UNION
      SELECT DISTINCT supp AS src, cust AS dst FROM j WHERE l_returnflag = 'R'),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    r(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b),
    mutual AS (
      SELECT r1.a AS u, r1.b AS v
      FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a),
    scc AS (
      SELECT node, least(node, coalesce(min(v), node)) AS scc_id
      FROM nodes LEFT JOIN mutual ON u = node GROUP BY node),
    cond AS (
      SELECT DISTINCT su.scc_id AS src, sv.scc_id AS dst
      FROM edges e
      JOIN scc su ON su.node = e.src
      JOIN scc sv ON sv.node = e.dst
      WHERE su.scc_id <> sv.scc_id),
    -- longest path from any source: enumerate all path lengths ending
    -- at each condensation node (terminates: the condensation is a DAG)
    pl(c, l) AS (
      SELECT scc_id, 0 FROM (SELECT DISTINCT scc_id FROM scc)
      UNION
      SELECT cond.dst, pl.l + 1 FROM pl JOIN cond ON cond.src = pl.c),
    lv AS (SELECT c AS scc_id, max(l) AS depth FROM pl GROUP BY c),
    sz AS (SELECT scc_id, count(*) AS n_nodes FROM scc GROUP BY scc_id)
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_sccs,
           CAST(sum(n_nodes) AS BIGINT) AS n_member_nodes,
           CAST(sum({md5_hex_sql("scc_id")}) AS BIGINT) AS scc_checksum,
           min(lv.scc_id) AS first_scc,
           max(lv.scc_id) AS last_scc
    FROM lv JOIN sz USING (scc_id) GROUP BY depth
"""


def _kcore_rounds_sql(rounds: int, k: int) -> str:
    """Unrolled k-core peel rounds as chained CTEs (the LPA fixed-round
    oracle discipline): a{{i}} = nodes of a{{i-1}} whose degree in the
    a{{i-1}}-induced subgraph is >= k.  AS MATERIALIZED is load-bearing:
    each round references a{{i-1}} TWICE (both join sides), so DuckDB's
    default CTE inlining re-expands the whole chain 2^rounds-fold
    (measured: ~2 min for 8 rounds on 170 edges; materialized: ms)."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (
      SELECT node FROM (
        SELECT e.dst AS node, count(*) AS c
        FROM edges e
        JOIN a{i - 1} s ON s.node = e.src
        JOIN a{i - 1} t ON t.node = e.dst
        GROUP BY e.dst) WHERE c >= {k})"""
        )
    return ",\n    ".join(parts)


ORACLE["q_kcore"] = f"""
    WITH trade AS (
      SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity = {CC_QTY} AND l_suppkey % {CC_SUPP_MOD} = 0),
    edges AS (
      SELECT cust AS src, supp AS dst FROM trade
      UNION ALL
      SELECT supp AS src, cust AS dst FROM trade),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    {_kcore_rounds_sql(KCORE_ROUNDS, KCORE_K)},
    deg AS (
      SELECT e.dst AS node, CAST(count(*) AS BIGINT) AS core_degree
      FROM edges e
      JOIN a{KCORE_ROUNDS} s ON s.node = e.src
      JOIN a{KCORE_ROUNDS} t ON t.node = e.dst
      GROUP BY e.dst),
    conv AS (
      SELECT (SELECT count(*) FROM a{KCORE_ROUNDS})
           = (SELECT count(*) FROM a{KCORE_ROUNDS - 1}) AS converged)
    SELECT node, core_degree, converged FROM deg CROSS JOIN conv
"""

ORACLE["q_triangle_count"] = f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_quantity <= {TRI_QTY_MAX}),
    edges AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM li x JOIN li y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri),
    cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
            FROM corners GROUP BY node),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
      GROUP BY node)
    SELECT CAST(cnt.node AS BIGINT) AS node, n_tri, degree
    FROM cnt JOIN deg USING (node)
"""

ROWS_ONLY: set[str] = set()
