"""Plan-shape regression tests: the 100 TB properties (SURVEY §4).

These assert the *physical* plan, because a correctness-green query with a
broken plan (lost pushdown, accidental global sort, missed broadcast) is
exactly the regression that only shows up at scale.
"""

from kinesis2elastic_spark.operators import relational as r
from kinesis2elastic_spark.plans.explain import (
    assert_plan,
    formatted_plan,
    pushed_filters,
    read_schema,
)


def test_projection_prunes_scan(spark, sf_dir):
    # 3 of 11 lineitem columns in ReadSchema — column pruning reached parquet
    rs = read_schema(r.q_scan_project(spark, sf_dir))
    assert rs and "l_orderkey" in rs[0] and "l_shipdate" not in rs[0]


def test_filters_push_to_parquet(spark, sf_dir):
    pf = "\n".join(pushed_filters(r.q_filter(spark, sf_dir)))
    assert "l_quantity" in pf and "l_shipdate" in pf


def test_agg_filter_pushdown(spark, sf_dir):
    pf = "\n".join(pushed_filters(r.q_pricing_agg(spark, sf_dir)))
    assert "l_shipdate" in pf


def test_star_join_broadcasts_dims(spark, sf_dir):
    assert_plan(
        r.q_join_star(spark, sf_dir),
        contains=("BroadcastHashJoin",),
        absent=("CartesianProduct",),
    )


def test_sort_limit_is_topk_not_global_sort(spark, sf_dir):
    assert_plan(r.q_sort_limit(spark, sf_dir), contains=("TakeOrderedAndProject",))


def test_topk_per_group_uses_group_limit(spark, sf_dir):
    # WindowGroupLimit: per-partition top-K before the shuffle
    assert_plan(r.q_topk_per_group(spark, sf_dir), contains=("WindowGroupLimit",))


def test_range_joins_broadcast_small_side(spark, sf_dir):
    from kinesis2elastic_spark.operators.pipeline import q_geoip_join

    assert_plan(r.q_join_range(spark, sf_dir), contains=("BroadcastNestedLoopJoin",))
    assert_plan(q_geoip_join(spark, sf_dir), contains=("BroadcastNestedLoopJoin",))


def test_minhash_band_join_shuffles_ids_only(spark, sf_dir):
    """The LSH band self-join must never shuffle shingle arrays: every
    Exchange in the candidate-pair plan carries only id/hash columns
    (doc ids + band keys), and the bucket-size guard is present as a
    window count over (band_id, band_hash)."""
    import re

    from kinesis2elastic_spark.operators.llmops import _minhash_band_candidates

    plan = formatted_plan(_minhash_band_candidates(spark, sf_dir))
    assert "_shingles" not in plan
    exchanges = re.findall(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])", plan)
    assert exchanges, "no Exchange nodes found"
    for inp in exchanges:
        assert "_shingles" not in inp and "minhash" not in inp, inp
    assert "Window" in plan  # bucket-size guard


def test_udf_does_not_block_envelope_pruning(spark, sf_dir):
    """The decode chain must parse the payload once per record (not per
    exploded event): above the input's own plan there is exactly one
    ArrowEvalPython, the gunzip, placed between the ``records`` explode and
    the ``logEvents`` explode that it feeds, never above the latter."""
    import re

    from kinesis2elastic_spark.operators.decode import build_envelopes, decode_envelopes

    plan = formatted_plan(decode_envelopes(build_envelopes(spark, sf_dir)))
    # Node details come in operator-id order: bottom-up along this linear plan.
    nodes = [
        (m.group(1), section)
        for section in plan.split("\n\n")
        if (m := re.match(r"\(\d+\) (\w+)", section))
    ]
    records = [i for i, (n, s) in enumerate(nodes) if n == "Generate" and "explode(records#" in s]
    events = [i for i, (n, s) in enumerate(nodes) if n == "Generate" and "explode(_logEvents#" in s]
    assert len(records) == 1 and len(events) == 1, plan
    chain_udfs = [i for i, (n, _) in enumerate(nodes) if n == "ArrowEvalPython" and i > records[0]]
    assert len(chain_udfs) == 1, plan
    assert records[0] < chain_udfs[0] < events[0]
    assert "gunzip_text(" in nodes[chain_udfs[0]][1]


def test_decontam_broadcasts_benchmark_side(spark, sf_dir):
    # The benchmark shingle set must broadcast: the training corpus side
    # streams through a map-side hash probe, never a sort-merge shuffle.
    from kinesis2elastic_spark.operators.corpus import q_decontam

    assert_plan(
        q_decontam(spark, sf_dir),
        contains=("BroadcastHashJoin",),
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_pii_redact_is_scan_projection(spark, sf_dir):
    # Redaction is stateless: no Exchange anywhere in the plan.
    from kinesis2elastic_spark.operators.corpus import q_pii_redact

    assert_plan(q_pii_redact(spark, sf_dir), absent=("Exchange",))


def test_doc_chunk_has_no_shuffle(spark, sf_dir):
    # Chunking is a pure flat-map (sequence + explode + substring):
    # any Exchange would mean an accidental repartition of 100 TB of text.
    from kinesis2elastic_spark.operators.corpus import q_doc_chunk

    assert_plan(q_doc_chunk(spark, sf_dir), contains=("Generate",), absent=("Exchange",))


def test_tfidf_broadcasts_corpus_size(spark, sf_dir):
    # The 1-row corpus-size side must broadcast; the tf/df join must not
    # degrade to a cartesian product over the posting list.
    from kinesis2elastic_spark.operators.corpus import q_tfidf

    assert_plan(
        q_tfidf(spark, sf_dir),
        contains=("BroadcastNestedLoopJoin",),
        absent=("CartesianProduct",),
    )


def test_session_overlap_is_equi_join_on_cells(spark, sf_dir):
    # The interval self-join must plan as a hash join keyed on the grid
    # cell — never a nested-loop over all session pairs.
    from kinesis2elastic_spark.operators.temporal import q_session_overlap

    assert_plan(
        q_session_overlap(spark, sf_dir),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_funnel_stays_equi_join(spark, sf_dir):
    # Conditional-min stages must compose as equi-joins on user_id —
    # a nested-loop here would rescan event history per user at scale.
    from kinesis2elastic_spark.operators.sequence import q_event_funnel

    assert_plan(
        q_event_funnel(spark, sf_dir),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_tpch_exists_plans_as_semi_join(spark, sf_dir):
    # Q4's EXISTS must plan as a (left-)semi join against lineitem, never
    # a per-order re-scan; Q22's NOT EXISTS as an anti join.
    from kinesis2elastic_spark.operators.tpch import QUERIES

    q4 = formatted_plan(QUERIES["q_sql_q4"](spark, sf_dir))
    assert "Semi" in q4 and "CartesianProduct" not in q4
    q22 = formatted_plan(QUERIES["q_sql_q22"](spark, sf_dir))
    assert "Anti" in q22 and "CartesianProduct" not in q22


def test_tpch_q8_broadcasts_dims(spark, sf_dir):
    # The 7-table market-share join: dim sides (nation x2, region, part,
    # supplier at TPC-H ratios) broadcast; no cartesian anywhere.
    from kinesis2elastic_spark.operators.tpch import QUERIES

    assert_plan(
        QUERIES["q_sql_q8"](spark, sf_dir),
        contains=("BroadcastHashJoin",),
        absent=("CartesianProduct",),
    )


def test_tpch_q17_threshold_is_aggregate_join(spark, sf_dir):
    # The correlated 0.2*avg(qty per part) threshold must rewrite to an
    # aggregate-then-join, not a per-row subquery (no nested-loop node).
    from kinesis2elastic_spark.operators.tpch import QUERIES

    plan = formatted_plan(QUERIES["q_sql_q17"](spark, sf_dir))
    assert "HashAggregate" in plan and "CartesianProduct" not in plan


def test_vocab_oov_topv_and_broadcast(spark, sf_dir):
    # Vocab induction: top-V must compile to TakeOrderedAndProject (no
    # global sort of the word counts) and the vocab probe must broadcast.
    from kinesis2elastic_spark.operators.corpus import q_vocab_oov

    assert_plan(
        q_vocab_oov(spark, sf_dir),
        contains=("TakeOrderedAndProject", "BroadcastHashJoin"),
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_aqe_splits_skewed_join(spark):
    """The runtime half of the skew story (skew.py is the manual half):
    under AQE, a sort-merge join with one hot key must be re-planned with
    skew-split partitions — the final adaptive plan carries skew=true.
    Thresholds are lowered so local-scale data triggers the same code
    path a hot 100 TB key would."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 220_000).select(
            F.when(F.col("id") < 200_000, 0).otherwise((F.col("id") % 99) + 1).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 200_000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("w")
        )
        j = left.join(right, "k")
        # drive THIS QueryExecution (write/count build their own) so the
        # final adaptive plan is attached to it
        j._jdf.queryExecution().toRdd().count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scd2_history_single_exchange(spark, sf_dir):
    """lag() and lead() in q_scd2_history share one window spec, so both
    Window passes must reuse a single hashpartitioning(user_id) Exchange —
    a second Exchange would double-shuffle the event stream at scale."""
    from kinesis2elastic_spark.operators.tableops import q_scd2_history

    plan = formatted_plan(q_scd2_history(spark, sf_dir))
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, f"expected exactly 1 Exchange, got {n_exchanges}:\n{plan[:4000]}"


def test_tpch_q21_semi_anti_pair_no_cartesian(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must plan as LeftSemi + LeftAnti hash
    joins over the fact self-reference — never a per-row subquery or a
    cartesian expansion."""
    from kinesis2elastic_spark.operators import tpch

    assert_plan(
        tpch.QUERIES["q_sql_q21"](spark, sf_dir),
        contains=("LeftSemi", "LeftAnti"),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_tpch_q2_correlated_min_is_aggregate_join(spark, sf_dir):
    """Q2's correlated per-part MIN must decorrelate into one aggregate
    joined back on partkey (plus broadcast dims), not re-execute per row."""
    from kinesis2elastic_spark.operators import tpch

    plan = formatted_plan(tpch.QUERIES["q_sql_q2"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partsupp agg + the min agg
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_disjunction_pushes_brand_filter(spark, sf_dir):
    """Q19's three-way OR residual: the common join still runs as an
    equi-join on partkey with the disjunction as a post-join filter (or
    pushed residual) — never a nested-loop."""
    from kinesis2elastic_spark.operators import tpch

    assert_plan(
        tpch.QUERIES["q_sql_q19"](spark, sf_dir),
        contains=("BroadcastHashJoin",),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_tpch_q20_nested_in_stacks_semi_joins(spark, sf_dir):
    """Q20's double-nested IN must stack two left-semi joins."""
    from kinesis2elastic_spark.operators import tpch

    plan = formatted_plan(tpch.QUERIES["q_sql_q20"](spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_curation_pipeline_single_scan_two_shuffles(spark, sf_dir):
    """The composed curation chain (lang gate -> quality gate -> dedup
    keep-first -> per-source budget) must collapse into ONE documents scan
    and exactly two exchanges: the md5-digest dedup window and the final
    per-source aggregate.  A third exchange means an intermediate
    materialization crept between the row-local stages."""
    from kinesis2elastic_spark.operators.llmops import q_curation_pipeline

    import re

    plan = formatted_plan(q_curation_pipeline(spark, sf_dir))
    # the detail section lists each node once as "(n) NodeName"
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(scans) == 1, plan
    assert len(exchanges) <= 2, plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_broadcasts_vocab_single_doc_exchange(spark, sf_dir):
    """q_bpe_encode's corpus-sized work must be one scan-side explode +
    BROADCAST join against the (checkpointed, replace-chained) vocab and
    one partial-agg exchange on doc_id — a shuffle keyed by word would
    move the whole exploded corpus; more than one replace Project means
    the merge chain stopped fusing."""
    import re

    from kinesis2elastic_spark.operators.corpus import q_bpe_encode

    plan = formatted_plan(q_bpe_encode(spark, sf_dir, n_rounds=3))
    assert "BroadcastHashJoin" in plan, plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_shard_manifest_partial_agg_only(spark, sf_dir):
    """q_shard_manifest is a 10-key accounting pass: one documents scan,
    one exchange carrying only the combined partials (shard_id + ints),
    no join, no window."""
    import re

    from kinesis2elastic_spark.operators.corpus import q_shard_manifest

    plan = formatted_plan(q_shard_manifest(spark, sf_dir))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(scans) == 1, plan
    assert len(exchanges) == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_time_weighted_avg_single_exchange_pruned_scan(spark, sf_dir):
    """The r5 integer-space rebuild must keep the r4 plan shape: one
    hashpartitioning(user_id) Exchange feeds BOTH the lead() window and
    the final aggregate (partial+final HashAggregate, no second shuffle),
    and the scan reads only the 4 needed columns of events."""
    from kinesis2elastic_spark.operators.temporal import q_time_weighted_avg

    df = q_time_weighted_avg(spark, sf_dir)
    plan = formatted_plan(df)
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, f"expected exactly 1 Exchange, got {n_exchanges}:\n{plan[:4000]}"
    rs = read_schema(df)
    assert rs and "value" in rs[0] and "props" not in rs[0]


def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout + partition-key filter must prune at PLAN
    time: the scan's PartitionFilters carry the predicate and the data
    filter disappears (no per-row evaluation of the partition key) — the
    difference between reading one directory and reading 100 TB."""
    from kinesis2elastic_spark.catalog import load
    from kinesis2elastic_spark.operators.layout import write_partitioned_sorted

    dst = str(tmp_path / "events_by_type")
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    write_partitioned_sorted(ev, dst, "event_type", "ts")

    df = spark.read.parquet(dst).filter("event_type = 'click'")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]
    # pruning happened at plan time: the partition predicate is NOT also a
    # post-scan data Filter (inputFiles() can't show pruning — it lists the
    # relation's files before planning)
    assert df.count() == ev.filter("event_type = 'click'").count()


def test_quality_buckets_no_global_sort(spark, sf_dir):
    """The r6/r7/r8 evolution of q_quality_buckets (VERDICT r5 #3, r6 #2,
    r7 #3): exact ntile semantics with NO data-proportional
    single-partition stage, and the tie-break recursion GATED on the
    footer row count.  Both gate branches are pinned here:

    - fast path (n <= threshold, this fixture): plain hash-partitioned
      row_number window on the quantized score — the cheapest exact
      plan, NO sub-bucket machinery in it;
    - recursion path (forced via tie_threshold=0): the row window is
      partitioned by (qscore, sub-bucket), so a fully saturated score
      (ONE tie group) spreads over ~4096 range buckets instead of one
      task.

    In both: no ntile/global-sort over the documents scan, and the only
    SinglePartition exchange sits above a HashAggregate (the bounded
    histogram), never raw corpus rows."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.llmops import (
        distributed_ntile,
        q_quality_buckets,
    )

    def _checks(plan):
        assert "ntile" not in plan, plan[:3000]
        assert "row_number() windowspecdefinition(qscore" in plan, plan[:3000]
        for tail in plan.split("Exchange SinglePartition")[1:]:
            nxt = "\n".join(tail.splitlines()[:3])
            assert "HashAggregate" in nxt, (
                f"SinglePartition over non-aggregated rows:\n{tail[:1500]}"
            )
        assert "BroadcastHashJoin" in plan

    # fast path: the sf0.001 corpus is under the tie threshold
    df = q_quality_buckets(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    _checks(plan)
    assert "__dn_sub" not in plan, plan[:3000]  # no recursion machinery

    # recursion path, forced: sub-bucketed window spec
    from kinesis2elastic_spark.catalog import load

    s = load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") % 100).cast("long").alias("qscore")
    )
    df2 = distributed_ntile(s, "qscore", "doc_id", 10, tie_threshold=0)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    _checks(plan2)
    assert "__dn_sub" in plan2.split(
        "row_number() windowspecdefinition", 1
    )[1][:120], plan2[:3000]


def test_weighted_sample_is_topk_not_global_sort(spark, sf_dir):
    """B115: selection must plan TakeOrderedAndProject (per-partition
    top-k heap), never a rangepartitioned global sort of the corpus."""
    from kinesis2elastic_spark.operators import corpus as c

    assert_plan(
        c.q_weighted_sample(spark, sf_dir),
        contains=("TakeOrderedAndProject",),
        absent=("rangepartitioning",),
    )


def test_winsorize_no_global_sort(spark, sf_dir):
    """B116: the clamp+agg plan is scan → partial agg → one hash
    exchange; the quantile pass must not leave a global sort behind."""
    from kinesis2elastic_spark.operators import relational_ext as rx

    assert_plan(
        rx.q_winsorize(spark, sf_dir),
        contains=("HashAggregate",),
        absent=("rangepartitioning", "CartesianProduct"),
    )


def test_auc_window_runs_on_score_groups_not_corpus(spark, sf_dir):
    """B117: the single-partition rank window must consume the per-score
    GROUPED relation — the corpus collapses through a hashpartitioning
    exchange on the score BEFORE the SinglePartition exchange, so the
    window's input is |score domain| rows, never |corpus|."""
    from kinesis2elastic_spark.operators import llmops as lo

    plan = formatted_plan(lo.q_auc_exact(spark, sf_dir))
    assert "hashpartitioning(s#" in plan  # corpus collapses per score first
    single = plan.find("Arguments: SinglePartition")
    assert single != -1
    # the SinglePartition exchange's input row set is the GROUPED one:
    # its Input line (printed just above the Arguments line) carries the
    # per-score pos/neg aggregates, not raw corpus columns
    input_line = plan[:single].rsplit("Input", 1)[1]
    assert "pos#" in input_line and "neg#" in input_line
    assert "lang#" not in input_line and "n_chars#" not in input_line


def test_survivorship_single_shuffle_all_fields(spark, sf_dir):
    """B123: all per-field survivors reduce in ONE user-keyed exchange —
    a per-field window/join formulation would multiply shuffles."""
    from kinesis2elastic_spark.operators import tableops as tb

    plan = formatted_plan(tb.q_survivorship(spark, sf_dir))
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id#" in plan


def test_top_p_windows_share_one_shuffle(spark, sf_dir):
    """B121: the running-mass window and the group-total window share the
    same source-keyed exchange (same partition key) — and nothing plans
    a global sort."""
    from kinesis2elastic_spark.operators import corpus as c

    plan = formatted_plan(c.q_top_p_mass(spark, sf_dir))
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(source#" in plan
    assert "rangepartitioning" not in plan


def test_matview_merge_is_copartitioned(spark, sf_dir):
    """B126: base and delta aggregate through their two partial-agg
    exchanges on the SAME keys; the full-outer merge reuses that
    partitioning (no third exchange, no broadcast of a growing MV)."""
    from kinesis2elastic_spark.operators import tableops as tb

    plan = formatted_plan(tb.q_matview_delta(spark, sf_dir))
    assert plan.count("+- Exchange") == 2
    assert "CartesianProduct" not in plan and "rangepartitioning" not in plan


def test_collocations_vocab_broadcast_no_selfjoin(spark, sf_dir):
    """B134: the top-V vocabulary reaches the token stream as a BROADCAST
    join and pairs are generated map-side (higher-order explode) — no
    doc-keyed self-join, no cartesian, no global sort."""
    from kinesis2elastic_spark.operators import corpus as c

    plan = formatted_plan(c.q_collocations(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan
    assert "TakeOrderedAndProject" in plan  # the V-row vocab fit


def test_compaction_plan_metadata_windows_only(spark, sf_dir):
    """B135: the plan is one manifest aggregate plus source-keyed windows
    — no global sort of anything, no single-partition exchange over
    non-aggregated rows."""
    from kinesis2elastic_spark.operators import tableops as tb

    plan = formatted_plan(tb.q_compaction_plan(spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(source#" in plan


def test_qhist_partials_map_combinable(spark, sf_dir):
    """B136: the histogram partial-aggregate combines map-side before its
    one exchange (counter cells, not raw rows, shuffle)."""
    from kinesis2elastic_spark.catalog import load
    from kinesis2elastic_spark.streaming.quantile_stream import qhist_partials

    df = qhist_partials(
        load(spark, sf_dir, "events").select("event_type", "value")
    )
    plan = formatted_plan(df)
    assert plan.count("+- Exchange") == 1
    assert "partial_count" in plan
    assert "rangepartitioning" not in plan


def test_cc_edge_prep_single_exchange(spark, sf_dir):
    """B137/B139 edge prep: dedup fused into the one co-partitioning
    exchange — HashPartitioning(src) satisfies ClusteredDistribution
    (src, dst), so dropDuplicates adds NO exchange after the repartition
    (broadcast exchanges of the small orders side excluded)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.graph import _trade_edges_sparse

    e = (
        _trade_edges_sparse(spark, sf_dir, dedup=False)
        .select("src", "dst")
        .repartition(8, "src")
        .dropDuplicates(["src", "dst"])
    )
    plan = formatted_plan(e)
    import re

    shuffle_ids = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", plan))
    assert len(shuffle_ids) == 1, plan
    assert "SortMergeJoin" not in plan and "rangepartitioning" not in plan


def test_time_travel_scan_prunes_to_snapshot_files(spark, sf_dir, tmp_path):
    """B138: the as-of scan touches EXACTLY the snapshot manifest's
    files — later versions and uncommitted orphans never reach the
    planner (checked via input_file_name over the actual scan)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(1, "a")], schema).coalesce(1), 0
    )
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(2, "b")], schema).coalesce(1), 1
    )
    spark.createDataFrame([(9, "z")], schema).write.parquet(table + "/data/c9")
    scanned = {
        r[0].replace("file://", "")
        for r in tt.read_asof(spark, table, 0)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert scanned == set(tt.manifest_files(table, 0))


def test_pin_keeps_partitioning_collection(spark):
    """r14: a frame whose partition column is aliased (the min-label
    kernels' init: ``withColumn("label", col("node")).repartition(n,
    "node")``) advertises a PartitioningCollection (hash(node),
    hash(label)).  pin() must keep the WHOLE collection — collapsing to
    an arbitrary head member used to leave the leaf claiming only the
    alias, so a node-keyed loop join re-shuffled the pinned side every
    round (one silent ENSURE_REQUIREMENTS exchange per round until the
    first cadence re-pin)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.plans.pinning import pin

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # an equi-join's output partitioning is the collection
        # (hash(left key), hash(right key)) — the deterministic way to
        # make the optimizer advertise one
        a = spark.range(1000).select(
            (F.col("id") % 50).alias("ka"), F.col("id").alias("va")
        ).repartition(8, "ka")
        b = spark.range(50).select(
            F.col("id").alias("kb"), (F.col("id") * 2).alias("vb")
        ).repartition(8, "kb")
        pinned = pin(a.join(b, a.ka == b.kb))
        for key in ("ka", "kb"):  # EITHER member must satisfy
            other = (
                spark.range(50)
                .select(F.col("id").alias(key), F.lit(1).alias("w"))
                .repartition(8, key)
            )
            plan = (
                pinned.join(other, key)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "ENSURE_REQUIREMENTS" not in plan, (key, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pin_preserves_partitioning(spark):
    """r11 ADVICE (medium): pin() must keep the checkpointed plan's
    outputPartitioning — a loop join on the pinned key must add NO
    ENSURE_REQUIREMENTS exchange on the pinned side.  The original
    internalCreateDataFrame rebuild produced UnknownPartitioning, so
    every iterative kernel silently re-shuffled its pinned
    co-partitioned state once per round at cluster scale."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.plans.pinning import pin

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = spark.range(1000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        pinned = pin(base.repartition(8, "k"))
        other = (
            spark.range(50)
            .select(F.col("id").alias("k"), F.lit(1).alias("w"))
            .repartition(8, "k")
        )
        joined = pinned.join(other, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the only exchange is `other`'s explicit repartition; the pinned
        # side must be consumed in place (and really be a bare RDD leaf —
        # no origin-stats chain for the optimizer to walk)
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        assert "Scan ExistingRDD" in plan, plan
        # values survive the rebuild
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_paragraph_dedup_no_window_on_para(spark, sf_dir):
    """B142 r11: the keep-first rule must be the map-combinable winner
    aggregate, never a row_number window partitioned by the raw
    paragraph — that key is GUARANTEED skewed at web scale (viral
    boilerplate) and a window cannot split a hot key across tasks.
    Pins: no Window node anywhere, and a partial min(struct) aggregate
    keyed by the md5 digest before its exchange."""
    from kinesis2elastic_spark.operators import llmops

    plan = formatted_plan(llmops.q_paragraph_dedup(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "partial" in plan.lower(), plan
    assert "md5" in plan.lower(), plan


def test_url_hierarchy_no_window_partial_aggs(spark, sf_dir):
    """B148: the (host, prefix) rollup must partial-aggregate map-side —
    no Window anywhere (the B142 discipline), partial count AND
    partial-distinct stages present, explode fan-out bounded by the
    depth cap (plan shows a single Generate)."""
    from kinesis2elastic_spark.operators.pipeline import q_url_hierarchy

    plan = formatted_plan(q_url_hierarchy(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "partial" in plan.lower(), plan
    assert plan.count("Generate") >= 1, plan


def test_sssp_edge_prep_min_collapse_single_exchange(spark, sf_dir):
    """B151 edge prep: the parallel-edge min-weight collapse is FUSED
    into the one co-partitioning exchange — HashPartitioning(src)
    satisfies the groupBy(src, dst) distribution, so the aggregate adds
    NO exchange after the repartition, and it partial-aggregates
    map-side (skew-safe for hub sources)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.graph import _trade_edges_weighted

    e = (
        _trade_edges_weighted(spark, sf_dir)
        .repartition(8, "src")
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    plan = formatted_plan(e)
    import re

    shuffle_ids = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", plan))
    assert len(shuffle_ids) == 1, plan
    assert "partial_min" in plan.lower() or "HashAggregate" in plan, plan


def test_trustrank_contribution_round_single_exchange(spark, sf_dir):
    """B154 iteration body: contributions repartition to hash(node) and
    the min-combine runs in place — exactly ONE shuffle exchange per
    iteration beyond the pinned leaves (broadcasts excluded)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.graph import (
        _trade_edges,
        personalized_pagerank,
    )
    from kinesis2elastic_spark.plans.pinning import pin

    edges = pin(
        _trade_edges(spark, sf_dir).select("src", "dst").repartition(8, "src")
    )
    ranks = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .limit(20)
        .withColumn("rank", F.lit(0.05))
        .repartition(8, "node")
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    links = pin(edges.join(out_deg, "src"))
    contribs = (
        links.join(ranks, links.src == ranks.node)
        .select(
            F.col("dst").alias("node"),
            (F.lit(0.85) * F.col("rank") / F.col("out_deg")).alias("c"),
        )
        .repartition(8, "node")
        .groupBy("node")
        .agg(F.sum("c").alias("contrib"))
    )
    plan = formatted_plan(contribs)
    import re

    shuffle_ids = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", plan))
    assert len(shuffle_ids) == 1, plan


def test_rank_fusion_broadcast_ranks_no_corpus_sort(spark, sf_dir):
    """B157: the three global dense ranks come from bounded-histogram
    broadcast maps — the corpus side must show three broadcast joins
    and NO sort-merge join / row-level range partitioning (a global
    sort of the corpus is exactly what the histogram trick removes)."""
    from kinesis2elastic_spark.operators.llmops import q_rank_fusion

    plan = formatted_plan(q_rank_fusion(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_expectations_rowlocal_checks_share_one_scan(spark, sf_dir):
    """B159: the four row-local expectations compile into ONE orders
    scan (conditional aggregates in a single Aggregate), not
    one-scan-per-check; only the FK anti-join reads orders again (keys
    only)."""
    from kinesis2elastic_spark.operators.tableops import q_expectations

    plan = formatted_plan(q_expectations(spark, sf_dir))
    n_orders_scans = plan.count("orders.parquet")
    assert n_orders_scans <= 2, plan  # 1 aggregate scan + 1 FK join side
    assert plan.count("lineitem.parquet") == 1, plan


def test_keyset_page_is_topk_with_pushed_cursor(spark, sf_dir):
    """B189: the keyset page compiles to TakeOrderedAndProject (never a
    global sort) and the composite cursor disjunction reaches the
    parquet scan as a pushed filter."""
    from kinesis2elastic_spark.operators.relational_ext import q_keyset_page

    plan = formatted_plan(q_keyset_page(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0], plan
    pf = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pf and "o_orderdate" in pf[0], plan
