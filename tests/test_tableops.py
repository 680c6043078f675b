"""Table-maintenance operator tests: profiler accounting, CDC tombstone
semantics, and the one-shuffle island-compression plan shape."""

from pyspark.sql import functions as F

from kinesis2elastic_spark.operators import tableops
from kinesis2elastic_spark.plans.explain import assert_plan, formatted_plan


def test_profile_accounts_for_all_rows(spark, sf_dir):
    rows = {r.col_name: r for r in tableops.q_profile_columns(spark, sf_dir).collect()}
    assert set(rows) == set(tableops.PROFILE_COLS)
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for r in rows.values():
        assert r.n_rows == n
        assert 0 <= r.n_nulls <= n
        assert r.n_distinct <= n - r.n_nulls
        assert abs(r.null_frac - r.n_nulls / n) < 1e-6


def test_cdc_latest_drops_tombstoned_keys(spark, sf_dir):
    out = tableops.q_cdc_latest(spark, sf_dir)
    assert out.filter(F.col("last_event_type") == "error").count() == 0
    # every surviving key's last_ts is the max ts for that key
    from kinesis2elastic_spark.catalog import load

    e = load(spark, sf_dir, "events")
    mx = e.groupBy("user_id").agg(F.max("ts").alias("mx"))
    bad = out.join(mx, "user_id").filter(F.col("last_ts") != F.col("mx")).count()
    assert bad == 0


def test_run_compress_single_shuffle(spark, sf_dir):
    # difference-of-row_numbers over one sort order: Catalyst must plan
    # exactly one Exchange (the window shuffle); the island aggregate rides
    # the same partitioning.
    plan = formatted_plan(tableops.q_run_compress(spark, sf_dir))
    n_exchanges = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and ") Exchange" in line
    )
    assert n_exchanges == 1, plan


def test_run_compress_rebuilds_history_lengths(spark, sf_dir):
    out = tableops.q_run_compress(spark, sf_dir)
    from kinesis2elastic_spark.catalog import load

    e = load(spark, sf_dir, "events")
    assert out.agg(F.sum("run_len")).first()[0] == e.count()
    assert out.filter(F.col("run_start") > F.col("run_end")).count() == 0


def test_outlier_mad_flags_planted_outlier(spark, tmp_path):
    """49 values at ~10 plus one at 1000: median ~10, MAD small, the 1000
    must be the single flagged outlier."""
    rows = [(i, "2024-01-01 00:00:00", 1, "a", 10.0 + (i % 5) * 0.1, "{}") for i in range(49)]
    rows.append((99, "2024-01-01 00:00:00", 1, "a", 1000.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = tableops.q_outlier_mad(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 50 and r.n_outliers == 1
    assert abs(r.med - 10.2) < 0.5


def test_fuzzy_join_recovers_planted_typos(spark, sf_dir):
    """Every probe (a 1-edit typo of a real name) must match its own
    original at edit distance 1; blocking must not lose it."""
    out = tableops.q_fuzzy_join(spark, sf_dir).collect()
    self_matches = {r.probe_key for r in out if r.match_key == r.probe_key}
    probe_keys = {r.probe_key for r in out}
    n_probes = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") % 97 == 0)
        .count()
    )
    assert len(self_matches) == n_probes  # no probe lost to blocking
    assert all(
        r.edit_dist == 1 for r in out if r.match_key == r.probe_key
    )  # the planted edit is exactly one deletion
    assert probe_keys == self_matches


def test_hop_batch_double_counts_each_event(spark, sf_dir):
    """win/slide = 2 -> total n across windows is exactly 2x the events;
    tumbling totals are preserved within each hour pair."""
    out = tableops.load(spark, sf_dir, "events")
    n_events = out.count()
    hopped = __import__(
        "kinesis2elastic_spark.operators.relational", fromlist=["r"]
    ).q_hop_batch(spark, sf_dir)
    total = hopped.agg(F.sum("n")).first()[0]
    assert total == 2 * n_events


def test_scd2_pit_unique_state_per_fact(spark, sf_dir):
    """Each matched fact event must land in exactly ONE validity interval
    (intervals partition the per-user timeline), and the join must stay
    an equi-join on user_id (no cartesian/nested-loop)."""
    from kinesis2elastic_spark.operators.tableops import q_scd2_pointintime
    from kinesis2elastic_spark.plans.explain import formatted_plan

    df = q_scd2_pointintime(spark, sf_dir)
    n_rows = df.count()
    n_facts = df.select("event_id").distinct().count()
    assert n_rows == n_facts and n_rows > 0
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_action_matrix(spark, sf_dir):
    """MERGE semantics: no delete rows survive; every user appears at
    most once; inserts carry source state, keeps carry target state."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.tableops import q_merge_upsert

    df = q_merge_upsert(spark, sf_dir)
    rows = df.collect()
    assert rows
    assert {r.action for r in rows} <= {"keep", "insert", "update"}
    ids = [r.user_id for r in rows]
    assert len(ids) == len(set(ids))  # one merged row per user
    # error-state rows can only appear via 'keep' (target untouched):
    # update/insert take the source state, and error sources are deletes
    assert all(r.action == "keep" for r in rows if r.state == "error")


def test_table_diff_kernel(spark):
    """B122: identical tables diff empty; a mutation surfaces ONLY the
    mutated key even when its bucket holds equal neighbors; one-sided
    keys carry the right present flags."""
    from kinesis2elastic_spark.operators.tableops import table_diff

    rows = [(i, f"t{i}") for i in range(1, 41)]
    mk = lambda rs: spark.createDataFrame(rs, "doc_id long, text string")  # noqa: E731
    fp = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("text")).cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    # identical -> empty
    assert table_diff(mk(rows), mk(rows), "doc_id", fp).count() == 0
    # mutate key 7, drop key 13, insert key 99
    replica = [(i, "MUT" if i == 7 else t) for i, t in rows if i != 13] + [(99, "new")]
    got = {
        r.doc_id: (r.in_src, r.in_dst)
        for r in table_diff(mk(rows), mk(replica), "doc_id", fp).collect()
    }
    assert got == {7: (True, True), 13: (True, False), 99: (False, True)}


def test_survivorship_null_does_not_erase(spark, tmp_path):
    """B123 semantics: a LATER row whose field is null must not erase an
    earlier non-null value; each field survives independently."""
    rows = [
        # user 1: purchase (value) at t1, then view (status) at t2 —
        # golden record keeps BOTH: value from t1, status from t2
        (1, "2024-01-01 00:00:00", 1, "purchase", 12.5, "{}"),
        (2, "2024-01-02 00:00:00", 1, "view", 0.0, "{}"),
        # user 2: status view t1 then click t2 -> click survives
        (3, "2024-01-01 00:00:00", 2, "view", 0.0, "{}"),
        (4, "2024-01-02 00:00:00", 2, "click", 0.0, "{}"),
        # user 3: errors only -> status/value null, error ts = latest
        (5, "2024-01-01 00:00:00", 3, "error", 0.0, "{}"),
        (6, "2024-01-03 00:00:00", 3, "error", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {r.user_id: r for r in tableops.q_survivorship(spark, str(tmp_path)).collect()}
    assert out[1].last_status == "view" and out[1].last_value_micro == 12500000
    assert out[2].last_status == "click" and out[2].last_value_micro is None
    assert out[3].last_status is None and str(out[3].last_error_ts).startswith("2024-01-03")


def test_matview_delta_merge_equals_recompute(spark, tmp_path):
    """B126: merged base+delta MV == one-shot recompute, including
    groups present on only one side of the cutoff."""
    rows = [
        # (orderkey, custkey, status, totalprice, orderdate)
        (1, 1, "F", 10.00, "1996-05-01"),   # base-only group (F, 1996-05)
        (2, 1, "F", 20.00, "1996-05-20"),
        (3, 1, "O", 5.00, "1997-01-02"),    # BASE side of (O, 1997-01)
        (4, 1, "O", 7.00, "1997-01-20"),    # DELTA side of the same group:
        (6, 1, "O", 2.00, "1997-01-16"),    # the two-sided merge add/fold
        (5, 1, "P", 9.00, "1998-03-03"),    # delta-only group (P, 1998-03)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        (r.o_orderstatus, str(r.month)): (r.n, r.sum_cents, r.min_key, r.max_key)
        for r in tableops.q_matview_delta(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("F", "1996-05-01"): (2, 3000, 1, 2),
        ("O", "1997-01-01"): (3, 1400, 3, 6),  # merged across the cutoff
        ("P", "1998-03-01"): (1, 900, 5, 5),
    }


def test_compaction_plan_greedy_rule(spark, sf_dir):
    """B135: bin assignment equals the pure-Python greedy cumulative-size
    rule per source, and the per-bin rollup columns are consistent."""
    rows = tableops.q_compaction_plan(spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, fs in by_src.items():
        fs.sort(key=lambda r: r.file_id)
        cum = 0
        bins = {}
        for r in fs:
            want_bin = cum // tableops.COMPACT_TARGET_BYTES
            assert r.bin == want_bin, (src, r.file_id, r.bin, want_bin)
            cum += r.file_bytes
            agg = bins.setdefault(want_bin, [0, 0])
            agg[0] += r.file_bytes
            agg[1] += 1
        for r in fs:
            assert (r.bin_bytes, r.bin_n_files) == tuple(bins[r.bin])
            assert r.is_small_file == (
                r.file_bytes < tableops.COMPACT_TARGET_BYTES
            )


def test_time_travel_read_older_version(spark, tmp_path):
    """B138: commit v0 and v1, then (a) AS OF v0 returns exactly the
    first commit, (b) latest returns the union, (c) a gap version
    resolves to the latest committed snapshot below it, (d) files on
    disk without a manifest entry (crashed writer) are invisible, and
    (e) reading below the first commit raises."""
    import pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"
    d0 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    d1 = spark.createDataFrame([(3, "c")], schema)
    tt.commit_snapshot(spark, table, d0, 0)
    tt.commit_snapshot(spark, table, d1, 5)  # versions need not be dense
    # orphan files from a crashed writer: never committed
    spark.createDataFrame([(99, "zz")], schema).write.parquet(
        table + "/data/c7"
    )

    def rows(v=None):
        return {tuple(r) for r in tt.read_asof(spark, table, v).collect()}

    assert rows(0) == {(1, "a"), (2, "b")}
    assert rows(3) == {(1, "a"), (2, "b")}          # gap -> latest <= 3 is v0
    assert rows(5) == {(1, "a"), (2, "b"), (3, "c")}
    assert rows() == {(1, "a"), (2, "b"), (3, "c")}  # latest; orphan invisible
    assert tt.snapshot_versions(table) == [0, 5]
    with pytest.raises(ValueError):
        tt.read_asof(spark, table, -1)


def test_optimize_snapshot_preserves_time_travel(spark, tmp_path):
    """B135+B138 integration: OPTIMIZE commits a compacted layout as a
    NEW version — content identical to the pre-optimize snapshot,
    fewer files, and the OLD version still readable (its manifest keeps
    referencing the original files)."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"
    # two append commits, deliberately sprayed into many small files
    d0 = spark.createDataFrame([(i, f"a{i}") for i in range(200)], schema)
    d1 = spark.createDataFrame([(i, f"b{i}") for i in range(200, 300)], schema)
    tt.commit_snapshot(spark, table, d0.repartition(8), 0)
    tt.commit_snapshot(spark, table, d1.repartition(8), 1)
    pre_files = tt.manifest_files(table)
    assert len(pre_files) == 16
    pre_rows = {tuple(r) for r in tt.read_asof(spark, table).collect()}

    total = sum(__import__("os").path.getsize(p) for p in pre_files)
    tt.optimize_snapshot(spark, table, 2, target_bytes=total // 2)
    post_files = tt.manifest_files(table)
    assert 0 < len(post_files) < len(pre_files)
    # content unchanged across the optimize commit
    post_rows = {tuple(r) for r in tt.read_asof(spark, table).collect()}
    assert post_rows == pre_rows
    # time travel to the pre-optimize version still works, file-exact
    assert tt.manifest_files(table, 1) == pre_files
    assert {tuple(r) for r in tt.read_asof(spark, table, 1).collect()} == pre_rows


def test_snapshot_diff_reads_only_the_delta(spark, tmp_path):
    """B140: the change feed between versions contains exactly the
    appended rows, and an empty diff errors without a schema / returns
    empty with one."""
    import pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"
    tt.commit_snapshot(spark, table, spark.createDataFrame([(1, "a")], schema), 0)
    tt.commit_snapshot(spark, table, spark.createDataFrame([(2, "b")], schema), 3)
    tt.commit_snapshot(spark, table, spark.createDataFrame([(3, "c")], schema), 7)
    got = {tuple(r) for r in tt.read_changes(spark, table, 0).collect()}
    assert got == {(2, "b"), (3, "c")}
    got = {tuple(r) for r in tt.read_changes(spark, table, 0, v_to=3).collect()}
    assert got == {(2, "b")}
    assert tt.read_changes(spark, table, 7, schema=schema).isEmpty()
    with pytest.raises(ValueError):
        tt.read_changes(spark, table, 7)


def test_manifest_commit_is_atomic_rename(spark, tmp_path):
    """r11 ADVICE: the commit point is the rename — a crashed writer's
    leftover temp file (or any truncated non-.parquet name) is invisible
    to snapshot_versions/read_asof, and a successful commit leaves no
    temp files behind."""
    import os

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(1, "a")], schema).coalesce(1), 0
    )
    mdir = os.path.join(table, "_manifest")
    # simulate a writer that died mid-write of v1's manifest
    with open(os.path.join(mdir, "v1.parquet.tmp-4242"), "wb") as f:
        f.write(b"truncated-garbage")
    assert tt.snapshot_versions(table) == [0]
    assert [r.k for r in tt.read_asof(spark, table).collect()] == [1]
    # a real commit succeeds next to the orphan temp and leaves none of its own
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(2, "b")], schema).coalesce(1), 1
    )
    assert tt.snapshot_versions(table) == [0, 1]
    leftovers = [f for f in os.listdir(mdir) if not f.endswith(".parquet")]
    assert leftovers == ["v1.parquet.tmp-4242"]


def test_vacuum_retention_and_orphan_gc(spark, tmp_path):
    """B145: vacuum drops pre-floor manifests and deletes exactly the
    files no surviving manifest references — live files untouched, a
    too-young orphan survives the age gate, pre-floor reads raise, and
    the post-OPTIMIZE originals are reclaimed once retention expires
    their manifests."""
    import os

    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"
    for v, rows in enumerate([[(1, "a")], [(2, "b")], [(3, "c")]]):
        tt.commit_snapshot(
            spark, table, spark.createDataFrame(rows, schema).coalesce(1), v
        )
    # a crashed writer's orphan + a fresh (uncommitted, in-flight) file
    spark.createDataFrame([(9, "z")], schema).coalesce(1).write.parquet(
        os.path.join(table, "data", "c9")
    )
    orphan_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(table, "data", "c9"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert orphan_files
    # age-gate: nothing is old enough yet -> orphan survives, manifests drop
    res = tt.vacuum(table, keep_last=2, min_age_s=3600)
    assert res["dropped_manifests"] == [0]
    assert res["removed_files"] == []
    assert all(os.path.exists(p) for p in orphan_files)
    # no gate: orphan AND v0's now-unreferenced file go; live files stay
    res = tt.vacuum(table, keep_last=2, min_age_s=0)
    assert tt.snapshot_versions(table) == [1, 2]
    assert not any(os.path.exists(p) for p in orphan_files)
    live = tt.manifest_files(table)
    assert live and all(os.path.exists(p) for p in live)
    # pre-floor time travel fails loudly
    with _pytest.raises(ValueError, match="retention floor"):
        tt.read_asof(spark, table, 0)
    # retained snapshots still read exactly
    assert sorted(r.k for r in tt.read_asof(spark, table, 2).collect()) == [1, 2, 3]
    assert sorted(r.k for r in tt.read_asof(spark, table, 1).collect()) == [1, 2]
    # OPTIMIZE interplay: compact to v3, then retention expires the
    # pre-optimize manifests and GC reclaims the original files
    pre_optimize_files = set(live)
    tt.optimize_snapshot(spark, table, 3)
    tt.vacuum(table, keep_last=1, min_age_s=0)
    assert tt.snapshot_versions(table) == [3]
    assert not any(os.path.exists(p) for p in pre_optimize_files)
    assert sorted(r.k for r in tt.read_asof(spark, table).collect()) == [1, 2, 3]


def test_concurrent_commit_conflict_and_retry(spark, tmp_path):
    """B149: two writers racing one version id get exactly one winner
    (the manifest publish is a compare-and-swap link, not a clobbering
    rename), the loser's data files never become visible, and the
    retry loop lands the loser at the next version CARRYING the
    winner's rows."""
    import os

    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "tbl")
    schema = "k long, s string"

    def mk(rows):
        return spark.createDataFrame(rows, schema).coalesce(1)

    tt.commit_with_retry(spark, table, mk([(1, "base")]))
    assert tt.snapshot_versions(table) == [0]

    # simulate the race: writer B wins version 1 while writer A is
    # mid-flight; A's exclusive attempt at the same version must fail
    tt.commit_snapshot(spark, table, mk([(2, "winner")]), 1, exclusive=True)
    with _pytest.raises(tt.CommitConflict):
        tt.commit_snapshot(spark, table, mk([(3, "loser")]), 1, exclusive=True)
    # the loser's data landed in its own writer-unique dir: invisible
    assert sorted(r.k for r in tt.read_asof(spark, table).collect()) == [1, 2]
    # retry loop re-resolves to v2 and carries the winner's rows forward
    v = tt.commit_with_retry(spark, table, mk([(3, "loser")]))
    assert v == 2
    assert sorted(r.k for r in tt.read_asof(spark, table).collect()) == [1, 2, 3]
    # the abandoned attempt's orphan is sweepable, live files untouched
    res = tt.vacuum(table, keep_last=3, min_age_s=0)
    assert res["removed_files"]  # the failed v1 attempt's file went
    assert sorted(r.k for r in tt.read_asof(spark, table).collect()) == [1, 2, 3]
    # every data file under a distinct dir (no shared c{v} clobber path)
    dirs = {os.path.dirname(p) for p in tt.manifest_files(table)}
    assert len(dirs) == 3


def test_stats_prune_skips_files_and_stays_exact(spark, tmp_path):
    """B150: a range-clustered commit with manifest column stats must let
    read_where (a) skip provably-disjoint files, (b) return exactly the
    predicate's rows anyway (residual filter), (c) never prune when the
    manifest has no stats, and (d) return an empty-but-typed frame when
    every file is disjoint."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "stats")
    schema = "k long, tag string"
    rows = [(i, "lo" if i < 100 else "hi") for i in range(200)]
    df = spark.createDataFrame(rows, schema)
    tt.commit_snapshot(
        spark, table, df.repartitionByRange(4, "k"), 0, collect_stats=True
    )

    # (a) pruning on a disjoint range: fewer files scanned
    filt = [("k", "between", (10, 40))]
    kept, total = tt.prune_files(table, filt)
    assert total == 4 and 0 < len(kept) < total
    # (b) exactness: pruned read == full filter
    got = sorted(r.k for r in tt.read_where(spark, table, filt).collect())
    assert got == list(range(10, 41))
    # string-column equality pruning also works (range clustering on k
    # makes tag='hi' live only in the upper files)
    kept_s, _ = tt.prune_files(table, [("tag", "=", "hi")])
    assert 0 < len(kept_s) < total
    got_s = tt.read_where(spark, table, [("tag", "=", "hi")]).count()
    assert got_s == 100

    # (c) stats-less manifest (the pre-B150 shape): no pruning, still exact
    table2 = str(tmp_path / "nostats")
    tt.commit_snapshot(spark, table2, df.repartitionByRange(4, "k"), 0)
    kept2, total2 = tt.prune_files(table2, filt)
    assert len(kept2) == total2 == 4  # conservative: no stats, no prune
    assert tt.read_where(spark, table2, filt).count() == 31

    # (d) all files disjoint: empty frame, real schema, no error
    empty = tt.read_where(spark, table, [("k", ">", 10_000)])
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "tag"}

    # (e) unknown op fails loud
    with _pytest.raises(ValueError):
        tt.prune_files(table, [("k", "!=", 5)])


def test_stats_prune_conservative_on_mixed_types(spark, tmp_path):
    """B150 edge: a filter on a column with no recorded stats (here a
    float predicate against a string-typed literal mismatch) must keep
    the file — pruning can only ever be proven-disjoint."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "mixed")
    df = spark.createDataFrame([(1, 2.5), (2, 7.5)], "k long, x double")
    tt.commit_snapshot(spark, table, df, 0, collect_stats=True)
    # baseline: the no-filter prune keeps exactly the non-empty files
    # (zero-row write partitions are unconditionally prunable)
    nonempty, total = tt.prune_files(table, [])
    assert 0 < len(nonempty) <= total
    # cross-type comparison: int stats vs string literal -> keep (scan)
    kept, _ = tt.prune_files(table, [("k", ">", "zzz")])
    assert kept == nonempty
    # float stats prune correctly: no file can contain x > 10
    kept2, _ = tt.prune_files(table, [("x", ">", 10.0)])
    assert kept2 == []


def test_equality_delete_merge_on_read(spark, tmp_path):
    """B152: equality deletes are metadata+keys commits — visible at
    their version, scoped by sequence number (later appends re-insert),
    invisible to time travel below them, and never GC'd while live."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "eqdel")
    schema = "k long, s string"
    base = spark.createDataFrame([(i, f"r{i}") for i in range(10)], schema)
    tt.commit_snapshot(spark, table, base, 0)
    # delete even keys with a keys-only commit (no data file rewritten)
    keys = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "k long")
    pre_data_files = set(tt.manifest_files(table, 0))
    tt.commit_delete(spark, table, keys, 1)
    assert set(tt.manifest_files(table, 1)) == pre_data_files  # data untouched
    assert tt.manifest_files(table, 1, kind="delete")  # delete file live

    def ks(v=None):
        return sorted(r.k for r in tt.read_asof(spark, table, v).collect())

    assert ks(0) == list(range(10))            # time travel: pre-delete intact
    assert ks(1) == [1, 3, 5, 7, 9]            # delete applied
    # v2 re-inserts two previously-deleted keys: seq rule must keep them
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(0, "new0"), (4, "new4")], schema), 2
    )
    assert ks(2) == [0, 1, 3, 4, 5, 7, 9]
    got = {(r.k, r.s) for r in tt.read_asof(spark, table).collect()}
    assert (0, "new0") in got and (0, "r0") not in got  # the NEW row won
    # vacuum keeping all versions must not sweep the live delete file
    res = tt.vacuum(table, keep_last=3, min_age_s=0)
    assert ks(2) == [0, 1, 3, 4, 5, 7, 9]
    assert not any("c1d" in p for p in res["removed_files"])


def test_equality_delete_optimize_folds_and_restores_pruning(spark, tmp_path):
    """B152+B135+B150 interplay: OPTIMIZE on a table with live deletes
    rewrites THROUGH merge-on-read, publishes a pure-data manifest, and
    read_where's file skipping works again afterwards."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "eqopt")
    schema = "k long, s string"
    base = spark.createDataFrame([(i, f"r{i}") for i in range(100)], schema)
    tt.commit_snapshot(
        spark, table, base.repartitionByRange(4, "k"), 0, collect_stats=True
    )
    tt.commit_delete(
        spark, table, spark.createDataFrame([(i,) for i in range(50)], "k long"), 1
    )
    # with live deletes, read_where falls back to merge-on-read (exact)
    got = sorted(r.k for r in tt.read_asof(spark, table).collect())
    assert got == list(range(50, 100))
    rw = sorted(
        r.k
        for r in tt.read_where(spark, table, [("k", ">=", 90)]).collect()
    )
    assert rw == list(range(90, 100))
    # optimize folds the deletes: pure-data manifest, same rows
    tt.optimize_snapshot(spark, table, 2)
    assert tt.manifest_files(table, 2, kind="delete") == []
    got2 = sorted(r.k for r in tt.read_asof(spark, table).collect())
    assert got2 == list(range(50, 100))


def test_read_where_prunes_under_live_deletes(spark, tmp_path):
    """Live equality AND positional deletes no longer switch file
    skipping off: deletes scope by seq, so dropping a provably-disjoint
    data file never changes which deletes apply to the others.  The
    pruned read returns exactly the merge-on-read rows."""
    import re

    from kinesis2elastic_spark.operators import timetravel as tt
    from kinesis2elastic_spark.sources.scan import POS_PATH, POS_ROW, scan

    table = str(tmp_path / "t")
    base = spark.createDataFrame([(i, f"r{i}") for i in range(100)], "k long, s string")
    tt.commit_snapshot(
        spark, table, base.repartitionByRange(4, "k"), 0, collect_stats=True
    )
    tt.commit_delete(
        spark, table, spark.createDataFrame([(i,) for i in range(0, 100, 3)], "k long"), 1
    )
    pairs = (
        scan(spark, tt.snapshot_plan(table, 1), row_identity=True)
        .filter(F.col("k") % 5 == 0)
        .select(F.col(POS_PATH).alias("file_path"), F.col(POS_ROW).alias("row_index"))
    )
    tt.commit_positional_delete(spark, table, pairs, 2)
    # v3 re-inserts deleted keys: seq-scoped, so they survive
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(90, "new90"), (96, "new96")], "k long, s string"), 3
    )
    filt = [("k", ">=", 80)]
    kept, total = tt.prune_files(table, filt)
    assert 0 < len(kept) < total
    df = tt.read_where(spark, table, filt)
    # the read scans exactly the kept data files (plus the delete files)
    data = set(tt.manifest_files(table))
    scanned = {re.sub("^file:/*", "/", p) for p in df.inputFiles()}
    assert scanned & data == set(kept)
    got = sorted((r.k, r.s) for r in df.collect())
    want = sorted(
        [(i, f"r{i}") for i in range(80, 100) if i % 3 and i % 5] + [(90, "new90"), (96, "new96")]
    )
    assert got == want
    assert got == sorted(
        (r.k, r.s) for r in tt.read_asof(spark, table).filter("k >= 80").collect()
    )


def test_equality_delete_multicolumn_key(spark, tmp_path):
    """B152: the delete key is whatever columns the keys frame carries —
    a two-column key deletes only exact (k, s) matches."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "eqmc")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (2, "a", 30.0)], "k long, s string, x double"
    )
    tt.commit_snapshot(spark, table, df, 0)
    tt.commit_delete(
        spark, table, spark.createDataFrame([(1, "a")], "k long, s string"), 1
    )
    got = {(r.k, r.s) for r in tt.read_asof(spark, table).collect()}
    assert got == {(1, "b"), (2, "a")}


def test_wap_branch_refs(spark, tmp_path):
    """B153: refs are atomic pointers — staging commits are invisible to
    ref readers until publish; a ref cannot point at an uncommitted
    version; branch reads follow the ref, not 'latest'."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "wap")
    schema = "k long, s string"
    mk = lambda rs: spark.createDataFrame(rs, schema)  # noqa: E731
    tt.commit_snapshot(spark, table, mk([(1, "a")]), 0)
    tt.set_ref(table, "main", 0)
    # staging commit: manifest exists, ref readers don't see it
    tt.commit_snapshot(spark, table, mk([(2, "bad")]), 1)
    assert tt.snapshot_versions(table) == [0, 1]
    assert {r.k for r in tt.read_branch(spark, table).collect()} == {1}
    # ref to an uncommitted version fails loud
    with _pytest.raises(ValueError):
        tt.set_ref(table, "main", 7)
    # corrected commit branched off the AUDITED parent (not the reject)
    tt.commit_snapshot(spark, table, mk([(3, "good")]), 2, parent=0)
    assert {r.k for r in tt.read_asof(spark, table, 2).collect()} == {1, 3}
    tt.set_ref(table, "main", 2)
    assert {r.k for r in tt.read_branch(spark, table).collect()} == {1, 3}
    # a second named ref can still audit the rejected snapshot
    tt.set_ref(table, "audit", 1)
    assert {r.k for r in tt.read_branch(spark, table, "audit").collect()} == {1, 2}
    # missing ref fails loud
    with _pytest.raises(ValueError):
        tt.read_branch(spark, table, "nope")


def test_zorder_write_prunes_on_both_dimensions(spark, tmp_path, sf_dir):
    """B79 x B150 integration: a Z-order-clustered commit interleaves
    two columns' bits, so manifest stats prune files for predicates on
    EITHER column — the property a single-column range clustering
    cannot give."""
    from kinesis2elastic_spark.operators import timetravel as tt
    from kinesis2elastic_spark.operators.layout import zorder_value

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bounds = o.agg(
        F.min("o_orderkey"), F.max("o_orderkey"),
        F.min("o_custkey"), F.max("o_custkey"),
    ).first()
    z = zorder_value(
        F.col("o_orderkey"), F.col("o_custkey"),
        bounds[0], bounds[1], bounds[2], bounds[3],
    )
    table = str(tmp_path / "ztbl")
    tt.commit_snapshot(
        spark,
        table,
        o.repartitionByRange(8, z.alias("__z")).sortWithinPartitions(z.alias("__z")),
        0,
        collect_stats=True,
    )
    lo_k, hi_k = bounds[0], bounds[0] + (bounds[1] - bounds[0]) // 8
    lo_c, hi_c = bounds[2], bounds[2] + (bounds[3] - bounds[2]) // 8
    kept_k, total = tt.prune_files(table, [("o_orderkey", "between", (lo_k, hi_k))])
    kept_c, _ = tt.prune_files(table, [("o_custkey", "between", (lo_c, hi_c))])
    assert total == 8
    assert 0 < len(kept_k) < total, "orderkey predicate must prune z-ordered files"
    assert 0 < len(kept_c) < total, "custkey predicate must prune z-ordered files"
    # exactness on both dimensions
    n1 = tt.read_where(spark, table, [("o_orderkey", "between", (lo_k, hi_k))]).count()
    assert n1 == o.filter(F.col("o_orderkey").between(lo_k, hi_k)).count()
    n2 = tt.read_where(spark, table, [("o_custkey", "between", (lo_c, hi_c))]).count()
    assert n2 == o.filter(F.col("o_custkey").between(lo_c, hi_c)).count()


def test_erase_keys_physical_and_audited(spark, tmp_path):
    """B158: after erase_keys, the keys are absent from EVERY retained
    snapshot's data files (physical, not just logical), time travel
    below the new floor fails loudly, the main ref moved to the
    rewritten snapshot, and non-erased rows survive byte-for-byte."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "erase")
    schema = "k long, s string"
    base = spark.createDataFrame([(i, f"r{i}") for i in range(20)], schema)
    tt.commit_snapshot(spark, table, base, 0)
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(20, "r20")], schema), 1
    )
    tt.set_ref(table, "main", 1)
    keys = spark.createDataFrame([(i,) for i in range(0, 21, 4)], "k long")
    # pre-erasure: logically visible and physically present
    assert tt.audit_erasure(spark, table, keys) > 0

    report = tt.erase_keys(spark, table, keys)
    assert report["removed_files"], "pre-erasure files must be GC'd"
    # audit: zero matches across ALL retained snapshots
    assert tt.audit_erasure(spark, table, keys) == 0
    # survivors intact, served through the repointed main ref
    got = sorted(r.k for r in tt.read_branch(spark, table).collect())
    assert got == [i for i in range(21) if i % 4 != 0]
    # history below the floor is gone LOUDLY, not resurrected
    with _pytest.raises(ValueError, match="retention floor"):
        tt.read_asof(spark, table, 0)
    # erasure on an empty table fails loud
    with _pytest.raises(ValueError):
        tt.erase_keys(spark, str(tmp_path / "nope"), keys)


def test_expectations_catch_planted_violations(spark, tmp_path):
    """B159 semantics: a corpus with one planted violation per check
    kind reports exactly those counts and flips exactly those flags."""
    from kinesis2elastic_spark.operators.tableops import q_expectations

    orders = spark.createDataFrame(
        [
            (1, "F", 10.0),
            (1, "O", 20.0),     # duplicate key -> unique violation
            (2, "X", 30.0),     # bad status
            (3, "P", -5.0),     # non-positive price
            (None, "O", 40.0),  # null key
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    lineitem = spark.createDataFrame(
        [(1,), (2,), (99,)], "l_orderkey long"  # 99 -> FK violation
    )
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    lineitem.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {r.check_name: (r.n_violations, r.passed) for r in
           q_expectations(spark, str(tmp_path)).collect()}
    assert got == {
        "not_null_orderkey": (1, False),
        "unique_orderkey": (1, False),
        "accepted_orderstatus": (1, False),
        "positive_totalprice": (1, False),
        "fk_lineitem_orders": (1, False),
    }


def test_shallow_clone_zero_copy_and_isolated(spark, tmp_path):
    """B161: a shallow clone references the source's files (zero copy),
    diverges independently (appends/deletes land under the clone's own
    data dir), applies the seq rule across the clone boundary (a clone
    delete hits inherited data; a clone re-insert outranks it), and the
    clone's vacuum can never GC source files (ownership discipline)."""
    import os

    from kinesis2elastic_spark.operators import timetravel as tt

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    schema = "k long, s string"
    base = spark.createDataFrame([(i, f"r{i}") for i in range(10)], schema)
    tt.commit_snapshot(spark, src, base, 0)
    tt.commit_snapshot(
        spark, src, spark.createDataFrame([(10, "r10")], schema), 1
    )

    v = tt.clone_table(src, dst)
    assert v >= 2  # base version outranks every inherited seq
    # zero copy: the clone's manifest points at SOURCE paths
    assert all(p.startswith(src) for p in tt.manifest_files(dst))
    assert not os.path.isdir(os.path.join(dst, "data"))
    # clone reads the source snapshot exactly
    ks = lambda d: sorted(r.k for r in tt.read_asof(spark, d).collect())  # noqa: E731
    assert ks(dst) == list(range(11))

    # divergence: append to the clone — invisible to the source
    tt.commit_snapshot(
        spark, dst, spark.createDataFrame([(99, "clone")], schema), v + 1
    )
    assert ks(dst) == list(range(11)) + [99]
    assert ks(src) == list(range(11))
    # clone delete hits INHERITED data (seq rule across the boundary)
    tt.commit_delete(
        spark, dst, spark.createDataFrame([(0,), (10,)], "k long"), v + 2
    )
    assert ks(dst) == list(range(1, 10)) + [99]
    assert ks(src) == list(range(11))  # source untouched
    # clone vacuum: expires clone manifests, GCs ONLY under dst/data
    pre_src_files = set(tt.manifest_files(src, kind=None))
    rep = tt.vacuum(dst, keep_last=1, min_age_s=0)
    assert all(not p.startswith(src) for p in rep["removed_files"])
    assert pre_src_files == set(tt.manifest_files(src, kind=None))
    assert ks(src) == list(range(11))
    assert ks(dst) == list(range(1, 10)) + [99]

    # cloning a table that already carries live deletes preserves
    # merge-on-read verbatim
    tt.commit_delete(spark, src, spark.createDataFrame([(3,)], "k long"), 2)
    dst2 = str(tmp_path / "dst2")
    tt.clone_table(src, dst2)
    assert ks(dst2) == [k for k in range(11) if k != 3]

    # empty source fails loud
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tt.clone_table(str(tmp_path / "missing"), str(tmp_path / "x"))


def test_deep_clone_survives_source_destruction(spark, tmp_path):
    """B161 deep leg: deep=True copies the referenced files under the
    clone's own data dir, so destroying the source entirely leaves the
    clone readable — the escape from the shallow-clone retention
    caveat."""
    import shutil

    from kinesis2elastic_spark.operators import timetravel as tt

    src = str(tmp_path / "src")
    dst = str(tmp_path / "deep")
    df = spark.createDataFrame([(i, f"r{i}") for i in range(5)], "k long, s string")
    tt.commit_snapshot(spark, src, df, 0)
    tt.clone_table(src, dst, deep=True)
    assert all(p.startswith(dst) for p in tt.manifest_files(dst))
    shutil.rmtree(src)  # source gone entirely
    got = sorted(r.k for r in tt.read_asof(spark, dst).collect())
    assert got == [0, 1, 2, 3, 4]


def test_catalog_atomic_multi_table_commit(spark, tmp_path):
    """B164: a reader resolving one catalog version can never mix table
    states from different transactions — staged table commits are
    invisible until the catalog rename flips them visible together."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    cat = str(tmp_path)
    t_orders = str(tmp_path / "orders_t")
    t_items = str(tmp_path / "items_t")
    mk = lambda rows, s: spark.createDataFrame(rows, s)  # noqa: E731

    # txn 0: one order, one item — two table commits + ONE catalog commit
    tt.commit_snapshot(spark, t_orders, mk([(1, "A")], "o long, st string"), 0)
    tt.commit_snapshot(spark, t_items, mk([(1, 10.0)], "o long, amt double"), 0)
    cv0 = tt.commit_catalog(cat, {"orders": 0, "items": 0})

    # txn 1 IN FLIGHT: both tables commit v1, catalog NOT yet published
    tt.commit_snapshot(spark, t_orders, mk([(2, "B")], "o long, st string"), 1)
    tt.commit_snapshot(spark, t_items, mk([(2, 20.0)], "o long, amt double"), 1)
    snap = tt.read_catalog_asof(
        spark, cat, {"orders": t_orders, "items": t_items}
    )
    # catalog readers still see the txn-0 state of BOTH tables
    assert {r.o for r in snap["orders"].collect()} == {1}
    assert {r.o for r in snap["items"].collect()} == {1}

    # publish txn 1: both tables flip visible TOGETHER
    cv1 = tt.commit_catalog(cat, {"orders": 1, "items": 1})
    snap = tt.read_catalog_asof(
        spark, cat, {"orders": t_orders, "items": t_items}
    )
    assert {r.o for r in snap["orders"].collect()} == {1, 2}
    assert {r.o for r in snap["items"].collect()} == {1, 2}
    # time travel to the earlier TRANSACTION (not per-table versions)
    old = tt.read_catalog_asof(
        spark, cat, {"orders": t_orders, "items": t_items}, version=cv0
    )
    assert {r.o for r in old["orders"].collect()} == {1}
    assert cv1 == cv0 + 1
    # unknown table / empty catalog fail loud
    with _pytest.raises(ValueError):
        tt.read_catalog_asof(spark, cat, {"nope": t_orders})
    with _pytest.raises(ValueError):
        tt.read_catalog_asof(spark, str(tmp_path / "empty"), {})


def test_cached_query_serves_hits_and_misses_on_change(spark, tmp_path):
    """B165: an identical query is served FROM the cache (proven by
    deleting the source after the first run), a different literal is a
    different entry, and a changed pinned input version is a miss."""
    import shutil

    from kinesis2elastic_spark.operators import timetravel as tt

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k long, g long"
    ).write.parquet(src)
    cache = str(tmp_path / "cache")

    def q(thresh):
        return (
            spark.read.parquet(src)
            .filter(F.col("k") >= thresh)
            .groupBy("g")
            .agg(F.count("*").alias("n"))
        )

    first = {(r.g, r.n) for r in tt.cached_query(spark, q(10), cache,
                                                 {"src": 0}).collect()}
    # different literal -> different fingerprint -> its own entry
    other = {(r.g, r.n) for r in tt.cached_query(spark, q(20), cache,
                                                 {"src": 0}).collect()}
    assert first != other
    plan_df = q(10)  # build BEFORE the source disappears
    plan_df2 = q(10)
    shutil.rmtree(src)  # source gone: only a true cache hit can answer
    hit = {(r.g, r.n) for r in tt.cached_query(spark, plan_df, cache,
                                               {"src": 0}).collect()}
    assert hit == first
    # changed pinned input version -> MISS -> recompute fails loudly
    # (the source is gone), proving it did NOT serve the stale entry
    import pytest as _pytest

    with _pytest.raises(Exception):
        tt.cached_query(spark, plan_df2, cache, {"src": 1}).collect()


def test_schema_history_reports_drift(spark, tmp_path):
    """B166: per-commit schema records give an added/removed drift
    report, and time travel returns each version's own columns."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "drift")
    d0 = spark.createDataFrame([(1, "a")], "k long, s string")
    d1 = spark.createDataFrame([(2, "b", 1.5)], "k long, s string, x double")
    d2 = spark.createDataFrame([(3, 2.5)], "k long, x double")  # s dropped
    for v, d in ((0, d0), (1, d1), (2, d2)):
        tt.commit_snapshot(spark, table, d, v, carry_forward=False)
        tt.record_schema(table, v, d)
    hist = tt.schema_history(table)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[0]["added"] == ["k", "s"] and hist[0]["removed"] == []
    assert hist[1]["added"] == ["x"] and hist[1]["removed"] == []
    assert hist[2]["added"] == [] and hist[2]["removed"] == ["s"]
    # time travel returns each version's OWN columns
    assert set(tt.read_asof(spark, table, 0).columns) == {"k", "s"}
    assert set(tt.read_asof(spark, table, 2).columns) == {"k", "x"}


def test_optimize_recluster_restores_pruning(spark, tmp_path):
    """B167: OPTIMIZE with cluster_by + collect_stats re-clusters the
    live set (deletes applied) into disjoint key ranges and publishes
    stats, so B150 pruning works again after compaction — and without
    collect_stats an optimize leaves a stats-less manifest (pruning
    conservatively off, never wrong)."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "reclust")
    # two unclustered commits + a delete -> no pruning possible
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(400)], "k long, s string"
    )
    tt.commit_snapshot(spark, table, df.repartition(4), 0, collect_stats=True)
    tt.commit_delete(
        spark, table, spark.createDataFrame([(i,) for i in range(100)], "k long"), 1
    )
    # random layout: the k-range predicate cannot prune (every file
    # spans the domain) — and with live deletes read_where won't prune
    tt.optimize_snapshot(
        spark, table, 2, target_bytes=2000, cluster_by=["k"], collect_stats=True
    )
    assert tt.manifest_files(table, 2, kind="delete") == []
    kept, total = tt.prune_files(table, [("k", "between", (150, 180))])
    assert total > 1 and 0 < len(kept) < total  # re-clustered: prunes again
    got = sorted(
        r.k for r in tt.read_where(spark, table, [("k", "between", (150, 180))]).collect()
    )
    assert got == list(range(150, 181))
    # content preserved exactly (deletes folded)
    assert tt.read_asof(spark, table).count() == 300
    # stats-less optimize: conservative, all files kept, still exact
    tt.optimize_snapshot(spark, table, 3, target_bytes=2000, cluster_by=["k"])
    kept3, total3 = tt.prune_files(table, [("k", "between", (150, 180))])
    assert len(kept3) == total3
    assert tt.read_where(spark, table, [("k", ">=", 399)]).count() == 1


def test_catalog_commit_cas_and_erasure_keeps_stats(spark, tmp_path):
    """B164/B158 hardening: a pre-staged catalog version file makes the
    next commit retry to the following id (CAS, no clobber); erase_keys
    on a stats-carrying table re-collects stats through its rewrite so
    pruning still works post-erasure."""
    import json as _json
    import os

    from kinesis2elastic_spark.operators import timetravel as tt

    cat = str(tmp_path / "cat")
    t = str(tmp_path / "t")
    tt.commit_snapshot(
        spark, t, spark.createDataFrame([(1, "a")], "k long, s string"), 0
    )
    v0 = tt.commit_catalog(cat, {"t": 0})
    # simulate a racing writer that already took v1
    os.makedirs(os.path.join(cat, "_catalog"), exist_ok=True)
    with open(os.path.join(cat, "_catalog", "v1.json"), "w") as f:
        _json.dump({"t": 0}, f)
    v2 = tt.commit_catalog(cat, {"t": 0})
    assert (v0, v2) == (0, 2)  # CAS skipped the taken id, nothing clobbered
    with open(os.path.join(cat, "_catalog", "v1.json")) as f:
        assert _json.load(f) == {"t": 0}  # racer's file untouched

    # erasure preserves stats: clustered+stats table -> erase -> prune ok
    table = str(tmp_path / "estats")
    df = spark.createDataFrame([(i, f"r{i}") for i in range(200)], "k long, s string")
    tt.commit_snapshot(
        spark, table, df.repartitionByRange(4, "k"), 0, collect_stats=True
    )
    tt.erase_keys(
        spark, table, spark.createDataFrame([(i,) for i in range(50)], "k long")
    )
    entries = tt.manifest_entries(table)
    assert any(e.get("stats_json") for e in entries)  # stats survived
    assert tt.read_asof(spark, table).count() == 150


def test_fsck_snapshot_detects_damage(spark, tmp_path):
    """B168: fsck is clean on an intact snapshot, and reports a deleted
    file and a size-corrupted file precisely without mutating anything."""
    import os

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "fsck")
    df = spark.createDataFrame([(i, f"r{i}") for i in range(40)], "k long, s string")
    tt.commit_snapshot(spark, table, df.repartition(3), 0)
    clean = tt.fsck_snapshot(table)
    assert clean["missing"] == clean["size_mismatch"] == clean["rows_mismatch"] == []
    assert clean["n_checked"] >= 3

    files = tt.manifest_files(table)
    os.remove(files[0])                      # bitrot leg 1: file gone
    with open(files[1], "ab") as f:          # leg 2: size drift
        f.write(b"xx")
    rep = tt.fsck_snapshot(table)
    assert rep["missing"] == [files[0]]
    assert rep["size_mismatch"] == [files[1]]
    assert rep["rows_mismatch"] == []
    assert rep["n_checked"] == len(files)


def test_catalog_commit_merges_disjoint_table_deltas(tmp_path):
    """B164 r12 (r11 ADVICE, medium): commit_catalog takes a DELTA merged
    over the latest catalog state — a commit touching only table B must
    carry forward A's pin from the previous version, and a racing loser's
    retry must not revert the winner's pins for tables it didn't touch."""
    import json as _json
    import os

    from kinesis2elastic_spark.operators import timetravel as tt

    cat = str(tmp_path)
    v0 = tt.commit_catalog(cat, {"a": 3})
    v1 = tt.commit_catalog(cat, {"b": 7})  # disjoint: must keep a=3
    v2 = tt.commit_catalog(cat, {"a": 4})  # bump a: must keep b=7
    with open(os.path.join(cat, "_catalog", f"v{v2}.json")) as f:
        assert _json.load(f) == {"a": 4, "b": 7}
    with open(os.path.join(cat, "_catalog", f"v{v1}.json")) as f:
        assert _json.load(f) == {"a": 3, "b": 7}
    assert (v0, v1, v2) == (0, 1, 2)


def test_catalog_commit_n_writer_race_is_linearizable(tmp_path):
    """B164 N-writer property test (r11 VERDICT #9): 8 threads commit
    sequential bumps to their OWN table concurrently, over many trials.
    Linearizable history = contiguous version ids, every version's state
    a superset-merge of its parent, and the final state carrying every
    writer's LAST pin (no lost update at catalog level)."""
    import json as _json
    import os
    import threading

    from kinesis2elastic_spark.operators import timetravel as tt

    N_WRITERS, N_COMMITS, N_TRIALS = 8, 3, 15
    for trial in range(N_TRIALS):
        cat = str(tmp_path / f"trial{trial}")
        errs: list[Exception] = []

        def writer(i: int, cat=cat, errs=errs) -> None:
            try:
                for j in range(N_COMMITS):
                    tt.commit_catalog(cat, {f"t{i}": j})
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        threads = [
            threading.Thread(target=writer, args=(i,))
            for i in range(N_WRITERS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        vs = tt.catalog_versions(cat)
        assert vs == list(range(N_WRITERS * N_COMMITS))  # contiguous, none lost
        states = []
        for v in vs:
            with open(os.path.join(cat, "_catalog", f"v{v}.json")) as f:
                states.append(_json.load(f))
        # each version only ADDS or BUMPS pins relative to its parent
        # (a revert of another writer's table = the r11 lost-update bug)
        for parent, child in zip(states, states[1:]):
            for table, pin in parent.items():
                assert table in child and child[table] >= pin, (
                    trial,
                    parent,
                    child,
                )
        assert states[-1] == {
            f"t{i}": N_COMMITS - 1 for i in range(N_WRITERS)
        }


def test_commit_carries_forward_footer_stats_without_rereads(
    spark, tmp_path, monkeypatch
):
    """r12 (r11 ADVICE): an append commit must reuse the parent
    manifest's n_bytes/n_rows/stats_json for carried files — footer
    reads happen only for files NEWLY entering at this version (at 10^6
    live files a commit is otherwise a million-footer pass) — and stats
    are STICKY: an append without collect_stats must not drop the
    table's pruning stats."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df0 = spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, v long")
    tt.commit_snapshot(
        spark, table, df0.repartitionByRange(3, "k"), 0, collect_stats=True
    )
    v0_entries = {e["path"]: e for e in tt.manifest_entries(table, 0)}
    assert all(e.get("stats_json") for e in v0_entries.values())

    read_paths: list[str] = []
    real_read_metadata = tt.pq.read_metadata

    def counting_read_metadata(path, *a, **kw):
        read_paths.append(str(path))
        return real_read_metadata(path, *a, **kw)

    monkeypatch.setattr(tt.pq, "read_metadata", counting_read_metadata)
    real_stats = tt._file_column_stats
    stats_paths: list[str] = []

    def counting_stats(path, *a, **kw):
        stats_paths.append(str(path))
        return real_stats(path, *a, **kw)

    monkeypatch.setattr(tt, "_file_column_stats", counting_stats)

    # append WITHOUT collect_stats: carried entries keep their stats
    df1 = spark.createDataFrame([(i, i) for i in range(100, 120)], "k long, v long")
    tt.commit_snapshot(spark, table, df1.coalesce(1), 1)
    carried_rereads = [p for p in read_paths + stats_paths if p in v0_entries]
    assert carried_rereads == []  # zero footer work for carried files
    v1_entries = {e["path"]: e for e in tt.manifest_entries(table, 1)}
    assert len(v1_entries) > len(v0_entries)
    for p, e0 in v0_entries.items():
        e1 = v1_entries[p]
        assert e1["stats_json"] == e0["stats_json"]  # sticky + verbatim
        assert (e1["n_bytes"], e1["n_rows"]) == (e0["n_bytes"], e0["n_rows"])
    # the NEW file got real stats of its own (computed this commit)
    new_paths = set(v1_entries) - set(v0_entries)
    assert all(v1_entries[p].get("stats_json") for p in new_paths)
    # pruning still works across old AND new files
    kept, total = tt.prune_files(table, [("k", "between", (0, 10))])
    assert total == len(v1_entries) and 0 < len(kept) < total


def test_cached_query_concurrent_miss_single_winner(spark, tmp_path):
    """B165 r12 (r11 ADVICE): two writers that both MISS the same
    fingerprint race their first commit — exclusive CAS must leave
    exactly ONE committed v0 with a consistent manifest, the loser
    serving the winner's entry instead of clobbering its data dir."""
    import threading

    from kinesis2elastic_spark.operators import timetravel as tt

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "k long, g long"
    ).write.parquet(src)
    cache = str(tmp_path / "cache")

    def q():
        return (
            spark.read.parquet(src)
            .groupBy("g")
            .count()
            .orderBy("g")
        )

    results, errs = [], []

    def racer():
        try:
            got = sorted(
                (r.g, r["count"])
                for r in tt.cached_query(spark, q(), cache).collect()
            )
            results.append(got)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=racer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    want = sorted((r.g, r["count"]) for r in q().collect())
    assert all(got == want for got in results)
    # exactly one cache entry, one committed version, fsck-clean
    entries = [d for d in __import__("os").listdir(cache)]
    assert len(entries) == 1
    table = f"{cache}/{entries[0]}"
    assert tt.snapshot_versions(table) == [0]
    rep = tt.fsck_snapshot(table)
    assert rep["missing"] == rep["size_mismatch"] == rep["rows_mismatch"] == []


def test_plan_fingerprint_stable_across_sessions(spark, sf_dir):
    """B165 r12 (r11 VERDICT #7): the result cache only pays off if the
    SAME logical query fingerprints identically in a FRESH session —
    session-local expression ids must normalize away over every TPC-H
    shape (a false miss per session = recompute churn at dashboard
    scale)."""
    from kinesis2elastic_spark.operators import relational_ext as rx
    from kinesis2elastic_spark.operators import tpch
    from kinesis2elastic_spark.operators.timetravel import _plan_fingerprint

    other = spark.newSession()
    shapes = dict(tpch.QUERIES)
    shapes["q_sql_q3"] = rx.q_sql_q3
    shapes["q_sql_q5"] = rx.q_sql_q5
    shapes["q_sql_q18"] = rx.q_sql_q18
    misses = []
    for name, fn in sorted(shapes.items()):
        fp_a = _plan_fingerprint(fn(spark, sf_dir), {"sf": sf_dir})
        fp_b = _plan_fingerprint(fn(other, sf_dir), {"sf": sf_dir})
        if fp_a != fp_b:
            misses.append(name)
    assert not misses, f"cross-session fingerprint false-miss: {misses}"


def test_positional_delete_roundtrip_and_validation(spark, tmp_path):
    """B169: positional deletes remove EXACTLY the named (file, row)
    pairs at metadata+pairs rate; time travel below the delete still
    shows the rows; a pair aimed at a non-live path fails loud."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(200)], "k long, s string"
    )
    tt.commit_snapshot(spark, table, df.repartition(3), 0)
    # pick victims by VALUE, collect their physical (file, row) identity
    from kinesis2elastic_spark.sources.scan import POS_PATH, POS_ROW, scan

    tgt = scan(spark, tt.snapshot_plan(table, 0), row_identity=True)
    pairs = tgt.filter(F.col("k") % 10 == 0).select(
        F.col(POS_PATH).alias("file_path"),
        F.col(POS_ROW).alias("row_index"),
    )
    tt.commit_positional_delete(spark, table, pairs, 1)
    got = sorted(r.k for r in tt.read_asof(spark, table).collect())
    assert got == [i for i in range(200) if i % 10 != 0]
    # v0 unchanged (snapshot participant, not a rewrite)
    assert tt.read_asof(spark, table, 0).count() == 200
    # no data file rewritten
    assert set(tt.manifest_files(table, 0)) <= set(tt.manifest_files(table, 1))
    # validation: a pair naming a foreign file is a writer bug
    bad = spark.createDataFrame(
        [("/nope/foreign.parquet", 0)], "file_path string, row_index long"
    )
    with _pytest.raises(ValueError, match="non-live"):
        tt.commit_positional_delete(spark, table, bad, 2)


def test_merge_positional_vacuum_and_optimize_interplay(spark, tmp_path):
    """B169 interplay (r11 VERDICT #3): vacuum must keep referenced
    position-delete files; optimize folds them into a pure-data layout
    with identical content; equality + positional deletes compose."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(300)], "k long, v long"
    )
    tt.commit_snapshot(spark, table, df.repartition(3), 0)
    src = spark.createDataFrame(
        [(i, -1) for i in range(0, 300, 7)] + [(1000, 1), (1001, 2)],
        "k long, v long",
    )
    rep = tt.merge_rows_positional(spark, table, src, ["k"], 1)
    assert rep["n_deleted_pos"] == len(range(0, 300, 7))
    assert rep["n_inserted"] == len(range(0, 300, 7)) + 2

    def state():
        return sorted((r.k, r.v) for r in tt.read_asof(spark, table).collect())

    want = sorted(
        [(i, i * 10) for i in range(300) if i % 7 != 0]
        + [(i, -1) for i in range(0, 300, 7)]
        + [(1000, 1), (1001, 2)]
    )
    assert state() == want
    # an EQUALITY delete on top of the positional one (both kinds live)
    tt.commit_delete(
        spark, table, spark.createDataFrame([(1000,)], "k long"), 2
    )
    want = [t for t in want if t[0] != 1000]
    assert state() == want
    # vacuum: referenced posdelete files survive the orphan GC
    rep_v = tt.vacuum(table, keep_last=1, min_age_s=0.0)
    assert state() == want
    assert any(
        e["kind"] == "posdelete" for e in tt.manifest_entries(table)
    )
    # optimize folds BOTH delete kinds -> pure data, same content
    tt.optimize_snapshot(spark, table, 3, target_bytes=1 << 20)
    entries = tt.manifest_entries(table, 3)
    assert all(e["kind"] == "data" for e in entries)
    assert state() == want


def test_schema_enforcement_on_commit(spark, tmp_path):
    """B170 (r11 VERDICT #4): schema_mode='enforce' bounces an
    incompatible append BEFORE anything is written (type narrowing,
    dropped column, new column); 'evolve' admits additive/widening
    changes and records the schema (B166 history advances); narrowing
    is rejected in BOTH modes; evolved tables still read coherently
    (the B120 evolution-on-read contract)."""
    import os

    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10, "a")], "k int, v int, s string"
    )
    tt.commit_snapshot(spark, table, base, 0, schema_mode="enforce")

    bad_narrow = spark.createDataFrame([(2, "x", "b")], "k int, v string, s string")
    bad_drop = spark.createDataFrame([(2, 20)], "k int, v int")
    bad_add = spark.createDataFrame(
        [(2, 20, "b", 1.5)], "k int, v int, s string, extra double"
    )
    for bad in (bad_narrow, bad_drop, bad_add):
        with _pytest.raises(tt.SchemaEnforcementError):
            tt.commit_snapshot(spark, table, bad, 1, schema_mode="enforce")
    # fail-loud was PRE-publish: no v1 manifest, no orphan data dir
    assert tt.snapshot_versions(table) == [0]
    assert not os.path.isdir(os.path.join(table, "data", "c1"))

    # widening int->bigint under enforce: still rejected (needs evolve);
    # under evolve it passes the pure pre-write check
    widen = spark.createDataFrame([(2, 20, "b")], "k int, v bigint, s string")
    with _pytest.raises(tt.SchemaEnforcementError):
        tt.commit_snapshot(spark, table, widen, 1, schema_mode="enforce")
    tt.check_schema_compatible(table, widen, "evolve")  # no raise
    # evolve: a new column is admitted and RECORDED (B166 advances)
    evolved = spark.createDataFrame(
        [(2, 20, "b", 7)], "k int, v int, s string, extra int"
    )
    tt.commit_snapshot(spark, table, evolved, 1, schema_mode="evolve")
    hist = tt.schema_history(table)
    assert hist[-1]["added"] == ["extra"]
    assert tt.latest_recorded_schema(table)["extra"] == "int"
    # narrowing / cross-kind is rejected even under evolve (info loss)
    for bad_t in ("v bigint", "v string"):
        narrow = spark.createDataFrame(
            [(3, 30, "c")], f"k int, {bad_t}, s string"
        )
        tt.record_schema(table, 1, evolved)  # baseline has v int
        if bad_t == "v bigint":
            tt.check_schema_compatible(table, narrow, "evolve")  # widen ok
        else:
            with _pytest.raises(tt.SchemaEnforcementError):
                tt.check_schema_compatible(table, narrow, "evolve")
    # evolved table still reads coherently across mixed-schema files
    # (the B120 evolution-on-read contract: missing column -> nulls)
    got = spark.read.option("mergeSchema", "true").parquet(
        *tt.manifest_files(table)
    )
    assert got.count() == 2 and "extra" in got.columns


def test_change_feed_resolves_deletes_and_fails_on_rewrite(spark, tmp_path):
    """B171: the feed emits resolved delete ROWS (not just keys), scopes
    each delete to what was visible at its parent version, yields both
    halves of a merge-update, and fails loud across an optimize commit
    (rewritten files would re-surface unchanged rows as changes)."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    tt.commit_snapshot(spark, table, df.repartition(2), 0)
    # v1: delete evens; v2: re-insert k=0; v3: delete {0, 21 (absent)}
    tt.commit_delete(
        spark, table, spark.createDataFrame([(i,) for i in range(0, 20, 2)], "k long"), 1
    )
    tt.commit_snapshot(spark, table, spark.createDataFrame([(0, -1)], "k long, v long"), 2)
    tt.commit_delete(
        spark, table, spark.createDataFrame([(0,), (21,)], "k long"), 3
    )
    feed = tt.read_change_feed(spark, table, 0).collect()
    got = sorted((r._change_type, r._commit_version, r.k, r.v) for r in feed)
    want = sorted(
        [("delete", 1, k, k * 10) for k in range(0, 20, 2)]
        + [("insert", 2, 0, -1)]
        + [("delete", 3, 0, -1)]  # resolves to the v2 row, NOT the v0 one
    )
    assert got == want
    # windowed feed: only v3's change
    assert [
        (r._change_type, r.k) for r in tt.read_change_feed(spark, table, 2).collect()
    ] == [("delete", 0)]
    # optimize rewrites files -> feed across it is undefined, fail loud
    tt.optimize_snapshot(spark, table, 4, target_bytes=1 << 20)
    with _pytest.raises(ValueError, match="replace/optimize"):
        tt.read_change_feed(spark, table, 0)
    # feed strictly after the optimize works again
    tt.commit_snapshot(spark, table, spark.createDataFrame([(99, 0)], "k long, v long"), 5)
    assert [
        (r._change_type, r.k) for r in tt.read_change_feed(spark, table, 4).collect()
    ] == [("insert", 99)]


def test_bloom_index_point_lookup_pruning(spark, tmp_path):
    """B172: per-file Bloom filters prune point lookups on a
    hash-scattered key that min/max stats cannot separate; NO false
    negative over every present key; sticky across appends (new files
    indexed automatically); optimize rebuilds the index; absent keys
    usually prune everything; unsupported types scan."""
    import json as _json

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i * 37 % 1000, f"r{i}") for i in range(500)], "k long, s string"
    ).dropDuplicates(["k"])
    keys = sorted(r.k for r in df.collect())
    tt.commit_snapshot(
        spark, table, df.repartition(6, "k"), 0,
        collect_stats=True, bloom_cols=["k"],
    )
    # every present key: its row is found through the pruned read
    pruned_any = 0
    for k in keys[::37]:
        kept, total = tt.prune_files(table, [("k", "=", k)])
        assert kept  # no false negative at file level
        got = tt.read_where(spark, table, [("k", "=", k)]).collect()
        assert [r.k for r in got] == [k]
        pruned_any += total - len(kept)
    assert pruned_any > 0  # the bloom actually pruned across the sweep
    # sticky: append WITHOUT bloom_cols -> new file still indexed
    tt.commit_snapshot(
        spark, table,
        spark.createDataFrame([(5000, "new")], "k long, s string").coalesce(1),
        1,
    )
    entries = {e["path"]: e for e in tt.manifest_entries(table, 1)}
    assert all(
        _json.loads(e["bloom_json"]).get("k") for e in entries.values()
        if e["kind"] == "data"
    )
    kept, total = tt.prune_files(table, [("k", "=", 5000)])
    assert len(kept) < total
    assert [r.s for r in tt.read_where(spark, table, [("k", "=", 5000)]).collect()] == ["new"]
    # optimize: rewritten files re-indexed over the same column set
    tt.optimize_snapshot(spark, table, 2, target_bytes=1 << 14)
    e2 = [e for e in tt.manifest_entries(table, 2) if e["kind"] == "data"]
    assert e2 and all(_json.loads(e["bloom_json"]).get("k") for e in e2)
    for k in (keys[3], 5000):
        got = tt.read_where(spark, table, [("k", "=", k)]).collect()
        assert len(got) == 1 and got[0].k == k
    # unsupported value type: pruner keeps everything (scan, never wrong)
    kept, total = tt.prune_files(table, [("k", "=", 1.5)])
    assert len(kept) == total


def test_apply_change_feed_to_view_retractions(spark, tmp_path):
    """B174: deletes retract counts/sums exactly; a group whose count
    reaches zero DROPS from the view; a group born in the delta
    appears; long add/subtract chains stay BIGINT-exact."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    rows = [(i, "g%d" % (i % 3), i * 100) for i in range(30)]
    df = spark.createDataFrame(rows, "k long, g string, cents long")
    tt.commit_snapshot(spark, table, df.repartition(2), 0)
    # v1: delete ALL of group g0 (by its keys) -> group must vanish
    g0_keys = [(i,) for i in range(30) if i % 3 == 0]
    tt.commit_delete(spark, table, spark.createDataFrame(g0_keys, "k long"), 1)
    # v2: append a brand-new group
    tt.commit_snapshot(
        spark, table,
        spark.createDataFrame([(100, "g9", 7), (101, "g9", 8)], "k long, g string, cents long"),
        2,
    )
    view0 = (
        tt.read_asof(spark, table, 0)
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("n_rows"), F.sum("cents").cast("long").alias("sum_val"))
    )
    feed = tt.read_change_feed(spark, table, 0)
    view = tt.apply_change_feed_to_view(view0, feed, ["g"], "cents")
    got = {r.g: (r.n_rows, r.sum_val) for r in view.collect()}
    want = {
        "g1": (10, sum(i * 100 for i in range(30) if i % 3 == 1)),
        "g2": (10, sum(i * 100 for i in range(30) if i % 3 == 2)),
        "g9": (2, 15),
    }
    assert got == want  # g0 gone, g9 born, values exact


def test_describe_history_infers_operations(spark, tmp_path):
    """B176: the derived history names every commit's operation and
    footprint correctly over a create/append/delete/merge/optimize
    sequence — with no write-side logging to drift."""
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i) for i in range(50)], "k long, v long")
    tt.commit_snapshot(spark, table, df.repartition(2), 0)
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(100, 1)], "k long, v long"), 1
    )
    tt.commit_delete(spark, table, spark.createDataFrame([(3,)], "k long"), 2)
    tt.merge_rows_positional(
        spark, table,
        spark.createDataFrame([(5, -5), (200, 0)], "k long, v long"),
        ["k"], 3,
    )
    tt.optimize_snapshot(spark, table, 4, target_bytes=1 << 20)
    hist = tt.describe_history(table)
    assert [h["operation"] for h in hist] == [
        "create", "append", "delete", "merge", "replace-or-optimize",
    ]
    assert hist[0]["rows_added"] == 50 and hist[1]["rows_added"] == 1
    assert hist[3]["rows_added"] == 2  # merge appended 2 source rows
    assert all(h["bytes_added"] > 0 for h in hist[:4])
    assert hist[2]["n_files_added"] == 1 and hist[2]["rows_added"] == 0
    mt = [h["commit_mtime"] for h in hist]
    assert mt == sorted(mt)


def test_expire_snapshots_time_based(spark, tmp_path):
    """B177: age-based expiry drops only snapshots older than the
    horizon, always keeps the newest keep_last, reclaims their files
    through vacuum, and a quiet single-snapshot table never loses its
    only version however old."""
    import os
    import time

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(20)], "k long")
    tt.commit_snapshot(spark, table, df.repartition(2), 0, carry_forward=False)
    tt.commit_snapshot(spark, table, df.repartition(3), 1, carry_forward=False)
    tt.commit_snapshot(spark, table, df.repartition(1), 2, carry_forward=False)
    mdir = tt._manifest_dir(table)
    # age v0/v1 artificially: 1h old
    for v in (0, 1):
        p = os.path.join(mdir, f"v{v}.parquet")
        os.utime(p, (time.time() - 3600, time.time() - 3600))
    rep = tt.expire_snapshots(table, older_than_s=1800)
    assert rep["expired_versions"] == [0, 1]
    assert tt.snapshot_versions(table) == [2]
    assert len(rep["removed_files"]) >= 2  # v0+v1 replaced files GC'd
    assert tt.read_asof(spark, table).count() == 20
    # single-snapshot table: protected regardless of age
    p = os.path.join(mdir, "v2.parquet")
    os.utime(p, (time.time() - 7200, time.time() - 7200))
    rep2 = tt.expire_snapshots(table, older_than_s=1800)
    assert rep2["expired_versions"] == []
    assert tt.snapshot_versions(table) == [2]


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """B178: OPTIMIZE ZORDER BY — after a lexicographic (a, b) sort the
    second column's per-file [min,max] spans the whole domain (prunes
    nothing); after the Morton-curve rewrite BOTH columns prune.  The
    measured contract, not a narrative."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    n = 4096
    rows = [(i, (i * 2654435761) % n, (i * 40503) % n) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    tt.commit_snapshot(spark, table, df.repartition(4), 0)

    def kept_frac(table_dir, col):
        lo = n // 2
        hi = lo + n // 16  # selective 1/16-domain band
        kept, total = tt.prune_files(table_dir, [(col, "between", (lo, hi))])
        # correctness alongside: the pruned read is exact
        want = sorted(r[0] for r in rows if lo <= r[1 if col == "a" else 2] <= hi)
        got = sorted(
            r.k for r in tt.read_where(spark, table_dir, [(col, "between", (lo, hi))]).collect()
        )
        assert got == want
        return len(kept) / total

    # lexicographic clustering: a prunes, b does not
    tt.optimize_snapshot(
        spark, table, 1, target_bytes=6_000, cluster_by=["a", "b"],
        collect_stats=True,
    )
    lex_a, lex_b = kept_frac(table, "a"), kept_frac(table, "b")
    assert lex_a <= 0.5 and lex_b == 1.0  # second column blind under lex

    # z-order: BOTH dimensions prune
    tt.optimize_snapshot(
        spark, table, 2, target_bytes=6_000, cluster_by=["a", "b"],
        collect_stats=True, zorder=True,
    )
    z_a, z_b = kept_frac(table, "a"), kept_frac(table, "b")
    assert z_a < 1.0 and z_b < 1.0
    assert z_b < lex_b  # the whole point: b gains skipping
    # guard rails
    with _pytest.raises(ValueError, match="exactly two"):
        tt.optimize_snapshot(spark, table, 3, cluster_by=["a"], zorder=True)


def test_metadata_tables_files_history_partitions(spark, tmp_path):
    """B182: the table's own metadata as queryable DataFrames, manifest-
    derived — files carry flags+payloads, history names operations,
    partitions roll up the hidden-partition layout."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import partitioning as pt
    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    rows = [(i, i % 4, i * 10) for i in range(80)]
    df = spark.createDataFrame(rows, "k long, g long, v long")
    pt.commit_partitioned(spark, table, df, 0, [("g", "identity")])
    tt.commit_delete(spark, table, spark.createDataFrame([(1,)], "k long"), 1)

    files = tt.metadata_table(spark, table, "files").collect()
    assert {r.kind for r in files} == {"data", "delete"}
    assert all(r.n_bytes > 0 and r.n_rows >= 0 for r in files)
    assert all(r.has_partition for r in files if r.kind == "data")

    hist = tt.metadata_table(spark, table, "history").collect()
    assert [h.operation for h in hist] == ["create", "delete"]

    parts = {r.partition: r for r in tt.metadata_table(spark, table, "partitions").collect()}
    assert set(parts) == {f"g:identity={g}" for g in range(4)}
    assert all(p.n_rows == 20 for p in parts.values())
    with _pytest.raises(ValueError, match="unknown metadata table"):
        tt.metadata_table(spark, table, "nope")


def test_check_constraints_gate_commits(spark, tmp_path):
    """B184: declared CHECK constraints bounce a violating append
    pre-publish with per-constraint counts (ONE pass for all checks);
    NULL evaluations violate (must-prove posture); clearing restores."""
    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    tt.set_check_constraints(table, ["v >= 0", "k IS NOT NULL"])
    good = spark.createDataFrame([(1, 5), (2, 0)], "k long, v long")
    tt.commit_snapshot(spark, table, good, 0)
    bad = spark.createDataFrame(
        [(3, -1), (None, 2), (4, None)], "k long, v long"
    )
    with _pytest.raises(tt.CheckConstraintViolation) as ei:
        tt.commit_snapshot(spark, table, bad, 1)
    msg = str(ei.value)
    assert "'v >= 0': 2" in msg and "'k IS NOT NULL': 1" in msg
    assert tt.snapshot_versions(table) == [0]  # nothing published
    tt.set_check_constraints(table, [])
    tt.commit_snapshot(spark, table, bad, 1)  # cleared: anything goes
    assert tt.read_asof(spark, table).count() == 5


def test_timestamp_travel_and_restore(spark, tmp_path):
    """B185/B186: TIMESTAMP AS OF resolves by manifest commit time with
    below-horizon fail-loud; RESTORE publishes a metadata-only forward
    commit reproducing the target state (deletes scoping intact) while
    the undone versions stay readable."""
    import os
    import time

    import pytest as _pytest

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df0 = spark.createDataFrame([(i, "v0") for i in range(10)], "k long, s string")
    tt.commit_snapshot(spark, table, df0, 0)
    tt.commit_delete(spark, table, spark.createDataFrame([(0,)], "k long"), 1)
    tt.commit_snapshot(
        spark, table, spark.createDataFrame([(0, "re")], "k long, s string"), 2
    )
    mdir = tt._manifest_dir(table)
    # stamp distinct commit times: v0 at t-300, v1 at t-200, v2 at t-100
    now = time.time()
    for v, age in ((0, 300), (1, 200), (2, 100)):
        os.utime(os.path.join(mdir, f"v{v}.parquet"), (now - age, now - age))
    assert tt.version_asof_timestamp(table, now - 150) == 1
    assert tt.read_asof_timestamp(spark, table, now - 150).count() == 9
    assert tt.read_asof_timestamp(spark, table, now).count() == 10
    with _pytest.raises(ValueError, match="at or before"):
        tt.version_asof_timestamp(table, now - 400)

    # RESTORE to v1 (post-delete, pre-reinsert): forward commit v3
    v3 = tt.restore_table(spark, table, 1)
    assert v3 == 3 and tt.snapshot_versions(table) == [0, 1, 2, 3]
    got = sorted(r.k for r in tt.read_asof(spark, table).collect())
    assert got == list(range(1, 10))  # k=0 deleted again, scoping intact
    # the undone v2 remains readable for forensics
    assert tt.read_asof(spark, table, 2).count() == 10
    # restore is metadata-only: no new data files appeared
    assert set(tt.manifest_files(table, 3, kind=None)) == set(
        tt.manifest_files(table, 1, kind=None)
    )


def test_bloom_backfill_is_explicit_not_implicit(spark, tmp_path):
    """r12 ADVICE: an append never data-reads carried pre-bloom files —
    enabling blooms at v1 indexes ONLY v1's file; history is indexed by
    the explicit backfill_bloom_index operation (which also closes a
    widened-column gap); reads stay correct throughout."""
    import json as _json

    from kinesis2elastic_spark.operators import timetravel as tt

    table = str(tmp_path / "t")
    df0 = spark.createDataFrame(
        [(i, f"r{i}") for i in range(200)], "k long, s string"
    )
    tt.commit_snapshot(spark, table, df0.repartition(3, "k"), 0)  # no blooms
    tt.commit_snapshot(
        spark, table,
        spark.createDataFrame([(900, "new")], "k long, s string").coalesce(1),
        1, bloom_cols=["k"],
    )
    ent = {e["path"]: e for e in tt.manifest_entries(table, 1) if e["kind"] == "data"}
    indexed = [p for p, e in ent.items() if e.get("bloom_json")]
    assert len(indexed) == 1 and "c1" in indexed[0]  # only the NEW file
    # carried files unindexed -> point lookup scans them (correct, no prune)
    assert [r.s for r in tt.read_where(spark, table, [("k", "=", 900)]).collect()] == ["new"]
    # explicit backfill: every data file indexed, pruning now effective
    n = tt.backfill_bloom_index(table, 2)
    assert n == 3
    e2 = [e for e in tt.manifest_entries(table, 2) if e["kind"] == "data"]
    assert all(_json.loads(e["bloom_json"]).get("k") for e in e2)
    kept, total = tt.prune_files(table, [("k", "=", 900)])
    assert len(kept) < total
    assert [r.s for r in tt.read_where(spark, table, [("k", "=", 900)]).collect()] == ["new"]
    # idempotent: nothing left to index
    assert tt.backfill_bloom_index(table, 3) == 0


def test_bloom_malformed_entry_degrades_to_scan():
    """A truncated/malformed manifest bloom entry must answer 'scan it'
    (True), never crash the pruned read (r12 ADVICE: missing b64 raised
    KeyError)."""
    from kinesis2elastic_spark.sources.scan import (
        _BLOOM_K,
        _bloom_may_contain,
    )

    assert _bloom_may_contain({"k": {"k": _BLOOM_K, "m": 64}}, "k", 5) is True
    assert _bloom_may_contain(
        {"k": {"k": _BLOOM_K, "m": 64, "b64": ""}}, "k", 5
    ) is True
    assert _bloom_may_contain(
        {"k": {"k": _BLOOM_K, "m": 64, "b64": "!!!not-base64!!!"}}, "k", 5
    ) is True
