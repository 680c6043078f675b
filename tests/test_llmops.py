"""LLM-data operator tests: planted near-duplicates must be found."""

import math

import pytest
from pyspark.sql import functions as F

from kinesis2elastic_spark.operators import llmops


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with known exact dup, near dup, and unrelated docs."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = "the quick brown fox jumps over the lazy dog and runs far away into the woods today"
    other = "completely different content about spark query engines and columnar execution layers"
    rows = [(1, base), (2, base), (3, near), (4, other)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return df


def test_minhash_finds_planted_pairs(planted):
    sigs = llmops.minhash_signatures(planted)
    assert len(sigs.first().minhash) == 32
    # exact dup pair must collide in every band; near-dup in some band
    banded = sigs  # signatures deterministic
    s1 = sigs.filter("doc_id = 1").first().minhash
    s2 = sigs.filter("doc_id = 2").first().minhash
    assert s1 == s2  # identical text -> identical signature


def test_simhash_hamming(planted):
    d = llmops.simhash64(planted)
    sh = {r.doc_id: r.simhash for r in d.collect()}
    assert sh[1] == sh[2]  # exact dup
    ham_near = bin((sh[1] ^ sh[3]) & (2**64 - 1)).count("1")
    ham_far = bin((sh[1] ^ sh[4]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far  # near dup closer than unrelated


def test_simhash_fixed_vectors(spark):
    """Pin exact signatures (independently computed with a scalar FNV-1a +
    per-bit majority-vote reference) so the vectorized numpy batch path
    can never silently drift."""
    rows = [
        (1, "the quick brown fox"),
        (2, "spark structured streaming engine test"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.simhash for r in llmops.simhash64(df).collect()}
    assert got == {
        1: 5363936793200807308,
        2: -469266135462921397,
        3: 0,
        4: 0,
    }


def test_minhash_near_dup_on_corpus(spark, sf_dir):
    pairs = llmops.minhash_near_dup_detail(spark, sf_dir).collect()
    assert all(p.jaccard >= 0.5 for p in pairs)
    assert all(p.doc_a < p.doc_b for p in pairs)


def test_ann_lsh_is_subset_quality(spark, sf_dir):
    """ANN results must be real cosine scores; top-1 recall vs brute force
    should be decent on same-bucket queries."""
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in llmops.q_cosine_topk(spark, sf_dir).collect()
    }
    ann = llmops.ann_lsh_detail(spark, sf_dir).collect()
    assert len(ann) > 0
    brute_sims = {
        (r.query_id, r.neighbor_id): r.sim for r in llmops.q_cosine_topk(spark, sf_dir, k=10**6).collect()
    }
    for r in ann:
        exact = brute_sims.get((r.query_id, r.neighbor_id))
        if exact is not None:
            assert abs(exact - r.sim) < 1e-6  # ANN scores are exact cosines


def test_ann_ivf_scores_exact_and_recall(spark, sf_dir):
    """IVF ANN: candidate scores are exact cosines; top-10 recall vs brute
    force clears a floor even on near-random synthetic embeddings."""
    brute = llmops.q_cosine_topk(spark, sf_dir, k=10).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    brute_sims = {
        (r.query_id, r.neighbor_id): r.sim
        for r in llmops.q_cosine_topk(spark, sf_dir, k=10**6).collect()
    }
    ivf = llmops.ann_ivf_detail(spark, sf_dir).collect()
    assert ivf
    for r in ivf:
        exact = brute_sims.get((r.query_id, r.neighbor_id))
        if exact is not None:
            assert abs(exact - r.sim) < 1e-6
    got_sets = {}
    for r in ivf:
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(got_sets.get(q, set()) & s) / len(s) for q, s in brute_sets.items()
    ]
    assert sum(recalls) / len(recalls) > 0.3  # 4/16 buckets probed


def test_connected_components_known_graphs(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a bigint, doc_b bigint")
    comp = {r.node: r.cluster_id for r in llmops.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    # worst-case diameter: a chain must fully converge (lineage-truncation
    # regression guard — this OOMed before localCheckpoint was added)
    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], "doc_a bigint, doc_b bigint")
    cc = {r.cluster_id for r in llmops.connected_components(chain).collect()}
    assert cc == {0}


def test_connected_components_fails_loud_past_max_iters(spark):
    """A 30-node chain needs ~30 rounds: at the default cap of 20 the
    labels have not converged, so the kernel raises instead of returning
    wrong cluster ids."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(29)], "doc_a bigint, doc_b bigint")
    with pytest.raises(RuntimeError, match="still falling"):
        llmops.connected_components(chain).collect()


def test_connected_components_of_no_pairs_is_empty(spark):
    """A corpus with no near-dup pairs is valid input: the kernel returns
    no rows rather than running to the cap and raising."""
    none = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert llmops.connected_components(none).count() == 0
    assert llmops.connected_components(none, max_iters=1).count() == 0


def test_dedup_clusters_cover_pairs(spark, sf_dir):
    pairs = llmops.minhash_near_dup_detail(spark, sf_dir).collect()
    clusters = {r.doc_id: r.cluster_id for r in llmops.dedup_clusters_detail(spark, sf_dir).collect()}
    for p in pairs:  # every near-dup pair must land in one cluster
        assert clusters[p.doc_a] == clusters[p.doc_b]


def test_dedup_exact_keeps_min_doc_id(spark, sf_dir):
    df = llmops.q_dedup_exact(spark, sf_dir)
    assert df.filter(F.col("n_copies") < 1).count() == 0
    total_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.agg(F.sum("n_copies")).first()[0] == total_docs


def test_ann_recall_flags_pass(spark, sf_dir):
    from kinesis2elastic_spark.operators.llmops import ann_recall_detail

    rows = {r.method: r for r in ann_recall_detail(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf", "pq"}
    for r in rows.values():
        assert r.recall_ok, (r.method, r.mean_recall)
        assert 0.0 <= r.min_recall <= r.mean_recall <= 1.0


def test_kmeans_lloyd_invariants(spark, sf_dir):
    """Lloyd's algorithm guarantees: clusters partition the input, and
    inertia is non-increasing across iterations (assignment and update
    steps each only ever lower it)."""
    from kinesis2elastic_spark.catalog import load
    from kinesis2elastic_spark.operators.llmops import kmeans_iterate, kmeans_profile

    emb = load(spark, sf_dir, "embeddings")
    n_total = emb.count()
    assigned, history = kmeans_iterate(emb, k=8, n_iter=3)
    assert len(history) == 3
    assert all(history[i + 1] <= history[i] + 1e-6 for i in range(len(history) - 1))
    assert history[-1] < history[0]  # actually moved from the seed centroids

    out = {r.cluster: r for r in kmeans_profile(spark, sf_dir).collect()}
    assert sum(r.n_vecs for r in out.values()) == n_total
    assert set(out) <= set(range(8))
    assert all(r.avg_sqdist >= 0 for r in out.values())

    # determinism: same seeds, same history
    _, h2 = kmeans_iterate(emb, k=8, n_iter=3)
    assert h2 == history


def test_semantic_dedup_finds_planted_duplicate(spark, tmp_path):
    """Two well-separated blobs plus one planted exact-duplicate pair:
    k=2 k-means must put the identical vectors in the same cluster, and
    the within-cluster cosine verify must emit exactly that pair at
    sim 1.0 under a high threshold."""
    import numpy as np

    from kinesis2elastic_spark.operators.llmops import semantic_dedup_detail

    rng = np.random.default_rng(7)
    blob_a = rng.normal(loc=5.0, scale=0.3, size=(20, 8))
    blob_b = rng.normal(loc=-5.0, scale=0.3, size=(20, 8))
    dup = rng.normal(size=8)
    dup = dup / np.linalg.norm(dup) + 5.0  # lives in blob A's region
    vecs = np.vstack([blob_a, blob_b, dup, dup])
    rows = [
        (int(i), [float(x) for x in v], 0) for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = semantic_dedup_detail(spark, str(tmp_path), k=2, n_iter=2, threshold=0.999999).collect()
    pairs = {(r.vec_a, r.vec_b) for r in out}
    assert (40, 41) in pairs  # the planted duplicates, co-clustered and flagged
    assert all(r.sim >= 0.9999 for r in out)


def test_exact_substr_planted_spans(spark, tmp_path):
    """Planted duplicated run: docs 1 and 2 share a 12-token run (tokens
    a5..a16 of doc 1); with K=8 the seed matches start at the run's first
    5 offsets and must merge into ONE maximal span covering exactly the
    12 shared tokens in each doc.  Doc 3 is fully unique -> zero dups."""
    a = [f"a{i}" for i in range(1, 21)]          # doc 1: a1..a20
    shared = a[4:16]                              # a5..a16 (12 tokens)
    b = ["b1", "b2", *shared, "b3", "b4"]         # doc 2: 16 tokens
    c = [f"c{i}" for i in range(1, 15)]           # doc 3: unique
    rows = [
        (1, " ".join(a), "en", "web", len(" ".join(a))),
        (2, " ".join(b), "en", "web", len(" ".join(b))),
        (3, " ".join(c), "en", "web", len(" ".join(c))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in llmops.q_exact_substr_dedup(spark, str(tmp_path)).collect()}
    assert out[1].n_dup_spans == 1 and out[1].n_dup_tokens == 12
    assert out[1].dup_frac == round(12 / 20, 4)
    assert out[2].n_dup_spans == 1 and out[2].n_dup_tokens == 12
    assert out[3].n_dup_spans == 0 and out[3].n_dup_tokens == 0


def test_random_projection_jl_bound(spark, sf_dir):
    """JL distortion check: mean |d_proj/d_orig - 1| over probe pairs must
    sit well inside the sqrt(ln n / r) envelope, and no pair may collapse
    (distortion bounded away from 0) — a broken projection matrix (all
    same sign, wrong scaling) fails both."""
    import math

    rows = llmops.random_projection_detail(spark, sf_dir).collect()
    assert len(rows) == 32 * 31 // 2
    dist = [r.distortion for r in rows]
    mean_abs_err = sum(abs(d - 1.0) for d in dist) / len(dist)
    envelope = math.sqrt(math.log(32) / llmops.JL_TARGET_DIM)  # ~0.47
    assert mean_abs_err < envelope / 2, mean_abs_err
    assert min(dist) > 0.3 and max(dist) < 2.0


def test_diversity_sample_quota_and_determinism(spark, sf_dir):
    """Per-cluster kept counts must respect the quota ceil(target/k),
    clusters smaller than the quota keep everything, and two runs
    produce identical summaries (md5-keyspace rank, no RNG)."""
    k, target = 8, 100
    quota = -(-target // k)
    a = {r.cluster: r for r in llmops.diversity_sample_detail(spark, sf_dir, k=k, target=target).collect()}
    b = {r.cluster: r for r in llmops.diversity_sample_detail(spark, sf_dir, k=k, target=target).collect()}
    assert {c: (r.n_in_cluster, r.n_kept) for c, r in a.items()} == {
        c: (r.n_in_cluster, r.n_kept) for c, r in b.items()
    }
    for r in a.values():
        assert r.n_kept == min(r.n_in_cluster, quota)


def test_pq_codes_and_recall(spark, sf_dir):
    """PQ-ADC: top-k shape per query, deterministic across runs, and the
    approximate ranking beats random (the recall floor itself is asserted
    through ann_recall_detail's pq row)."""
    out1 = llmops.ann_pq_detail(spark, sf_dir).collect()
    by_q = {}
    for r in out1:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        assert len(rows) == 10
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, 11))
        assert all(r.neighbor_id != q for r in rows)
        sims = [r.approx_sim for r in sorted(rows, key=lambda x: x.rank)]
        assert sims == sorted(sims, reverse=True)
    # determinism: fixed codebook init + fixed sample → identical output
    out2 = llmops.ann_pq_detail(spark, sf_dir).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(out1, key=key) == sorted(out2, key=key)


def test_setsim_prefix_filter_is_exact(spark, sf_dir):
    """PPJoin exactness: the prefix-filtered join must return EXACTLY the
    brute-force all-pairs >= threshold set — prefix filtering may prune
    candidates, never results."""
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in llmops.q_setsim_join(spark, sf_dir).collect()
    }
    toks = {
        r.doc_id: set(r.words)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("words"))
        .collect()
    }
    ids = sorted(toks)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            # unrounded threshold — matches the engine's raw-jaccard filter
            if j >= 0.8:
                want[(a, b)] = math.floor(j * 1e4 + 0.5) / 1e4
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_setsim_hot_token_guard(spark):
    """Adversarial hot-token corpus (one globally-rare token shared by a
    large near-duplicate-free cluster): with a candidate cap the hot
    token is withheld and its quadratic pair-probe cost is accounted
    exactly, while a genuinely similar pair is still found through its
    other (uncapped) prefix tokens."""
    pool = [f"bg{i:02d}" for i in range(30)]
    rows = []
    # 200 background docs over the filler pool → pool tokens get df≈130,
    # far above the cluster size, so the hot token sorts rare-first into
    # every cluster prefix
    for d in range(200):
        words = [pool[(d * 7 + k * 3) % 30] for k in range(20)]
        rows.append((d, " ".join(dict.fromkeys(words))))
    # 40-doc cluster: hot token + distinct filler picks (pairwise jaccard
    # far below threshold) → without the cap, the hot token alone creates
    # 40·39/2 = 780 candidate probes
    n_cluster = 40
    for c in range(n_cluster):
        words = ["hottoken"] + [pool[(c + k * 11) % 30] for k in range(18)]
        rows.append((1000 + c, " ".join(dict.fromkeys(words))))
    # planted true near-dup pair: 9 shared unique tokens + 1 differing
    # (jaccard 9/11 ≈ 0.818) — unique tokens have df=2, the rarest of
    # all, so the pair meets in its prefixes without the hot token
    shared = [f"uniq{i}" for i in range(9)]
    rows.append((2000, " ".join(shared + ["onlya"])))
    rows.append((2001, " ".join(shared + ["onlyb"])))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    cap = 10
    cand, hot, _ = llmops._setsim_parts(docs, 0.8, max_token_group=cap)
    hot_rows = {r.token: r for r in hot.collect()}
    assert "hottoken" in hot_rows
    assert hot_rows["hottoken"].n_prefix_docs == n_cluster
    assert hot_rows["hottoken"].skipped_pair_probes == n_cluster * (n_cluster - 1) // 2
    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    # no candidate pair should meet on the capped token alone...
    assert all(not (1000 <= a < 1040 and 1000 <= b < 1040) for a, b in pairs)
    # ...but the planted near-dup still surfaces through uncapped tokens
    assert (2000, 2001) in pairs
    # and with the cap disabled the hot cluster's quadratic candidates
    # appear (the cost the guard exists to bound) — size-filter-surviving
    # cluster pairs all share the hot prefix token
    cand_nocap, hot_nocap, _ = llmops._setsim_parts(docs, 0.8, max_token_group=None)
    assert hot_nocap.count() == 0
    nocap_pairs = {(r.doc_a, r.doc_b) for r in cand_nocap.collect()}
    cluster_pairs = {
        (a, b) for a, b in nocap_pairs if 1000 <= a < 1040 and 1000 <= b < 1040
    }
    assert len(cluster_pairs) > 100  # quadratic blowup without the guard


def test_simhash_reduction_planted_profile_dups(spark, tmp_path):
    """r4 invariant reduction: two docs that are word-order PERMUTATIONS
    of each other have identical token multisets -> identical SimHash
    signatures -> the reduction must count exactly that pair and confirm
    it was caught at hamming 0."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "zeta epsilon delta gamma beta alpha"),   # permutation of 1
        (3, "totally different words over here now"),
        (4, "another unrelated document body text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = llmops.q_simhash_near_dup(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 4
    assert r.n_profile_pairs == 1
    assert r.zero_hamming_caught_ok is True


def test_dedup_clusters_reduction_planted_exact_dups(spark, tmp_path):
    """r4 invariant reduction: three byte-identical docs form one exact-dup
    group that must be fully clustered, cohesive, and counted."""
    dup = "the same exact document text repeated verbatim here"
    rows = [
        (1, dup),
        (2, dup),
        (3, dup),
        (4, "completely different first filler document body"),
        (5, "completely different second filler document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    r = llmops.q_dedup_clusters(spark, str(tmp_path)).collect()[0]
    assert r.n_exact_dup_groups == 1
    assert r.n_exact_dup_docs == 3
    assert r.exact_dups_clustered_ok is True
    assert r.exact_groups_cohesive_ok is True
    assert r.partition_ok is True


def test_ann_leg_reductions_flags(spark, sf_dir):
    """r4 invariant reductions for the three ANN legs: per-query exact
    envelope rows with the subset-order-statistics bound, returned-k and
    recall-floor flags all green on the corpus."""
    for q in (llmops.q_ann_lsh, llmops.q_ann_ivf, llmops.q_ann_pq):
        rows = q(spark, sf_dir).collect()
        assert len(rows) == 5
        for r in rows:
            assert r.k_exact == 10
            assert r.exact_best_sim >= r.exact_kth_sim
            assert r.ann_sims_bounded_ok is True
            assert r.returned_k_ok is True
            assert r.recall_floor_ok is True


def test_minhash_and_cosine_reduction_flags(spark, sf_dir):
    """r4 invariant reductions: recall/subset flags green on the corpus."""
    m = llmops.q_minhash_near_dup(spark, sf_dir).collect()[0]
    assert m.recall_hi_ok is True and m.n_docs > 0
    from kinesis2elastic_spark.operators.temporal import q_cosine_near_dup

    c = q_cosine_near_dup(spark, sf_dir).collect()[0]
    assert c.subset_ok is True and c.recall_floor_ok is True
    s = llmops.q_semantic_dedup(spark, sf_dir).collect()[0]
    assert s.subset_ok is True and s.recall_floor_ok is True
    d = llmops.q_diversity_sample(spark, sf_dir).collect()[0]
    assert d.quota_ok is True and d.cluster_count_ok is True
    assert d.sample_size_bracket_ok is True


def test_minhash_incremental_planted_cross_dup(spark, tmp_path):
    """r4 incremental dedup: a new-batch doc (odd id) that near-duplicates
    an indexed doc (even id) must surface through the index equi-join;
    old-old and new-new duplicates must NOT appear (the index is never
    self-joined)."""
    base = " ".join(f"w{i}" for i in range(30))
    rows = [
        (2, base),                                  # indexed corpus
        (4, "completely different historical doc " + " ".join(f"x{i}" for i in range(20))),
        (6, base),                                  # old-old dup of 2 (must NOT pair)
        (3, base + " extra"),                       # new batch: near-dup of 2/6
        (5, "fresh unrelated new batch document " + " ".join(f"y{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    det = llmops.minhash_incremental_detail(spark, str(tmp_path)).collect()
    pairs = {(r.doc_new, r.doc_old) for r in det}
    assert (3, 2) in pairs and (3, 6) in pairs
    assert all(n % 2 == 1 and o % 2 == 0 for n, o in pairs)
    r = llmops.q_minhash_incremental(spark, str(tmp_path)).collect()[0]
    assert r.n_new == 2 and r.n_old == 3
    assert r.n_exact_cross_hi_pairs == 2   # (2,3) and (3,6) at jaccard ~0.93
    assert r.recall_hi_ok is True


def test_ann_filtered_prefilter_fills_k(spark, sf_dir):
    """Filtered vector search must PRE-filter: every query returns a full
    top-k drawn entirely from its own label, and post-filtering the
    unfiltered top-k is strictly worse (underfills k for any label whose
    corpus share is below k / corpus-size-of-topk)."""
    k, nq = 10, 8
    out = llmops.q_ann_filtered(spark, sf_dir, k=k, n_queries=nq).collect()
    emb = llmops.load(spark, sf_dir, "embeddings")
    labels = {r.vec_id: r.label for r in emb.filter(F.col("vec_id") < nq).collect()}
    label_pop = {
        r.label: r.n
        for r in emb.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    by_q = {}
    for r in out:
        assert r.label == labels[r.query_id]  # neighbor pool == query's label
        by_q.setdefault(r.query_id, []).append(r)
    for qid, lab in labels.items():
        want = min(k, label_pop[lab] - 1)  # pool minus the query itself
        assert len(by_q.get(qid, [])) == want
        ranks = sorted(r.rank for r in by_q[qid])
        assert ranks == list(range(1, want + 1))

    # post-filter baseline: unfiltered top-k restricted to the label
    # afterwards keeps <= k rows and, for every query whose label does not
    # dominate its unfiltered neighborhood, strictly fewer than k.
    unfiltered = llmops.q_cosine_topk(spark, sf_dir, k=k, n_queries=nq).collect()
    all_labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    post = {}
    for r in unfiltered:
        if all_labels[r.neighbor_id] == labels[r.query_id]:
            post.setdefault(r.query_id, []).append(r)
    assert any(
        len(post.get(q, [])) < len(by_q.get(q, [])) for q in labels
    ), "post-filtering never underfilled — fixture labels are degenerate"


def test_quality_logit_learns_planted_rule(spark, tmp_path):
    """On a corpus where the quality rule is trivially separable (long
    stopword-rich docs vs tiny ones), distributed GD must recover it:
    monotone loss, finite weights, accuracy floor met, and exact label
    counts."""
    long_doc = ("the quick brown fox of the meadow and a friend of the river "
                * 5).strip()
    rows = [(i, long_doc) for i in range(1, 13)] + [
        (i, "tiny doc") for i in range(13, 25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "logit")
    df.write.parquet(f"{sf}/documents.parquet")

    r = llmops.q_quality_logit(spark, sf).collect()[0]
    assert r.n_docs == 24 and r.n_kept_label == 12
    assert r.loss_monotone_ok and r.weights_finite_ok
    assert r.acc_floor_ok and r.loss_decreased_ok


def _auc_python(pairs):
    """Pure-Python tie-corrected AUC via average ranks: pairs = (y, s)."""
    s_sorted = sorted(pairs, key=lambda p: p[1])
    ranks, i = {}, 0
    n = len(s_sorted)
    idx = 0
    rank_of = [0.0] * n
    while idx < n:
        j = idx
        while j < n and s_sorted[j][1] == s_sorted[idx][1]:
            j += 1
        avg = (idx + 1 + j) / 2.0  # average of ranks idx+1 .. j
        for k in range(idx, j):
            rank_of[k] = avg
        idx = j
    n_pos = sum(1 for y, _ in pairs if y)
    n_neg = len(pairs) - n_pos
    rank_sum = sum(r for (y, _), r in zip(s_sorted, rank_of) if y)
    return (rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)


def test_auc_exact_planted(spark):
    """B117: perfect separation -> AUC 1, inverted -> 0, heavy ties ->
    exact agreement with a pure-Python average-rank AUC."""
    cases = {
        "perfect": [(1, 100 + i) for i in range(5)] + [(0, i) for i in range(5)],
        "inverted": [(0, 100 + i) for i in range(5)] + [(1, i) for i in range(5)],
        "ties": [(1, 10), (1, 10), (0, 10), (0, 5), (1, 5), (0, 20), (1, 3), (0, 3)],
    }
    orig = llmops.load
    try:
        for name, pairs in cases.items():
            df = spark.createDataFrame(
                [("en" if y else "de", s) for y, s in pairs],
                "lang string, n_chars long",
            )
            llmops.load = lambda _s, _d, _t, _df=df: _df
            r = llmops.q_auc_exact(spark, "x").collect()[0]
            got = r.u_num2 / r.auc_den2
            assert got == _auc_python(pairs), name
            if name == "perfect":
                assert r.u_num2 == r.auc_den2 and r.auc_above_half
            if name == "inverted":
                assert r.u_num2 == 0 and not r.auc_above_half
    finally:
        llmops.load = orig


def test_hard_negatives_cross_label_only(spark, sf_dir):
    """B132: every mined negative's label differs from its anchor's, and
    each anchor fills k (the other-label pool is large at any sf)."""
    out = llmops.q_hard_negatives(spark, sf_dir).collect()
    emb = {r.vec_id: r.label for r in llmops.load(spark, sf_dir, "embeddings").select("vec_id", "label").collect()}
    assert out
    by_q = {}
    for r in out:
        assert emb[r.neighbor_id] != r.anchor_label, (r.query_id, r.neighbor_id)
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, llmops.HARD_NEG_K + 1)), q


def test_hard_negatives_null_label_candidates_excluded(spark):
    """r8 ADVICE: SQL ``c.label <> q.qlabel`` is NULL (excluded) for a
    NULL-label candidate, but numpy ``NaN != x`` is True — the kernel's
    differ-mask must drop null-label candidates explicitly.  The planted
    NULL-label vector is the anchor's nearest neighbor, so a regression
    puts it at rank 1."""
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),       # same label: excluded by the predicate
        (2, [1.0, 0.001], None),  # NULL label: nearest — must NOT appear
        (3, [0.8, 0.6], 2),
        (4, [0.1, 0.9], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long")
    orig = llmops.load
    llmops.load = lambda s, d, t: df
    try:
        out = llmops.q_hard_negatives(spark, "ignored", k=2, n_queries=1).collect()
    finally:
        llmops.load = orig
    assert {r.neighbor_id for r in out} == {3, 4}
    assert all(r.anchor_label == 1 for r in out)


def test_paragraph_dedup_planted(spark, tmp_path):
    """B142: corpus-wide keep-first paragraph dedup + reassembly — a doc
    sharing a paragraph with an earlier doc keeps only its novel one; a
    doc made entirely of seen paragraphs reassembles to ''."""
    import hashlib

    from kinesis2elastic_spark.operators import llmops

    P1 = "w1 w2 w3 w4 w5 w6 w7 w8"
    P2 = "x1 x2 x3 x4 x5 x6 x7 x8"
    P3 = "y1 y2 y3 y4 y5 y6 y7 y8"
    SHORT = "z1 z2 z3"
    rows = [
        (1, f"{P1} {P2}", "en", "s", 10),
        (2, f"{P1} {P3}", "en", "s", 10),
        (3, f"{P2} {P1}", "en", "s", 10),
        (4, SHORT, "en", "s", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.dedup_text_hash)
        for r in llmops.q_paragraph_dedup(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 2, h(f"{P1} {P2}")),
        2: (2, 1, h(P3)),
        3: (2, 0, h("")),
        4: (1, 1, h(SHORT)),
    }


def test_paragraph_dedup_hot_paragraph_distributes(spark):
    """B142 r11: one viral paragraph planted in 100k docs — the r10
    keep-first window would funnel all 100k copies into ONE task; the
    winner-aggregate rewrite collapses them map-side.  Asserts the
    corpus-wide keep rule on the hot key (exactly one keeper, the min
    (doc_id, idx)) and that the winner aggregate runs partial-first
    (each input partition emits at most one pre-shuffle row per
    distinct paragraph, so the shuffled winner set is bounded by
    |distinct paragraphs|, not by copy count)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators import llmops

    HOT = "all rights reserved c example corp do not"
    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 100 == 0, F.concat(F.lit(HOT + " u"), F.col("id").cast("string")))
        .otherwise(F.lit(HOT))
        .alias("text"),
    ).repartition(16)
    out = llmops.paragraph_dedup(docs)
    agg = out.agg(
        F.sum("n_kept").alias("kept"),
        F.sum("n_paras").alias("paras"),
    ).collect()[0]
    # 1 keeper for HOT (doc 0) + every %100 doc's unique 1-word tail para
    assert agg.paras == 100_000 + 1_000
    assert agg.kept == 1 + 1_000
    keeper = out.filter(F.col("n_kept") > 0).agg(F.min("doc_id")).collect()[0][0]
    assert keeper == 0


def test_rank_fusion_borda_ties_share_rank(spark, tmp_path):
    """B157 semantics on a planted corpus: dense ranks ascend with the
    signal, exact ties share a rank, and borda is the sum."""
    import os

    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.llmops import q_rank_fusion

    docs = [
        (1, "a b", "en", "s"),          # 2 words, 2 distinct, wlen 1
        (2, "a b c d", "en", "s"),      # 4 words
        (3, "a a a a", "en", "s"),      # 4 words, 1 distinct
        (4, "aa bb", "en", "s"),        # 2 words, wlen 2
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in q_rank_fusion(spark, str(tmp_path)).collect()}
    # n_words: docs 1,4 tie at 2 (rank 1); docs 2,3 tie at 4 (rank 2)
    assert out[1].r_len == out[4].r_len == 1
    assert out[2].r_len == out[3].r_len == 2
    # distinct ratio: doc3 = 0.25 lowest; docs 1,2,4 = 1.0 tie
    assert out[3].r_distinct == 1
    assert out[1].r_distinct == out[2].r_distinct == out[4].r_distinct == 2
    # mean word length: docs 1,2,3 = 1.0 tie (rank 1); doc 4 = 2.0
    assert out[1].r_wlen == out[2].r_wlen == out[3].r_wlen == 1
    assert out[4].r_wlen == 2
    for d in out.values():
        assert d.borda == d.r_len + d.r_distinct + d.r_wlen


def test_kmv_partial_overlap_estimation():
    """B163: the KMV intersection estimator on planted PARTIAL overlap
    (Jaccard 1/3) — pure estimator math, no Spark: sets of 2000 with
    1000 shared must estimate |A∩B| within the 3-sigma tolerance, and
    sub-K sets are exact."""
    import hashlib

    from kinesis2elastic_spark.operators.relational import (
        KMV_K,
        KMV_TOL,
        kmv_estimate,
        kmv_intersect_estimate,
    )

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)

    A = sorted(h(i) for i in range(2000))[:KMV_K]
    B = sorted(h(i) for i in range(1000, 3000))[:KMV_K]
    est_a = kmv_estimate(A)
    assert abs(est_a - 2000) <= KMV_TOL * 2000
    est_i = kmv_intersect_estimate(A, B)
    assert abs(est_i - 1000) <= KMV_TOL * 1000 + 50
    # sub-K sets: sketch IS the set -> exact everywhere
    small_a = [h(i) for i in range(100)]
    small_b = [h(i) for i in range(50, 150)]
    assert kmv_estimate(small_a) == 100.0
    assert kmv_intersect_estimate(small_a, small_b) == 50.0
    # disjoint sets -> zero
    C = sorted(h(i) for i in range(50000, 53000))[:KMV_K]
    assert kmv_intersect_estimate(A, C) <= KMV_TOL * 100


def test_ann_ivfpq_composition_properties(spark, sf_dir):
    """B192 IVFADC: the leg-check flags hold; the IVF pruning is REAL
    (every returned neighbor's list is among its query's probed lists);
    codes stay in [0, ksub); the composed leg beats the collapse floor
    by an order of magnitude."""
    import numpy as np

    rows = llmops.q_ann_ivfpq(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.ann_sims_bounded_ok is True
        assert r.returned_k_ok is True
        assert r.recall_floor_ok is True
    # probed-list containment: recompute assignments/probes exactly as
    # the operator does and check every returned neighbor
    from kinesis2elastic_spark.catalog import load
    from pyspark.sql import functions as F

    n_queries, n_centroids, n_probe = 5, 16, 8
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "vec", F.col("embedding").cast("array<double>")
    )
    seeds = sorted(
        emb.filter(
            (F.col("vec_id") >= n_queries)
            & (F.col("vec_id") < n_queries + n_centroids)
        ).select("vec_id", "vec").collect(),
        key=lambda r: r.vec_id,
    )
    C = np.array([r.vec for r in seeds])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    qrows = sorted(
        emb.filter(F.col("vec_id") < n_queries).select("vec_id", "vec").collect(),
        key=lambda r: r.vec_id,
    )
    Qn = np.array([r.vec for r in qrows])
    Qn = Qn / np.linalg.norm(Qn, axis=1, keepdims=True)
    probes = {
        r.vec_id: set(np.argsort(-(Cn @ q))[:n_probe])
        for r, q in zip(qrows, Qn)
    }
    ann = llmops.ann_ivfpq_detail(spark, sf_dir).collect()
    nids = {r.neighbor_id for r in ann}
    nvecs = {
        r.vec_id: np.array(r.vec)
        for r in emb.filter(F.col("vec_id").isin(list(nids))).select("vec_id", "vec").collect()
    }
    for r in ann:
        v = nvecs[r.neighbor_id]
        a = int(np.argmax((v / np.linalg.norm(v)) @ Cn.T))
        assert a in probes[r.query_id]
