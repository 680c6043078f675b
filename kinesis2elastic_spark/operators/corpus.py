"""Training-corpus construction operators — the pipeline steps between a
raw document store and a training mix (beyond-the-reference surface, same
contract conventions as ``llmops.py``): deterministic sampling / splits,
priority-weighted corpus mixing, token-length histograms, quality-filter
accounting, and greedy sequence packing.

Scale notes (100 TB posture):
- sampling/splits hash the KEY, never sort or shuffle: a narrow projection
  + filter that pushes down to the scan — constant memory, no state;
- corpus mix dedups on a 16-byte fingerprint (the shuffle carries digests
  + a priority int, not documents);
- sequence packing is the one genuinely order-dependent operator:
  per-group ``applyInPandas`` where each group is one packing domain —
  domains pack independently, so parallelism = |domains| and state is one
  running counter per group, never global.

Engine-comparability: md5 hex strings are identical across engines, so
hash-derived buckets/splits compare exactly (lexicographic compare on the
hex works everywhere; no engine-specific hash or RNG in any oracle-checked
query).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.hashing import md5_hex_sql, md5_prefix_long
from ..functions.numerics import stable_round


def _doc_key(col):
    """Portable deterministic per-document hash key: lowercase md5 hex of
    the id rendered as a string (identical output in Spark and DuckDB)."""
    return F.md5(col.cast("string").cast("binary"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling + train/val split.  The classic
    rand()-based sample is non-reproducible and non-joinable; hashing the
    stable doc key gives a sample that is (a) reproducible across runs and
    engines, (b) consistent for the same doc across derived tables, and
    (c) a pure pushed-down filter — no shuffle, no state, any scale.

    Keeps md5(doc_id) < '28' (~2.5/16 = 15.6%); within the sample the
    first fifth of the keyspace ('08') is the validation split."""
    d = load(spark, sf_dir, "documents")
    key = _doc_key(F.col("doc_id"))
    return (
        d.withColumn("split_key", key)
        .filter(F.col("split_key") < "28")
        .select(
            "doc_id",
            "lang",
            "source",
            "split_key",
            F.when(F.col("split_key") < "08", "val").otherwise("train").alias("split"),
        )
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-weighted corpus mixing: when the same content appears in
    several sources, keep one copy from the highest-priority source
    (curated > web > synthetic here), then report the kept-mix per
    (source, lang).  The dedup key is a 16-byte fingerprint of normalized
    text — at corpus scale the shuffle carries (digest, priority, ids),
    never documents.

    r11 (the B142 skew sweep): the keep rule is an argmin, so it is a
    map-combinable ``groupBy(fingerprint).agg(min(struct(priority,
    doc_id, …)))`` — NOT a row_number window partitioned by the
    fingerprint, which would put every copy of a viral document in one
    task.  doc_id is unique, so fields after it in the struct ride along
    without changing the winner; hot fingerprints collapse in the
    partial aggregate."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").cast("binary"))
    prio = (
        F.when(F.col("source") == "curated", 0)
        .when(F.col("source") == "web", 1)
        .otherwise(2)
    )
    kept = (
        d.select(
            fp.alias("fingerprint"),
            F.struct(
                prio.alias("priority"), "doc_id", "source", "lang"
            ).alias("s"),
        )
        .groupBy("fingerprint")
        .agg(F.min("s").alias("w"))
        .select("w.doc_id", "w.lang", "w.source")
    )
    return kept.groupBy("source", "lang").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per lang: fixed-width buckets of the
    whitespace token count (cap at bucket 20) — the standard corpus-shape
    diagnostic before choosing a packing/window budget.  One partial-agg
    shuffle on (lang, bucket)."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    # integer DIV, not float /: float division + cast would be truncation-
    # vs-floor-hazard territory across engines
    bucket = F.least(F.expr("CAST(size(split(text, ' ')) AS BIGINT) DIV 10"), F.lit(20).cast("long"))
    return (
        d.select("lang", bucket.alias("len_bucket"), n_tokens.alias("n_tokens"))
        .groupBy("lang", "len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            # stable_round throughout this module: these are int/int or
            # ln-based quotients — the repr-tie rounding hazard (numerics.py)
            stable_round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter accounting: classify every document into
    kept / dropped_short / dropped_lowq with explicit thresholds and
    report counts per (lang, source, verdict).  The filter itself is a
    stateless projection (pushes to the scan); only the small accounting
    aggregate shuffles."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("long")
    stop = F.size(F.filter(words, lambda w: (w == "the") | (w == "a") | (w == "of"))).cast("long")
    stop_ratio = stop / n_words
    verdict = (
        F.when(n_words < 30, "dropped_short")
        .when(stop_ratio < 0.02, "dropped_lowq")
        .otherwise("kept")
    )
    return (
        d.select("lang", "source", verdict.alias("verdict"))
        .groupBy("lang", "source", "verdict")
        .agg(F.count("*").alias("n"))
    )


PACK_BUDGET = 512  # tokens per packed sequence (context-window stand-in)


def seq_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing detail (order-dependent scan): pack
    documents into fixed token budgets for training, per (lang) packing
    domain in deterministic doc_id order.  A pack closes when the next
    document would overflow ``PACK_BUDGET``; an oversized document gets a
    pack of its own.  Pack ids are engine-local (the scan is stateful),
    so this form is pytest-verified; ``q_seq_pack`` is the
    oracle-checkable contract reduction.

    This is the canonical ``applyInPandas`` shape: each group is one
    independent packing domain, the kernel is a linear scan with one
    running counter, and the output carries (doc, pack, offset) — the
    shuffle moves token COUNTS, not text.  Exact-fit packing (bin
    packing) is NP-hard and order-destroying; greedy-in-key-order is the
    standard, deterministic practice."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, offsets = [], []
        pack_id, used = 0, 0
        for n in pdf["n_tokens"]:
            if used > 0 and used + n > PACK_BUDGET:
                pack_id += 1
                used = 0
            offsets.append(used)
            pack_ids.append(pack_id)
            used += n
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        pdf["pack_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return toks.groupBy("lang").applyInPandas(
        pack, "doc_id long, lang string, n_tokens long, pack_id long, pack_offset long"
    )


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B40 contract query, self-verifying (est_ok pattern): pack ids are
    engine-local, but the packing's INVARIANTS are exact — per lang
    domain the doc and token totals are unchanged by packing (the oracle
    recomputes both from the documents table), no multi-doc pack exceeds
    the budget, and the pack count stays within the greedy guarantee
    (any two consecutive packs overflow the budget together, so
    n_packs ≤ 2·⌈total/budget⌉ + oversized singles).  A broken kernel
    (overfilled packs, dropped docs, one-doc-per-pack degeneration)
    trips a flag → hash mismatch on FALSE."""
    a = seq_pack_assignments(spark, sf_dir)
    per_pack = a.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs_in_pack"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
    bad_pack = (F.col("pack_tokens") > PACK_BUDGET) & (F.col("n_docs_in_pack") > 1)
    oversized = (F.col("pack_tokens") > PACK_BUDGET) & (F.col("n_docs_in_pack") == 1)
    return per_pack.groupBy("lang").agg(
        F.sum("n_docs_in_pack").cast("long").alias("n_docs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        (F.count_if(bad_pack) == 0).alias("budget_ok"),
        (
            F.count("*")
            <= 2 * F.ceil(F.sum("pack_tokens") / PACK_BUDGET) + F.count_if(oversized) + 1
        ).alias("efficiency_ok"),
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# RE2-safe AND java.util.regex-safe (no lookaround, no backrefs) so the same
# pattern strings run in Spark and the DuckDB oracle.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{4}-\d{2}\b"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass (emails,
    phone numbers, IPv4 addresses → typed placeholders) plus per-record
    redaction counts for audit accounting.

    The synthetic tables carry no real PII, so the contact text is
    synthesized deterministically from ``customer`` in-query (same CTE in
    the DuckDB oracle — the pipeline.py convention), then scrubbed with
    engine-portable regexes.  The scrub itself is a stateless projection:
    at 100 TB it rides the scan with zero shuffle, and the counts make the
    audit aggregate a cheap partial-agg rollup downstream.

    Order matters: emails are redacted before IPs so the dotted domain of
    an address can never be half-eaten by the IP pattern."""
    c = load(spark, sf_dir, "customer")
    raw = F.concat(
        F.lit("Reach "), F.col("c_name"),
        F.lit(" <"), F.lower(F.regexp_replace("c_name", "#", ".")), F.lit("@example.com>"),
        F.lit(" phone 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit("-"), F.lpad((F.col("c_custkey") % 100).cast("string"), 2, "0"),
        F.lit(" last seen from 10."), (F.col("c_custkey") % 200).cast("string"),
        F.lit("."), (F.col("c_custkey") % 250).cast("string"),
        F.lit("."), ((F.col("c_custkey") % 9) + 1).cast("string"),
        F.lit(" segment "), F.col("c_mktsegment"),
    )
    d = c.select("c_custkey", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("raw", PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IP,
        "<IP>",
    )
    return d.select(
        "c_custkey",
        redacted.alias("redacted"),
        F.regexp_count("raw", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count("raw", F.lit(PII_IP)).cast("long").alias("n_ips"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination + repetition quality
# --------------------------------------------------------------------------

# Word-shingle width for contamination checks.  Production decontamination
# uses 8-13-gram exact match; the synthetic corpus has a ~40-word vocabulary,
# so 4 is the width where genuine cross-doc collisions exist to detect (8+
# yields zero overlap and a vacuous check at test scale).
NGRAM_N = 4
BENCH_MOD = 53  # doc_id % BENCH_MOD == 0 -> held-out "benchmark" doc


def _word_ngrams(n: int):
    """Column expr: list of n-word shingles of ``text`` (empty when the
    document is shorter than n words).  Guarded with ``when`` because Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], not an empty list."""
    return F.when(
        F.size(F.split("text", " ")) >= n,
        F.expr(
            f"transform(sequence(1, size(split(text, ' ')) - {n - 1}), "
            f"i -> array_join(slice(split(text, ' '), i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``NGRAM_N``-word shingle with a held-out benchmark set (here the
    deterministic doc_id % 53 == 0 slice), reporting how many distinct
    benchmark shingles each contaminated doc matches.

    Scale shape: the benchmark side is tiny relative to the corpus, so its
    distinct-shingle set is BROADCAST — the training side streams through a
    map-side hash probe with no shuffle of shingle text against it; only the
    per-doc count aggregate shuffles (doc_id, count)."""
    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(_word_ngrams(NGRAM_N)).alias("gram")
    )
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").cast("long").alias("n_contaminated_grams"))
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-unigram ratio
    and the fraction of bigram occurrences taken by the single most frequent
    bigram.  High top-bigram fraction / low distinct ratio = boilerplate or
    degenerate repetition — the standard cheap pre-filter before near-dup.

    One explode + two partial-agg shuffles keyed by doc_id; the shuffle rows
    carry (doc_id, bigram) pairs, never full documents."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    )
    bg = (
        d.select("doc_id", F.explode(_word_ngrams(2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("top_bigram_count"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    return base.join(bg, "doc_id").select(
        "doc_id",
        "n_tokens",
        stable_round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
        stable_round(F.col("top_bigram_count") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
    )


CHUNK_LEN = 120  # chars per chunk
CHUNK_STRIDE = 80  # chunk start spacing (overlap = CHUNK_LEN - CHUNK_STRIDE)


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size document chunking with overlap — the step that turns a
    document store into model-context-sized training windows (chunk 120
    chars, stride 80 → 40-char overlap so no boundary context is lost).

    Spark shape: ``sequence`` + ``explode`` is a pure flat-map — no
    shuffle, no state; chunking 100 TB parallelizes per input split and
    the overlap factor (len/stride) is the exact output amplification."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    offs = F.expr(
        f"sequence(0L, CAST((length(text) - 1) DIV {CHUNK_STRIDE} AS LONG)"
        f" * {CHUNK_STRIDE}, CAST({CHUNK_STRIDE} AS LONG))"
    )
    return (
        d.select("doc_id", "text", F.explode(offs).alias("off"))
        .select(
            "doc_id",
            F.expr(f"off DIV {CHUNK_STRIDE}").cast("long").alias("chunk_id"),
            F.expr(f"substring(text, off + 1, {CHUNK_LEN})").alias("chunk"),
            F.length(F.expr(f"substring(text, off + 1, {CHUNK_LEN})"))
            .cast("long")
            .alias("chunk_len"),
        )
    )


TFIDF_MIN_TF = 3  # per-doc term-frequency floor for emitted rows


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting over the corpus: tokenize (lower, alpha
    runs), per-(doc, token) term frequency, per-token document frequency,
    weight = tf * ln(N/df).  Rows are emitted for tf >= 3 so the output is
    the informative-term table, not the full posting list.

    Scale shape: two partial-aggregable groupBys (map-side combine) over
    the token stream; the corpus size N is a 1-row broadcast.  The join
    back to df is keyed on token — skewed stopword tokens are exactly the
    rows the tf floor and AQE skew-split absorb.  No sort, no window."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token")
        )
        .filter(F.col("token") != "")
    )
    # ONE tokenize pass (r14, guide §2.4): tf, df and N were three
    # separate consumers of the explode subtree, so the corpus was
    # tokenized 3× per run.  tf has exactly one row per (doc, token),
    # so df = COUNT(*) per token over tf ≡ COUNT(DISTINCT doc_id) over
    # the token stream, and N = COUNT(DISTINCT doc_id) over tf ≡ over
    # the stream (a doc with ≥1 token contributes ≥1 tf row) — both are
    # exact-integer re-aggregations of the materialized posting list,
    # which is the query's own working set (never larger than the tf
    # shuffle it already paid for).
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.filter(F.col("tf") >= TFIDF_MIN_TF)
        .join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            stable_round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic cheap
    gibberish/boilerplate signal (low entropy = repeated filler, high =
    random noise; both are quality-filter candidates).

    Identity used: H = ln(n) - (sum c*ln c)/n over per-char counts c, so
    one explode + two partial-aggregable groupBys compute it exactly —
    no per-doc collect, no UDF.  The char explode amplifies rows by doc
    length but carries only (doc_id, 1-char string); at corpus scale this
    is a map-side-combined count shuffle, same shape as wordcount."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        "text",
    ).select("doc_id", F.expr("substring(text, i, 1)").alias("ch"))
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return freq.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        stable_round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
            4,
        ).alias("char_entropy"),
    )


def q_charlm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring with a corpus-trained character
    bigram model — the relational miniature of KenLM-filtering: documents
    whose character transitions are improbable under the corpus's own
    statistics (mojibake, binary spill, wrong-language text) score high
    and get filtered.

    score(doc) = -mean over its bigrams of ln P(c2|c1), with
    P(c2|c1) = corpus_count(c1c2) / corpus_count(c1·).

    Scale shape: the "model" is the bigram count table — a few thousand
    rows regardless of corpus size — built by one map-side-combinable
    aggregation and BROADCAST back; scoring is then a per-bigram
    broadcast-join + one partial-aggregable mean per doc.  Train and
    score are the same two-pass shape at 100 TB (the model table grows
    with alphabet², not data)."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 1)
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - 1)).alias("i"),
        F.lower("text").alias("t"),
    ).select("doc_id", F.expr("substring(t, i, 2)").alias("bg"))
    model = (
        grams.groupBy("bg")
        .agg(F.count("*").alias("n_bg"))
        .withColumn("c1", F.substring("bg", 1, 1))
        # window over a data-value key is safe HERE (r11 skew audit):
        # the frame is the already-aggregated bigram table, so a c1
        # partition holds at most |alphabet| rows regardless of corpus
        # size — bounded by construction, unlike the B142 shape.
        .withColumn("n_c1", F.sum("n_bg").over(W.partitionBy("c1")))
    )
    scored = grams.join(F.broadcast(model.select("bg", "n_bg", "n_c1")), "bg")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            stable_round(
                -F.avg(F.log(F.col("n_bg").cast("double") / F.col("n_c1"))), 4
            ).alias("nll_score"),
        )
    )


STRATUM_QUOTA = 20  # docs kept per language stratum


DRIFT_MIN_DF = 5   # corpus df floor: hapax tokens are noise, not drift
DRIFT_TOP_K = 3    # drifted tokens reported per source


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B94: per-source token-distribution drift report — the corpus-mix
    diagnostic a curation run watches (a source whose token distribution
    lifts away from the corpus signals contamination, template spam, or a
    scraper change).  For each source: its exact token totals plus its
    top-``DRIFT_TOP_K`` over-represented tokens ranked by lift
    P(token|source)/P(token) = (c_st·n)/(n_s·c_t).

    Hash-safety (the r3 lesson applied to a float ranking): the lift is
    ONE correctly-rounded IEEE division of two EXACT bigint products —
    bit-identical on any engine (no float sums, no transcendentals in the
    hashed columns; products stay < 2^53 here — at larger corpora rank on
    the exact cross-multiplied integers instead).  Ties break on token.

    Scale shape: two partial-agg passes over the exploded tokens (one
    keyed by (source, token), one by token — the second derived from the
    first by re-aggregation, so the corpus is exploded ONCE), a broadcast
    of the per-source/corpus totals (|sources|+1 rows), and a
    WindowGroupLimit top-k per source.  The df floor prunes the hapax
    tail before the window."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(F.count("*").alias("c_st"))
    t = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    s = st.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    n = s.agg(F.sum("n_s").cast("long").alias("n"))
    lifted = (
        st.join(t.filter(F.col("c_t") >= DRIFT_MIN_DF), "token")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift",
            (F.col("c_st") * F.col("n")).cast("double")
            / (F.col("n_s") * F.col("c_t")).cast("double"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("lift").desc(), "token")
    return (
        lifted.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= DRIFT_TOP_K)
        .select(
            "source",
            "n_s",
            "rk",
            "token",
            F.col("c_st").cast("long").alias("c_st"),
            F.col("c_t").cast("long").alias("c_t"),
            "lift",
        )
    )


N_SHARDS = 10  # q_shard_manifest / write_training_shards default


def shard_id_col(key_col, n_shards: int = N_SHARDS):
    """Deterministic, engine-portable shard assignment: the first two hex
    chars of md5(key) give an int in [0, 256), taken mod ``n_shards``.
    This is the "global shuffle" of a training-data run — shard
    membership is decorrelated from ingestion order (adjacent doc_ids
    scatter across shards) yet reproducible across engines and re-runs:
    no rand(), no engine-specific hash.  Spark evaluates the hex pair
    via conv(,16,10); the DuckDB oracle recomputes it with strpos
    arithmetic on the same md5 hex — identical values."""
    h = F.md5(key_col.cast("string").cast("binary"))
    return (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % n_shards
    ).alias("shard_id")


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B91: training-shard manifest — assign every document to its shard (see
    ``shard_id_col``) and emit the per-shard accounting a training job
    reads before it opens a single file — doc count, whitespace-token
    count, character count, and the id range.  The companion
    ``layout.write_training_shards`` materializes the same assignment
    as one sorted parquet directory per shard and must reproduce this
    manifest exactly (asserted in test_layout).

    Scale shape: the manifest is a partial-agg groupBy on a 10-value
    key — the corpus-sized shuffle carries only (shard_id, 3 ints) after
    map-side combine.  The writer's shuffle (repartition by shard) is
    the one a training run requires anyway; md5 uniformity makes the
    shards balanced without salting (the manifest is how you'd SEE skew
    if a pathological key distribution ever produced it).  All columns
    exact integers — nothing rounded, nothing engine-local."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            shard_id_col(F.col("doc_id")),
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_toks"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with a fixed per-stratum quota: keep exactly
    ``STRATUM_QUOTA`` documents per language, chosen by rank in the md5
    keyspace — a deterministic, engine-reproducible stand-in for random
    sampling that is also consistent across derived tables (same winners
    every run, no RNG).

    Scale shape: one window shuffle keyed by the stratum; Spark plans a
    WindowGroupLimit so each partition pre-prunes to the quota before the
    shuffle — the shuffle carries O(strata x quota), not the corpus."""
    d = load(spark, sf_dir, "documents")
    key = _doc_key(F.col("doc_id"))
    w = W.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        d.select("doc_id", "lang", "source", key.alias("sample_key"))
        .withColumn("stratum_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("stratum_rank") <= STRATUM_QUOTA)
    )


WSAMPLE_K = 200
WSAMPLE_SCALE = 1 << 20  # fixed-point precision of the priority key


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B115: deterministic weighted sampling WITHOUT replacement — the
    fixed-precision integer variant of Efraimidis–Spirakis priority
    sampling (take the k smallest u_i/w_i, u_i uniform), with the md5
    keyspace standing in for the RNG exactly as q_hash_sample does.
    Heavier documents are proportionally likelier to win, yet the sample
    is reproducible across runs, engines, and derived tables — the
    property a corpus-mixing pipeline needs when "sample 200 docs
    weighted by length" must mean the SAME 200 docs on every cluster.

    Hash-safety: the textbook key is u^(1/w) or -ln(u)/w — libm calls
    whose last ulp is engine-local.  Here u is the exact 32-bit integer
    read off md5(doc_id), and the key is floor(u·2^20 / w): one exact
    BIGINT multiply-divide (u·2^20 < 2^52, no overflow), mirrored
    verbatim in the oracle.  Ties (coarse keys collide) break on doc_id,
    so the selected SET is a pure function of the table.

    Scale shape: key computation is a map-only projection on pruned
    columns; selection is orderBy(key).limit(k) — Spark plans
    TakeOrderedAndProject (per-partition top-k heap + driver merge of
    k·n_partitions rows), never a global sort."""
    d = load(spark, sf_dir, "documents")
    u = md5_prefix_long(F.col("doc_id"))
    w = F.greatest(F.col("n_chars").cast("long"), F.lit(1))
    return (
        d.select("doc_id", "lang", w.alias("w"), u.alias("u"))
        .withColumn("prio_key", F.expr(f"(u * {WSAMPLE_SCALE}) div w"))
        .orderBy("prio_key", "doc_id")
        .limit(WSAMPLE_K)
    )


TOPP_NUM, TOPP_DEN = 9, 10  # keep until 90% of per-source mass is covered


def q_top_p_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B121: mass-based per-group selection (the "nucleus / top-p" shape):
    per source, keep the heaviest documents until they cover ≥ 90% of
    that source's total character mass — how a mixing pipeline trims the
    long tail ("the shortest docs contributing the last 10% of source X
    are noise") when a fixed top-K (B15) is the wrong unit because
    sources differ by orders of magnitude in size.

    Exact integer predicate — a row is kept iff the mass STRICTLY BEFORE
    it is < 90% of the total (so the row crossing the threshold is the
    last one kept):  (cum − w)·DEN < total·NUM, all BIGINTs, no float
    ratio anywhere.  One shuffle keyed by source; the window carries
    (id, weight) pairs only.  Unlike top-K, WindowGroupLimit cannot
    pre-prune (the cutoff is data-dependent) — the per-group sort is the
    irreducible cost, and it sorts ids+weights, never documents."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("w"), "doc_id")
    t = (
        d.select("source", "doc_id", F.col("n_chars").cast("long").alias("w"))
        .withColumn(
            "cum", F.sum("w").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long")
        )
        .withColumn("total", F.sum("w").over(W.partitionBy("source")).cast("long"))
    )
    return t.filter(
        (F.col("cum") - F.col("w")) * TOPP_DEN < F.col("total") * TOPP_NUM
    ).select("source", "doc_id", "w", "cum", "total")


def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (mean pooling), emitted long-form as
    (label, dim pos, avg) rows so the result is engine-comparable without
    array-column hashing.  posexplode + one partial-agg shuffle keyed by
    (label, pos) — the shuffle carries scalars; at corpus scale this is
    the standard map-side-combinable reduction (dims x labels cells)."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
        )
        .groupBy(F.col("label").cast("long").alias("label"), (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(stable_round(F.avg("v"), 6).alias("avg_v"), F.count("*").cast("long").alias("n_vecs"))
    )


BM25_TERMS = ("data", "query", "table")
BM25_K1, BM25_B = 1.2, 0.75


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring for a fixed query term set — the classic IR
    ranking function on top of the TF-IDF machinery (q_tfidf), as used to
    retrieve/rank corpus documents against a probe query.

    Okapi BM25: score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf_t = ln((N − df_t + 0.5)/(df_t + 0.5) + 1).

    Scale shape: per-term tf is a JVM higher-order filter over the token
    array (no explode, no shuffle); corpus stats (N, avgdl, per-term df)
    are ONE single-row aggregate broadcast back over the docs.  The
    narrow (doc_id, dl, tf_*) projection is materialized once
    (``localCheckpoint``) so the stats aggregate and the scoring pass
    share one tokenization scan instead of re-splitting the corpus
    twice.  The term loop is compile-time (|query| columns), so query
    length just widens the projection."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    def _tf(term: str):
        # one-parameter HOF lambda via def-closure: a `lambda x, _t=t`
        # default-arg capture would bind as (element, index) in PySpark
        # and shadow the term with the array index
        return F.size(F.filter(words, lambda x: x == term)).cast("double")

    tf = {t: _tf(t) for t in BM25_TERMS}
    base = d.select(
        "doc_id",
        F.size(words).cast("double").alias("dl"),
        *[tf[t].alias(f"tf_{t}") for t in BM25_TERMS],
    ).localCheckpoint(eager=True)
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("double")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    j = base.crossJoin(F.broadcast(stats))

    def term_score(t: str):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1.0
        )
        tf_c = F.col(f"tf_{t}")
        denom = tf_c + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        return idf * tf_c * (BM25_K1 + 1.0) / denom

    score = term_score(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
    # filter on the UNROUNDED score (sign is cross-engine robust); rounding
    # only the emitted column avoids keep/drop flips at the 0.00005 boundary
    return (
        j.select("doc_id", stable_round(score, 4).alias("bm25"), score.alias("_raw"))
        .filter(F.col("_raw") > 0)
        .drop("_raw")
    )


VOCAB_SIZE = 256


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction + coverage: the top-``VOCAB_SIZE``
    words by corpus frequency (deterministic tie-break: count desc, word
    asc) become the vocab; every document reports its token count, OOV
    token count, and OOV rate — the coverage diagnostic run before
    committing to a tokenizer vocab.

    Scale shape: the global word count is one map-side-combinable
    aggregate (shuffle carries (word, count)); the top-V compiles to
    TakeOrderedAndProject (per-partition heads, never a global sort); the
    vocab — small by definition — broadcasts into the probe join, so the
    corpus side streams map-side with only the per-doc aggregate
    shuffling."""
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        w.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(VOCAB_SIZE)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    n_oov = F.sum((~F.coalesce("in_vocab", F.lit(False))).cast("long"))
    return (
        w.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            n_oov.cast("long").alias("n_oov"),
            stable_round(n_oov / F.count("*"), 4).alias("oov_rate"),
        )
    )


BLOOM_M_BITS = 1 << 22  # 4.2M bits = 512 KB bitmap
BLOOM_K = 3  # hash functions; fp/gram ≈ (fill)³ — <1% up to ~1M bench grams


def _bloom_pos_cols():
    """K bit positions per gram, hashed JVM-side (xxhash64 mod m)."""
    return [
        F.pmod(F.xxhash64("gram", F.lit(seed)), F.lit(BLOOM_M_BITS)).alias(f"p{seed}")
        for seed in range(BLOOM_K)
    ]


def _bloom_bitmap_broadcast(spark: SparkSession, bench: DataFrame):
    """Build the 512 KB Bloom bitmap from a gram set, DISTRIBUTED: each
    partition segment-ORs its positions into a local bitmap
    (``mapInPandas``), the driver ORs |partitions| × 512 KB buffers —
    never a row-per-position collect.  Returns the broadcast handle."""
    import numpy as np

    positions = bench.select(F.explode(F.array(*_bloom_pos_cols())).alias("pos"))
    nbytes = BLOOM_M_BITS // 8

    def partition_bitmap(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                p = pdf["pos"].to_numpy()
                np.bitwise_or.at(bm, p // 8, (1 << (p % 8)).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    partials = positions.mapInPandas(partition_bitmap, "bm binary").collect()
    bitmap = np.zeros(nbytes, dtype=np.uint8)
    for row in partials:  # |partitions| buffers of 512 KB — bounded
        bitmap |= np.frombuffer(row.bm, dtype=np.uint8)
    return spark.sparkContext.broadcast(bitmap)


def _bloom_doc_flags(train_grams: DataFrame, bc) -> DataFrame:
    """Probe side: test all K positions per gram against the broadcast
    bitmap with vectorized numpy indexing; per-doc OR of the maybes."""
    import numpy as np

    def _probe_all(*probes: pd.Series) -> pd.Series:
        # arity follows BLOOM_K (legacy-style pandas_udf: *args keeps the
        # probe count and the build's pos_cols in lockstep)
        bm = bc.value
        out = np.ones(len(probes[0]), dtype=bool)
        for s in probes:
            p = s.to_numpy()
            out &= (bm[p // 8] >> (p % 8)) & 1 == 1
        return pd.Series(out)

    bloom_maybe = F.pandas_udf(_probe_all, "boolean")
    return (
        train_grams.select("doc_id", *_bloom_pos_cols())
        .withColumn("maybe", bloom_maybe(*[f"p{i}" for i in range(BLOOM_K)]))
        .groupBy("doc_id")
        .agg(F.max("maybe").alias("bloom_flag"))
    )


def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB path for ``q_decontam``.

    The exact path broadcasts the benchmark's distinct shingle SET; at real
    scale that set is 10⁸+ strings (GBs) and stops being broadcastable.  A
    Bloom filter compresses it to a fixed ``BLOOM_M_BITS``-bit bitmap (512
    KB here) at the cost of a bounded false-positive rate and ZERO false
    negatives — exactly the right trade for contamination screening, where
    a false positive merely quarantines one extra document.

    Scale shape:
    - positions are hashed JVM-side (``xxhash64(gram, seed) mod m`` — no
      Python string hashing);
    - the bitmap is built DISTRIBUTED: each partition segment-ORs its
      positions into a local bitmap (``mapInPandas``), the driver ORs
      |partitions| × 512 KB buffers — never a row-per-position collect;
    - the probe side broadcasts the bitmap (``sparkContext.broadcast``)
      and tests all K positions per gram with vectorized numpy indexing;
      only the per-doc flag aggregate shuffles.

    Self-verifying (the est_ok pattern): the query recomputes the exact
    broadcast-join contamination alongside and emits one summary row —
    ``no_false_negatives`` (guaranteed by construction, asserted anyway)
    and ``fp_ok`` (false-positive DOC rate among clean docs ≤ 5%).  The
    DuckDB oracle recomputes the exact counts and expects TRUE flags."""
    d = load(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.explode(_word_ngrams(NGRAM_N)).alias("gram"))
    # small by definition (the held-out benchmark); materialized once so the
    # bitmap build and the exact-verify join don't each re-shingle the corpus
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )

    bc = _bloom_bitmap_broadcast(spark, bench)
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    # r14 (guide §2.4): ONE train-gram pass computes BOTH flags — the
    # bitmap probe and the exact membership ride the same explode, the
    # exact set arrives as a broadcast left-join marker (bench grams are
    # distinct, so the join is 1:<=1 — no fan-out), and a single
    # groupBy(doc_id) OR-reduces both.  Previously the corpus was
    # exploded twice (probe leg + exact-verify leg) and the two per-doc
    # tables were joined back — two extra shuffles and a full re-scan.
    import numpy as np

    def _probe_all(*probes: pd.Series) -> pd.Series:
        bm = bc.value
        out = np.ones(len(probes[0]), dtype=bool)
        for s in probes:
            p = s.to_numpy()
            out &= (bm[p // 8] >> (p % 8)) & 1 == 1
        return pd.Series(out)

    bloom_maybe = F.pandas_udf(_probe_all, "boolean")
    per_doc = (
        train.join(
            F.broadcast(bench.withColumn("__hit", F.lit(True))), "gram", "left"
        )
        .select(
            "doc_id",
            F.coalesce("__hit", F.lit(False)).alias("__hit"),
            bloom_maybe(*_bloom_pos_cols()).alias("__maybe"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("__maybe").alias("bloom_flag"),
            F.max("__hit").alias("exact_flag"),
        )
    )
    n_clean = F.sum((~F.col("exact_flag")).cast("long"))
    n_fp = F.sum((F.col("bloom_flag") & ~F.col("exact_flag")).cast("long"))
    return per_doc.agg(
        F.count("*").cast("long").alias("n_train_docs"),
        F.sum(F.col("exact_flag").cast("long")).cast("long").alias("n_exact_contaminated"),
        (F.sum((F.col("exact_flag") & ~F.col("bloom_flag")).cast("long")) == 0).alias(
            "no_false_negatives"
        ),
        (F.coalesce(n_fp / F.nullif(n_clean, F.lit(0)), F.lit(0.0)) <= 0.05).alias("fp_ok"),
    )


# --- bench-only production detail forms (twin decomposition) ---------------
# In production the benchmark side is STATIC: its distinct shingle set (and
# the Bloom bitmap derived from it) is built once and amortized across every
# corpus batch screened against it.  The registered queries rebuild it per
# run so the oracle contract stays self-contained; these detail forms cache
# the benchmark artifacts per (session, sf_dir) so bench.py can time the
# recurring production cost — the probe — separately from the one-off build
# and (for q_bloom_decontam) the exact-verify twin.

_BENCH_SHINGLES: dict = {}
_BLOOM_BITMAPS: dict = {}


def _evict_stale_cache_keys(cache: dict, keep_key: tuple) -> None:
    """Keep only ``keep_key``: the caches pin localCheckpoint blocks /
    broadcast bitmaps, so an unbounded dict would leak executor storage
    in a long-lived session screening many sf_dirs (r6 ADVICE).  One
    benchmark artifact live at a time matches the production shape — a
    static eval suite per screening job.

    Invalidation contract (r7 ADVICE): eviction destroys the prior key's
    broadcast / unpersists its checkpoint, so any still-lazy DataFrame
    built by a probe call against a PREVIOUS sf_dir becomes invalid the
    moment a new sf_dir is screened.  Callers must therefore run the
    eviction only AFTER the new key's artifact has been built (the probe
    helpers below do), and must execute a probe's plan before screening
    a different sf_dir — interleaving two sf_dirs' lazy plans is
    unsupported, exactly as a production job screens one eval suite."""
    for k in [k for k in cache if k != keep_key]:
        val = cache.pop(k)
        try:
            if hasattr(val, "unpersist"):
                val.unpersist()
            elif hasattr(val, "destroy"):
                val.destroy()
        except Exception:
            pass  # session already stopped; nothing to release


def _bench_shingle_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BENCH_SHINGLES:
        d = load(spark, sf_dir, "documents")
        grams = d.select("doc_id", F.explode(_word_ngrams(NGRAM_N)).alias("gram"))
        _BENCH_SHINGLES[key] = (
            grams.filter(F.col("doc_id") % BENCH_MOD == 0)
            .select("gram")
            .distinct()
            .localCheckpoint(eager=True)
        )
    # evict AFTER the new artifact exists (r7 ADVICE): a caller holding a
    # lazy plan against the previous sf_dir loses it at the switch, not
    # mid-build — see _evict_stale_cache_keys' invalidation contract
    _evict_stale_cache_keys(_BENCH_SHINGLES, key)
    return _BENCH_SHINGLES[key]


def decontam_probe_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path of q_decontam: broadcast-probe the corpus against a
    PREBUILT benchmark shingle set (static in production, built once) —
    what each screened batch actually pays: shingle explode + map-side
    hash probe + per-doc count aggregate."""
    bench = _bench_shingle_set(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.explode(_word_ngrams(NGRAM_N)).alias("gram"))
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").cast("long").alias("n_contaminated_grams"))
    )


def bloom_decontam_probe_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path of q_bloom_decontam: vectorized bitmap probe with a
    PREBUILT broadcast Bloom filter — no bench-set build, no exact-verify
    twin.  Per-doc flags reduced to the summary count."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BLOOM_BITMAPS:
        _BLOOM_BITMAPS[key] = _bloom_bitmap_broadcast(
            spark, _bench_shingle_set(spark, sf_dir)
        )
    _evict_stale_cache_keys(_BLOOM_BITMAPS, key)
    bc = _BLOOM_BITMAPS[key]
    d = load(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.explode(_word_ngrams(NGRAM_N)).alias("gram"))
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    return _bloom_doc_flags(train, bc).agg(
        F.count("*").cast("long").alias("n_train_docs"),
        F.sum(F.col("bloom_flag").cast("long")).cast("long").alias("n_bloom_flagged"),
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (search-shard materialization): term →
    document frequency + the head of the sorted posting list.  The
    retrieval-side sibling of q_bm25: BM25 scores queries online, this
    materializes the offline index a search service would serve from.

    Scale shape: explode → DISTINCT (term, doc_id) is map-side
    combinable, so the shuffle carries one row per posting, not per
    occurrence; the posting list is assembled per term AFTER the
    distinct, and the emitted list is capped (first ``cap`` doc_ids in
    doc_id order) so no output row is unbounded — full posting lists
    would be written partitioned by term range, never collected into one
    row.  Rare terms (df < ``min_df``) are dropped the way a real index
    drops hapax legomena."""
    cap, min_df = 20, 5
    d = load(spark, sf_dir, "documents")
    postings = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") >= 4)
        .distinct()
    )
    return (
        postings.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, cap),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= min_df)
    )


HH_CAPACITY = 200  # candidate-sketch capacity k: captures every token with freq > N/k


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream — every token with global
    frequency > N/k (k = ``HH_CAPACITY``), computed sketch-first:

    1. CANDIDATES: per Arrow batch, exact in-batch counts keep only
       tokens with in-batch freq > n_batch/k.  Superset guarantee: if
       freq(x) > N/k globally then some batch has freq_b(x) > n_b/k
       (otherwise summing the per-batch bounds gives freq(x) ≤ N/k) —
       so no global heavy hitter is ever missed, and each batch emits
       at most k tokens.
    2. VERIFY: exact recount of candidate tokens only (broadcast
       semi-join), filtered against the global threshold from a
       single-row total-count aggregate.

    Why not a plain groupBy-HAVING: that shuffles one partial count per
    DISTINCT token — at 100 TB the unique-token tail dominates the
    shuffle.  Candidate pruning bounds the recount's shuffle to ≤ k
    tokens per partition regardless of vocabulary size, and the final
    answer is still EXACT (oracle-checked against the plain SQL)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))

    def batch_candidates(batches):
        for pdf in batches:
            vc = pdf["token"].value_counts()
            thr = len(pdf) / HH_CAPACITY
            yield pd.DataFrame({"token": vc.index[vc.to_numpy() > thr]})

    cand = toks.mapInPandas(batch_candidates, "token string").distinct()
    counts = (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    # total token count WITHOUT a third explode pass (r14, guide §2.4):
    # COUNT(*) over the exploded stream ≡ SUM(size(split(...))) on the
    # un-exploded rows (explode emits exactly size(array) rows; split
    # never yields an empty array), so the total rides a narrow scan-agg
    # instead of re-tokenizing the corpus.
    total = d.agg(
        F.sum(F.size(F.split("text", " "))).cast("double").alias("n_total")
    )
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("freq") > F.col("n_total") / HH_CAPACITY)
        .select("token", "freq")
    )


CMS_DEPTH = 4  # hash rows
CMS_WIDTH = 1024  # counters per row; collision mass/row ~ N/width


def cms_cells(tok_col):
    """The CMS_DEPTH (row, bucket) counter cells one token occurrence
    increments (xxhash64 per row, JVM-side).  Shared by the batch sketch
    (q_cms_check), the streaming maintenance (streaming/cms_stream.py),
    and every probe — build and probe MUST hash identically."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(F.xxhash64(tok_col, F.lit(i)), F.lit(CMS_WIDTH)).alias(
                    "bucket"
                ),
            )
            for i in range(CMS_DEPTH)
        ]
    )


def doc_token_stream(df: DataFrame) -> DataFrame:
    """Non-empty whitespace tokens of a documents frame (batch or
    streaming input — pure row-local ops)."""
    return df.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )


def cms_partials(tokens: DataFrame) -> DataFrame:
    """Counter-cell partial counts of a token frame: at most
    CMS_DEPTH x CMS_WIDTH rows out of the map-side-combinable aggregate,
    regardless of vocabulary or corpus size."""
    return (
        tokens.select(F.explode(cms_cells(F.col("token"))).alias("c"))
        .groupBy("c.row", "c.bucket")
        .agg(F.count("*").alias("cnt"))
    )


def q_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token counting, self-verifying (est_ok pattern) —
    the mergeable APPROXIMATE counterpart to exact heavy hitters (B81)
    and the count-side sibling of the HLL distinct sketch (B65): a fixed
    ``CMS_DEPTH x CMS_WIDTH`` counter matrix supports frequency point
    queries over any token universe in O(1) memory, and partial matrices
    from partitions/days merge by plain addition — the property that lets
    100 TB token-frequency monitoring roll up without re-touching data.

    Build: one explode of ``CMS_DEPTH`` (row, bucket) cells per token
    occurrence → map-side-combinable sum keyed by (row, bucket): the
    shuffle carries at most depth x width = 4096 counter cells per
    partition regardless of vocabulary.  Probe: the exact heavy-hitter
    tokens (B81 logic) join the 4096-row counter table on their bucket
    cells; estimate = min over rows.

    Verification: ``est >= freq`` is a STRUCTURAL CMS guarantee (every
    counter the token hashes to counts at least its own occurrences —
    deterministically true, not probabilistic), and the emitted flag
    ``within_bound_ok`` checks est <= freq + depth·N/width (generous vs
    the expected N/width collision mass per row).  The estimate itself
    uses engine-local hashing (xxhash64), so the oracle recomputes the
    exact frequencies and expects TRUE flags — same contract as
    q_hll_merge."""
    d = load(spark, sf_dir, "documents")
    toks = doc_token_stream(d)
    cms = cms_partials(toks)
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(20)
    )
    total = toks.agg(F.count("*").cast("long").alias("n_total"))
    probe = exact.select(
        "token", "freq", F.explode(cms_cells(F.col("token"))).alias("c")
    ).select("token", "freq", "c.row", "c.bucket")
    est = (
        probe.join(cms, ["row", "bucket"])
        .groupBy("token", "freq")
        .agg(F.min("cnt").cast("long").alias("est"))
    )
    bound = F.col("freq") + F.lit(CMS_DEPTH) * F.col("n_total") / F.lit(CMS_WIDTH)
    return (
        est.join(F.broadcast(total))
        .select(
            "token",
            "freq",
            "n_total",
            (F.col("est") >= F.col("freq")).alias("est_ge_freq_ok"),
            (F.col("est") <= bound).alias("within_bound_ok"),
        )
    )


BPE_ROUNDS = 6
_BPE_SEP = "\x1f"  # unit separator: wraps every symbol as SEP+sym+SEP
_BPE_CHECKPOINT_EVERY = 8  # rounds between vocab re-materializations


def q_bpe_train(spark: SparkSession, sf_dir: str, n_rounds: int = BPE_ROUNDS) -> DataFrame:
    """B84: distributed BPE-merge training — the tokenizer-induction step
    of an LLM data pipeline.  Classic byte-pair encoding over the corpus:
    start from characters, repeatedly merge the corpus-wide most frequent
    adjacent symbol pair (ties: count desc, then pair lexicographic), and
    emit the merge table (round, left_sym, right_sym, merged, pair_count)
    — the exact artifact a BPE tokenizer ships.  The loop itself lives
    in ``_bpe_fit`` so ``q_bpe_encode`` can reuse the fitted vocabulary.

    Spark-first scale shape (how industrial BPE trainers work):
    - ONE corpus-wide pass builds the word-frequency table (map-side
      combinable count; the explode carries bare tokens).  Every
      subsequent round runs on the VOCABULARY (unique words + counts),
      which is sublinear in corpus size — at 100 TB the vocab is
      millions of rows, not the corpus.
    - per round: adjacent-pair explode over vocab symbol lists, one
      partial-agg count keyed by pair, and a top-1 collect (ONE row — a
      bounded driver action); the winning merge is applied map-side via
      a string replace, no shuffle.
    - the base vocab is materialized ONCE (localCheckpoint); each round's
      merge is a row-local replace expression over it, so the chain
      recomputes for pennies and is re-truncated only every
      ``_BPE_CHECKPOINT_EVERY`` rounds — per-round checkpointing doubled
      the job count for no lineage benefit.

    Cross-engine determinism: symbols live in a wrapped string form
    ``SEP a SEP SEP b SEP ...`` so the merge is a plain ``replace`` of
    ``SEP a SEP SEP b SEP`` -> ``SEP ab SEP`` — boundary-safe (a symbol
    can never match inside a longer symbol) and greedily left-to-right
    with identical non-overlap semantics in Spark and DuckDB (probed:
    'aaaa' -> [aa, aa] on both).  The oracle unrolls the same rounds as
    chained CTEs; every output column is an exact string/int — no floats
    anywhere in the hash."""
    merges, _ = _bpe_fit(spark, sf_dir, n_rounds)
    return spark.createDataFrame(
        merges,
        "round bigint, left_sym string, right_sym string, merged string, pair_count bigint",
    )


def _bpe_fit(
    spark: SparkSession, sf_dir: str, n_rounds: int = BPE_ROUNDS
) -> tuple[list, DataFrame]:
    """The BPE training loop (see ``q_bpe_train`` for the full design
    rationale).  Returns ``(merges, vocab)`` where ``merges`` is the
    ordered merge table and ``vocab`` is the word-frequency table with
    each word's FULLY-MERGED wrapped symbol string — i.e. the exact
    BPE ENCODING of every distinct word, since applying the merge list
    in training order is precisely how a BPE tokenizer encodes."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    vocab = words.select(
        "word",
        F.regexp_replace("word", "(.)", f"{_BPE_SEP}$1{_BPE_SEP}").alias("s"),
        "c",
    ).localCheckpoint(eager=True)

    merges = []
    for rnd in range(1, n_rounds + 1):
        with_syms = vocab.withColumn(
            "syms",
            F.split(F.expr("substring(s, 2, length(s) - 2)"), _BPE_SEP + _BPE_SEP),
        )
        # size >= 2 guard: Spark's sequence(1, 0) is DESCENDING (not empty
        # like DuckDB's range), so single-symbol words must not reach it
        pairs = (
            with_syms.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
                    )
                ).alias("p"),
                "c",
            )
            .select("p.l", "p.r", "c")
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("c").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((rnd, l, r, l + r, cnt))
        old = f"{_BPE_SEP}{l}{_BPE_SEP}{_BPE_SEP}{r}{_BPE_SEP}"
        new = f"{_BPE_SEP}{l}{r}{_BPE_SEP}"
        vocab = vocab.withColumn(
            "s", F.replace(F.col("s"), F.lit(old), F.lit(new))
        )
        # re-materialize only every few rounds: each replace is a cheap
        # row-local expression over the ONE checkpointed base vocab, so a
        # short chain recomputes for pennies — checkpointing every round
        # doubled the job count for no lineage benefit.  A production
        # vocab run (thousands of merges) keeps the same cadence.
        if rnd % _BPE_CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab


def q_tokenizer_fertility(
    spark: SparkSession, sf_dir: str, n_rounds: int = BPE_ROUNDS
) -> DataFrame:
    """B93: tokenizer FERTILITY per language — the standard
    tokenizer-evaluation metric (BPE tokens emitted per word; a
    tokenizer trained on one language distribution over-segments the
    others, and this table is how you see it).  Pure rollup of the
    ``q_bpe_encode`` quantities to (lang): all sums exact integers; the
    fertility ratio itself is emitted as its exact numerator/denominator
    pair (token sum, word sum) per the repo's hash-safety recipe — the
    oracle recomputes both through the identical merge chain."""
    _, vocab = _bpe_fit(spark, sf_dir, n_rounds)
    sep2 = _BPE_SEP + _BPE_SEP
    encoded = vocab.select(
        "word",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), sep2)
        ).cast("long").alias("n_syms"),
    )
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        toks.join(encoded, "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str, n_rounds: int = BPE_ROUNDS) -> DataFrame:
    """B89: BPE ENCODING — apply the trained merge table to the
    corpus and report each document's token count under the fitted
    tokenizer (the number every packing / budget / fertility computation
    downstream consumes).

    Spark-first scale shape: a BPE encoder never touches documents
    token-by-token in Python.  Applying the merge list in training order
    to the VOCABULARY's wrapped symbol strings (a chain of JVM
    ``replace`` calls over unique words — sublinear in corpus size) IS
    the encoding; the corpus-sized work is then one explode + equi-join
    on ``word`` (broadcast when the vocab fits, shuffle-keyed by word
    otherwise) and a per-doc partial-agg sum.  No Python in the hot
    path, no per-token state.

    Exactness: every output column is an exact integer —
    ``n_init_syms`` (character symbols before any merge = chars minus
    spaces) and ``n_bpe_tokens`` (symbols after the merges) are both
    recomputed by the oracle through the identical unrolled merge
    chain, so saved = n_init_syms - n_bpe_tokens is implicitly checked.
    No floats anywhere in the hash."""
    _, vocab = _bpe_fit(spark, sf_dir, n_rounds)
    sep2 = _BPE_SEP + _BPE_SEP
    encoded = vocab.select(
        "word",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), sep2)
        ).cast("long").alias("n_syms"),
    )
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        toks.join(encoded, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_init_syms"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )


def _bpe_chain_sql(n_rounds: int = BPE_ROUNDS) -> str:
    """The WITH-clause body of the unrolled merge chain, shared by the
    q_bpe_train and q_bpe_encode oracles (each appends its own final
    SELECT).  ``word`` rides through every wk so the encode oracle can
    join tokens back to their fully-merged form."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    parts = [
        f"""WITH wf AS (
          SELECT word, count(*) AS c
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE word <> '' GROUP BY word),
        w0 AS MATERIALIZED (
          SELECT word, regexp_replace(word, '(.)', {sep}||'\\1'||{sep}, 'g') AS s, c
          FROM wf)"""
    ]
    for k in range(1, n_rounds + 1):
        prev = f"w{k - 1}"
        parts.append(
            f"""p{k} AS MATERIALIZED (
          SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(c) AS BIGINT) AS cnt
          FROM (SELECT string_split(substr(s, 2, length(s) - 2), {sep2}) AS syms, c
                FROM {prev}),
               unnest(range(1, len(syms))) AS t(i)
          GROUP BY 1, 2),
        m{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
        w{k} AS MATERIALIZED (
          SELECT word, replace(s,
                         {sep}||(SELECT l FROM m{k})||{sep2}||(SELECT r FROM m{k})||{sep},
                         {sep}||(SELECT l FROM m{k})||(SELECT r FROM m{k})||{sep}) AS s, c
          FROM {prev})"""
        )
    return ",\n".join(parts)


def _bpe_oracle_sql(n_rounds: int = BPE_ROUNDS) -> str:
    """q_bpe_train oracle: the chain + the merge-table unions."""
    unions = "\n        UNION ALL\n".join(
        f"        SELECT CAST({k} AS BIGINT) AS round, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, cnt AS pair_count FROM m{k}"
        for k in range(1, n_rounds + 1)
    )
    return _bpe_chain_sql(n_rounds) + "\n" + unions


def _bpe_encode_oracle_sql(n_rounds: int = BPE_ROUNDS) -> str:
    """q_bpe_encode oracle: the chain + a per-document token-count join
    against the final vocabulary encoding."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    return (
        _bpe_chain_sql(n_rounds)
        + f""",
        enc AS (
          SELECT word,
                 len(string_split(substr(s, 2, length(s) - 2), {sep2})) AS n_syms
          FROM w{n_rounds}),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT t.doc_id,
               count(*) AS n_words,
               CAST(sum(length(t.word)) AS BIGINT) AS n_init_syms,
               CAST(sum(e.n_syms) AS BIGINT) AS n_bpe_tokens
        FROM toks t JOIN enc e USING (word)
        WHERE t.word <> ''
        GROUP BY t.doc_id"""
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B99: train/val split-leakage detection — a duplicate group whose
    members land on BOTH sides of a deterministic md5-keyspace split
    leaks evaluation text into training, the classic way a val loss
    lies.  This audits a STANDALONE 50/50 split over the full corpus
    (train = md5(doc_id) < LEAKAGE_SPLIT_BOUNDARY): per-corpus counts of
    multi-member duplicate groups, the groups that straddle the
    boundary, and the total documents involved in a straddle.  It is the
    same audit one would run on q_hash_sample's '28'/'08' split — but
    that split keeps only 15.6% of the corpus, under which every
    duplicate group at the test SFs collapses to one member (verified
    vacuous at sf0.01 AND sf0.1), so the oracle-checked contract uses
    the full-corpus 50/50 boundary where the audit has teeth.

    The duplicate key is the canonical bag-of-words FINGERPRINT
    (md5 of the sorted token list — ``q_doc_fingerprint``'s definition),
    not the raw bytes: this corpus's duplicates are word permutations,
    and a byte-exact key would make the audit vacuously clean (verified:
    zero byte-identical pairs at sf0.01).

    Scale shape: one digest groupBy (16-byte md5 keys, never documents)
    with a conditional count per side — the q_dedup_exact shuffle plus
    two sums; near-dup leakage is the same audit with the minhash
    cluster id as the group key (engine-local ids, so the
    fingerprint-level form is the oracle-checked contract)."""
    d = load(spark, sf_dir, "documents")
    split = F.when(
        _doc_key(F.col("doc_id")) < LEAKAGE_SPLIT_BOUNDARY, "train"
    ).otherwise("val")
    fp = F.md5(F.concat_ws(" ", F.sort_array(F.split("text", " "))))
    g = (
        d.select(fp.alias("text_key"), split.alias("split"))
        .groupBy("text_key")
        .agg(
            F.count("*").alias("n_members"),
            F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
            F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
        )
    )
    multi = g.filter(F.col("n_members") >= 2)
    straddle = multi.filter((F.col("n_train") > 0) & (F.col("n_val") > 0))
    return (
        multi.agg(F.count("*").alias("n_dup_groups"))
        .crossJoin(
            F.broadcast(
                straddle.agg(
                    F.count("*").alias("n_leaking_groups"),
                    F.coalesce(F.sum("n_members"), F.lit(0))
                    .cast("long")
                    .alias("n_docs_in_leaks"),
                )
            )
        )
        .select("n_dup_groups", "n_leaking_groups", "n_docs_in_leaks")
    )


# q_split_leakage's standalone 50/50 md5-keyspace boundary — one constant
# shared by the Spark expression and the oracle SQL (r5 ADVICE: a literal
# duplicated across the two sides is exactly the drift the shared ANN
# constants fixed)
LEAKAGE_SPLIT_BOUNDARY = "80"

MIXTURE_ALPHA = 0.7  # temperature exponent for source reweighting


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B97: temperature-based source-mixture reweighting — the sampling-
    weight computation behind multi-source training mixes (temperature
    sampling in multilingual/multi-domain LMs; the fixed-alpha core of
    DoReMi-style reweighting): per source, natural token share
    ``p_s = tokens_s / N`` is flattened to ``w_s ∝ p_s^α`` (α=0.7), so
    small sources are upsampled and head sources damped; ``upsample``
    (= w/p) is the factor a sampler applies to each source's natural
    rate.  Consumed together with q_corpus_mix (which executes a given
    mix) and q_source_drift (which monitors the result).

    Scale shape: one corpus scan → partial agg on the tiny source key;
    the α-flatten and normalization run on |sources| rows.

    Hash contract (round-6, r5 ADVICE): the hashed columns are the exact
    BIGINT counts, the pure-IEEE ``share`` quotient (int/int double
    division — correctly rounded, no libm), and INVARIANT booleans over
    the transcendental weights.  The raw weight/upsample values derive
    from libm ``pow()`` plus an order-dependent double sum, which the
    round-3/4 doctrine bans from hashed columns (last-ulp differences
    across libms/engine versions can flip a snap boundary); instead each
    engine verifies its OWN weights against the two properties any
    temperature mix must satisfy — weights sum to 1, and the α-flatten
    preserves the token-share order (rank by weight == rank by token
    count) with upsampling monotone the other way."""
    d = load(spark, sf_dir, "documents")
    # materialize the |sources|-row aggregate ONCE (r14, guide §2.4):
    # every downstream branch (total, z, norm, the two rank windows and
    # the final projection) re-derived this subtree — Spark shares no
    # common subtrees across crossJoin/union branches, so the corpus
    # scan + agg executed 16× per run (16 `Scan parquet` nodes in the
    # r13 plan).  One pin of the tiny per-source counts collapses that
    # to ONE corpus scan; every value downstream is the same
    # exact-integer re-aggregation.
    from ..plans.pinning import pin

    src = pin(
        d.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        )
    )
    # identity re-aggregation over the pinned frame: exact (the pin holds
    # one row per source by construction, so max == the value) and
    # exchange-free (pin preserves the aggregate's hash(source) output
    # partitioning, which already satisfies the groupBy's required
    # distribution).  It exists so an Aggregate node sits above the
    # opaque checkpoint leaf: the registry-wide unbounded-global-window
    # sweep (tests/test_contract.py / plans/explain.py) proves the rank
    # windows below run over row-count-BOUNDED input by walking for
    # bounding operators, and a bare LogicalRDD would read as
    # corpus-sized even though it is |sources| rows.
    src = src.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("n_tokens").alias("n_tokens"),
    )
    tot = src.agg(
        F.sum("n_tokens").cast("long").alias("n_total_tokens"),
    )
    s = src.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n_tokens") / F.col("n_total_tokens").cast("double")
    )
    s = s.withColumn("pa", F.pow(F.col("p"), F.lit(MIXTURE_ALPHA)))
    z = s.agg(F.sum("pa").alias("z"))
    s = s.crossJoin(F.broadcast(z)).withColumn("w", F.col("pa") / F.col("z"))
    # invariant reductions over the |sources|-row frame (tiny windows)
    rk_w = F.row_number().over(W.orderBy(F.col("w"), F.col("source")))
    rk_t = F.row_number().over(W.orderBy(F.col("n_tokens"), F.col("source")))
    rk_u = F.row_number().over(
        W.orderBy((F.col("w") / F.col("p")).desc(), F.col("source"))
    )
    norm = s.agg(
        (F.abs(F.sum("w") - 1.0) < 1e-9).alias("weights_normalized_ok")
    )
    return (
        s.withColumn("weight_rank_ok", rk_w == rk_t)
        .withColumn("upsample_rank_ok", rk_u == rk_t)
        .crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_total_tokens",
            stable_round(F.col("p"), 6).alias("share"),
            "weight_rank_ok",
            "upsample_rank_ok",
            "weights_normalized_ok",
        )
    )


DSIR_BUCKETS = 1024        # hashed n-gram feature space (DSIR's "hashed
                           # bag of n-grams"); model size is B rows at ANY
                           # corpus size — the whole model broadcasts
DSIR_TARGET_LANG = "en"    # the target distribution: the trusted/reference
                           # slice the pool is reweighted toward
DSIR_MICRO = 1_000_000     # log-ratio quantization: integer micro-nats


def _dsir_grams(words_col: str):
    """Uni+bi-gram feature list from a MATERIALIZED word-array column —
    the hashed n-gram featurization DSIR uses.  The caller must project
    ``split(text, ' ')`` into ``words_col`` first: inlining the split
    into this expression re-evaluates it per transform-lambda element
    (no common-subexpression elimination inside lambdas), turning
    featurization O(words^2) per document — measured 2.5 s/pass at
    sf0.1 vs ~0.4 s with the column bound once.  Bigrams guard on
    size>=2 because Spark's sequence(1, 0) counts DOWN (yields [1, 0]),
    unlike DuckDB's half-open range(1, 1) = []."""
    w = f"`{words_col}`"
    return F.expr(
        f"concat({w}, CASE WHEN size({w}) >= 2 "
        f"THEN transform(sequence(1, size({w}) - 1), "
        f"i -> concat(element_at({w}, i), ' ', element_at({w}, i + 1))) "
        f"ELSE array() END)"
    )


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B111: DSIR-style importance reweighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling") — the
    standard "select pretraining data to match a target distribution"
    operator, complementing the quality gate (q_quality_filter) and
    temperature mixing (q_mixture_weights).  Target = the
    ``DSIR_TARGET_LANG`` slice of the corpus (the trusted reference
    distribution); every POOL document (the rest) gets an importance
    weight = log-likelihood ratio of its hashed uni+bi-gram features
    under add-1-smoothed target vs pool bag-of-ngrams models:

        w(d) = sum_f c_f(d) * [ ln((t_f+1)/T) - ln((r_f+1)/R) ]

    with t_f/r_f the bucket counts over target/pool grams, T = sum(t_f)+B,
    R = sum(r_f)+B.  Upweighted (w > 0) documents look like the target;
    resampling by softmax(w) is a driver-side epilogue on this output.

    Hash-safety (doctrine: no order-dependent float sums, no raw
    transcendentals in hashed columns): the ONLY libm calls happen in the
    BOUNDED model table — each bucket's log-ratio is quantized once to
    integer micro-nats ``floor((ln(t_f+1) - ln(r_f+1)) * 1e6 + 0.5)``,
    and the constant ``ln(R) - ln(T)`` once — so the per-document weight
    ``sum(c_f * lr_micro_f) + n_grams * const_micro`` is EXACT BIGINT
    arithmetic with no summation-order sensitivity.  The exact
    numerator/denominator pair sums ``sum_num = sum c_f*(t_f+1)`` /
    ``sum_den = sum c_f*(r_f+1)`` are hashed alongside, pinning the
    feature hash, both model aggregations and the broadcast join
    row-for-row; ``is_upweighted`` is an exact integer comparison.

    Scale shape (100 TB): TWO explode passes over the corpus — model fit
    (groupBy(bucket), conditional partial aggs, <= B rows out of the
    shuffle at any corpus size, then BROADCAST) and scoring (map-side
    broadcast-join + one partial-aggregable groupBy(doc_id)); a real
    pipeline amortizes the first by materializing the featurized stream
    or the fitted model.  No join or window ever carries more than the
    gram stream keyed by doc_id; measured 10x-data slope 0.49x-per-x
    (SCALING.md r8 — sub-linear, fixed costs amortizing)."""
    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("tgt"),
        F.split(F.col("text"), " ").alias("__w"),
    ).select(
        "doc_id",
        "tgt",
        F.explode(_dsir_grams("__w")).alias("gram"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 4), 16, 10)
        .cast("long")
        % DSIR_BUCKETS
    ).alias("bucket")
    b = grams.select("doc_id", "tgt", bucket)
    model = b.groupBy("bucket").agg(
        F.sum(F.col("tgt").cast("long")).cast("long").alias("t_f"),
        F.sum((~F.col("tgt")).cast("long")).cast("long").alias("r_f"),
    )
    # The quantized log-ratio table is computed ONCE, driver-side, over
    # the BOUNDED <=B-row model (a <=1024-row collect — same class as the
    # centroid/histogram collects).  When duckdb is importable the logs
    # run through DuckDB's ln — the SAME library the correctness oracle
    # runs, so a floor(x*1e6 + 0.5) quantization boundary can never split
    # the two engines (r8 ADVICE: last-ulp disagreement flips lr_micro by
    # 1).  CAVEAT (r9 ADVICE, documented deliberately): that makes the
    # lr_micro/const_micro-derived w_micro/is_upweighted columns
    # self-referential in the oracle comparison — both engines execute
    # the same ln; the independently cross-validated columns are the
    # exact integer sufficient statistics (n_grams, sum_num, sum_den) and
    # the full feature/model/join pipeline they pin.  duckdb is OPTIONAL
    # (a test-oracle library, not an engine dependency): without it the
    # same table comes from math.log, IEEE-accurate within the same
    # 1-ulp class (a deployment that never runs the DuckDB oracle cannot
    # see the boundary split either).  At 100 TB this is unchanged: the
    # model fit still shuffles down to <=B rows, and 1024 driver-side
    # logs are free.
    mrows = model.collect()
    sum_t = sum(r.t_f for r in mrows)
    sum_r = sum(r.r_f for r in mrows)
    try:
        import duckdb

        import pandas as pd

        mpdf = pd.DataFrame(
            {"bucket": [r.bucket for r in mrows],
             "t_f": [r.t_f for r in mrows],
             "r_f": [r.r_f for r in mrows]}
        )
        lr_pdf = duckdb.query(
            f"""SELECT bucket, t_f, r_f,
                   CAST(floor((ln(t_f + 1) - ln(r_f + 1))
                              * {DSIR_MICRO} + 0.5) AS BIGINT) AS lr_micro,
                   CAST(floor((ln({sum_r} + {DSIR_BUCKETS})
                               - ln({sum_t} + {DSIR_BUCKETS}))
                              * {DSIR_MICRO} + 0.5) AS BIGINT) AS const_micro
                FROM mpdf"""
        ).to_df()
        lr_rows = [tuple(int(x) for x in row) for row in lr_pdf.itertuples(index=False)]
    except ImportError:  # engine-only deployment: pinned pure-Python ln
        import math

        const_micro = math.floor(
            (math.log(sum_r + DSIR_BUCKETS) - math.log(sum_t + DSIR_BUCKETS))
            * DSIR_MICRO
            + 0.5
        )
        lr_rows = [
            (
                int(r.bucket),
                int(r.t_f),
                int(r.r_f),
                math.floor(
                    (math.log(r.t_f + 1) - math.log(r.r_f + 1)) * DSIR_MICRO + 0.5
                ),
                const_micro,
            )
            for r in mrows
        ]
    lr = spark.createDataFrame(
        lr_rows, "bucket long, t_f long, r_f long, lr_micro long, const_micro long"
    )
    doc = (
        b.filter(~F.col("tgt"))
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.col("t_f") + 1).cast("long").alias("sum_num"),
            F.sum(F.col("r_f") + 1).cast("long").alias("sum_den"),
            F.sum("lr_micro").cast("long").alias("__slr"),
            F.min("const_micro").alias("__const"),
        )
    )
    return doc.withColumn(
        "w_micro",
        (F.col("__slr") + F.col("n_grams") * F.col("__const")).cast("long"),
    ).select(
        "doc_id",
        "n_grams",
        "sum_num",
        "sum_den",
        "w_micro",
        (F.col("w_micro") > 0).alias("is_upweighted"),
    )


COLLOC_TOP_V = 64       # collocation vocabulary: top-V tokens by doc freq
COLLOC_MIN_SUPPORT = 5  # emit pairs co-occurring in >= this many docs


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B134: collocation / co-occurrence mining — the phrase-detection
    and PMI-feature prep step (word2vec-era SGNS tables, phrase merging
    à la Mikolov et al. 2013, topic seeding all start from document-level
    co-occurrence counts): for every unordered pair of TOP-``V`` tokens,
    the exact number of documents containing both.

    Never all-pairs over the vocabulary or the corpus: the vocabulary is
    capped at ``COLLOC_TOP_V`` by document frequency (ties broken by
    token — deterministic), BROADCAST, and pairs are generated map-side
    per document from the sorted in-doc vocab subset (<= V(V-1)/2 pairs
    per doc by construction, one groupBy(pair) map-combinable shuffle).
    At 100 TB the same plan holds: the vocab fit is one map-combinable
    aggregate + a driver-free TakeOrdered of V rows, and no stage ever
    carries more than the per-doc pair fan-out.

    Hash-safety: everything is exact BIGINT counts — the PMI / LLR
    scores a consumer ranks by are log-ratios of these sufficient
    statistics (n_ab, df_a, df_b, n_docs), left to the consumer exactly
    so no transcendental enters the hashed schema (the DSIR lesson)."""
    # constants resolved at CALL time (tests monkeypatch them)
    return collocations_detail(spark, sf_dir, COLLOC_TOP_V, COLLOC_MIN_SUPPORT)


def collocations_detail(
    spark: SparkSession,
    sf_dir: str,
    top_v: int = COLLOC_TOP_V,
    min_support: int = COLLOC_MIN_SUPPORT,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Parameterized collocation kernel (q_collocations pins the
    contract constants; ``top_v`` sweeps over a vocabulary-inflated
    corpus via ``docs`` carry the never-all-pairs-over-vocab claim as a
    measured slope in V — SCALING.md, round-10 addendum 4)."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(top_v)
    )
    per_doc = (
        toks.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("tok")).alias("__vt"))
    )
    pairs = per_doc.select(
        F.explode(
            F.expr(
                "flatten(transform(__vt, (x, i) -> "
                "transform(slice(__vt, i + 2, size(__vt)), "
                "y -> struct(x AS tok_a, y AS tok_b))))"
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    n_docs = d.agg(F.count("*").cast("long").alias("n_docs"))
    va = vocab.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
        .join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select("tok_a", "tok_b", "n_ab", "df_a", "df_b", "n_docs")
    )


LANGID_TOPK = 64  # Cavnar-Trenkle profile depth


def _char_trigrams(d: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, *extra, tri) — one row per char trigram of lower(text),
    the charlm explode shape (q_charlm_score) widened to 3-grams."""
    return d.filter(F.length("text") >= 3).select(
        "doc_id",
        *extra_cols,
        F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
        F.lower(F.col("text")).alias("lt"),
    ).select(
        "doc_id", *extra_cols, F.expr("substring(lt, i, 3)").alias("tri")
    )


def langid_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rank profile (lang, tri, lrank): the top-LANGID_TOPK
    char trigrams of each language's training text ranked by frequency
    (ties by trigram string) — Cavnar & Trenkle 1994, the public
    n-gram-based text categorization method, FIXTURE-TRAINED on the
    corpus's own labeled documents (production would load offline
    profiles).  Integer ranks only — no probability, no transcendental
    — so the classifier is hash-exact cross-engine.

    Scale shape: the window ranks the per-(lang, tri) AGGREGATE (bounded
    by languages x distinct trigrams — statistics-sized, never corpus
    rows), the B157 histogram discipline.  The scan is spread to full
    parallelism first (r14: the testdata is ONE parquet split, which
    serialized the whole 1.5M-trigram explode onto a single core —
    measured 3.3 s -> ~0.7 s at sf0.1; real corpora arrive pre-split,
    making the tiny doc-row shuffle a no-op by comparison)."""
    tri = _char_trigrams(
        load(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        ),
        "lang",
    )
    counts = tri.groupBy("lang", "tri").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tri"))
    return (
        counts.withColumn("lrank", F.row_number().over(w).cast("long"))
        .filter(F.col("lrank") <= LANGID_TOPK)
        .select("lang", "tri", "lrank")
    )


def langid_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, pred, dist): each document's own top-K trigram
    rank profile is compared to every language profile by the
    out-of-place measure — sum over the doc's trigrams of
    |doc_rank - lang_rank|, penalty K when absent — and the argmin
    (ties by language string) is the prediction.  All-integer.

    Plan: doc profiles are a per-doc window over per-(doc, tri) counts;
    the candidate cross is docs x 5 langs with the tiny profile table
    BROADCAST; the argmin is a map-combinable min-struct winner (B142
    rule — never a row_number over a potentially hot key).  Trigram
    generation runs on the full-parallelism spread (r14, see
    langid_profiles — the single-split testdata scan serialized it)."""
    d = load(spark, sf_dir, "documents")
    # ONE trigram explode serves BOTH profile builds (r14, guide §2.4):
    # the per-(doc, lang, tri) counts are materialized once
    # (localCheckpoint — a one-shot pin, ~distinct-(doc,tri) rows), the
    # doc profiles rank them directly, and the language profiles
    # RE-AGGREGATE them (sum of per-doc counts == direct per-lang count,
    # exact integers) — previously the corpus-wide explode + count ran
    # twice, once here and once inside langid_profiles.
    tri = _char_trigrams(
        d.repartition(spark.sparkContext.defaultParallelism), "lang"
    )
    dcounts = tri.groupBy("doc_id", "lang", "tri").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    wd = W.partitionBy("doc_id").orderBy(F.col("n").desc(), F.col("tri"))
    dp = (
        dcounts.withColumn("drank", F.row_number().over(wd).cast("long"))
        .filter(F.col("drank") <= LANGID_TOPK)
        .select("doc_id", "tri", "drank")
    )
    lcounts = dcounts.groupBy("lang", "tri").agg(F.sum("n").alias("n"))
    wl = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tri"))
    # tri renamed on the profile side: lp and dp now descend from the SAME
    # materialized leaf, so the join below must not reference one ambiguous
    # attribute from both sides
    lp = (
        lcounts.withColumn("lrank", F.row_number().over(wl).cast("long"))
        .filter(F.col("lrank") <= LANGID_TOPK)
        .select("lang", F.col("tri").alias("__ltri"), "lrank")
    )
    langs = lp.select(F.col("lang").alias("cand")).distinct()
    dist = (
        dp.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(lp),
            (F.col("cand") == F.col("lang"))
            & (F.col("__ltri") == F.col("tri")),
            "left",
        )
        .groupBy("doc_id", "cand")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drank") - F.col("lrank")),
                    F.lit(LANGID_TOPK),
                )
            )
            .cast("long")
            .alias("dist")
        )
    )
    win = dist.groupBy("doc_id").agg(
        F.min(F.struct("dist", "cand")).alias("w")
    )
    return (
        d.select("doc_id", "lang")
        .join(
            win.select(
                "doc_id",
                F.col("w.cand").alias("pred"),
                F.col("w.dist").alias("dist"),
            ),
            "doc_id",
        )
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B193 contract query: the language-ID confusion matrix — one row
    per (given lang, predicted lang) with doc count and an exact
    doc-id checksum, plus the per-row agreement flag.  Every number is
    an integer derived from integer ranks, so DuckDB restates the WHOLE
    classifier (training included) and the hash pins train + predict
    end-to-end."""
    pred = langid_predictions(spark, sf_dir)
    return pred.groupBy(
        F.col("lang").alias("given_lang"), F.col("pred").alias("pred_lang")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("docid_sum"),
        F.min("doc_id").cast("long").alias("min_doc"),
    ).withColumn(
        "agree", F.col("given_lang") == F.col("pred_lang")
    )


QUERIES = {
    "q_importance_weights": q_importance_weights,
    "q_collocations": q_collocations,
    "q_bpe_train": q_bpe_train,
    "q_bpe_encode": q_bpe_encode,
    "q_tokenizer_fertility": q_tokenizer_fertility,
    "q_shard_manifest": q_shard_manifest,
    "q_source_drift": q_source_drift,
    "q_mixture_weights": q_mixture_weights,
    "q_split_leakage": q_split_leakage,
    "q_cms_check": q_cms_check,
    "q_hash_sample": q_hash_sample,
    "q_weighted_sample": q_weighted_sample,
    "q_top_p_mass": q_top_p_mass,
    "q_corpus_mix": q_corpus_mix,
    "q_token_histogram": q_token_histogram,
    "q_quality_filter": q_quality_filter,
    "q_seq_pack": q_seq_pack,
    "q_pii_redact": q_pii_redact,
    "q_decontam": q_decontam,
    "q_repetition_stats": q_repetition_stats,
    "q_stratified_sample": q_stratified_sample,
    "q_embed_centroid": q_embed_centroid,
    "q_doc_chunk": q_doc_chunk,
    "q_tfidf": q_tfidf,
    "q_char_entropy": q_char_entropy,
    "q_charlm_score": q_charlm_score,
    "q_langid": q_langid,
    "q_bloom_decontam": q_bloom_decontam,
    "q_vocab_oov": q_vocab_oov,
    "q_bm25": q_bm25,
    "q_inverted_index": q_inverted_index,
    "q_heavy_hitters": q_heavy_hitters,
}

ORACLE = {
    "q_hash_sample": """
        WITH k AS (SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS split_key
                   FROM documents)
        SELECT doc_id, lang, source, split_key,
               CASE WHEN split_key < '08' THEN 'val' ELSE 'train' END AS split
        FROM k WHERE split_key < '28'
    """,
    # fixed-point Efraimidis-Spirakis: u = first 8 md5 hex digits of the
    # doc key as a 32-bit int (strpos arithmetic = Spark's conv(..,16,10)),
    # key = floor(u*2^20/w) exact BIGINT — selection ties break on doc_id
    "q_weighted_sample": """
        WITH k AS (
          SELECT doc_id, lang,
                 GREATEST(n_chars, 1) AS w,
                 """
    + md5_hex_sql("CAST(doc_id AS VARCHAR)")
    + """ AS u
          FROM documents)
        SELECT doc_id, lang, CAST(w AS BIGINT) AS w, CAST(u AS BIGINT) AS u,
               CAST((u * 1048576) // w AS BIGINT) AS prio_key
        FROM k ORDER BY prio_key, doc_id LIMIT 200
    """,
    "q_top_p_mass": """
        WITH t AS (
          SELECT source, doc_id, n_chars AS w,
                 sum(n_chars) OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum,
                 sum(n_chars) OVER (PARTITION BY source) AS total
          FROM documents)
        SELECT source, doc_id, CAST(w AS BIGINT) AS w,
               CAST(cum AS BIGINT) AS cum, CAST(total AS BIGINT) AS total
        FROM t WHERE (cum - w) * 10 < total * 9
    """,
    "q_corpus_mix": """
        WITH fp AS (
          SELECT doc_id, lang, source,
                 md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
                 CASE WHEN source = 'curated' THEN 0
                      WHEN source = 'web' THEN 1 ELSE 2 END AS priority
          FROM documents),
        kept AS (
          SELECT *, row_number() OVER (PARTITION BY fingerprint
                                       ORDER BY priority, doc_id) AS rn
          FROM fp)
        SELECT source, lang, count(*) AS n_kept, min(doc_id) AS min_doc_id
        FROM kept WHERE rn = 1 GROUP BY source, lang
    """,
    "q_token_histogram": """
        WITH t AS (SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
        SELECT lang, least(n_tokens // 10, 20) AS len_bucket,
               count(*) AS n_docs,
               floor(avg(n_tokens) * 1e4 + 0.5) / 1e4 AS avg_tokens
        FROM t GROUP BY lang, least(n_tokens // 10, 20)
    """,
    "q_quality_filter": """
        WITH s AS (
          SELECT lang, source,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w = 'the' OR w = 'a' OR w = 'of')) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio
          FROM documents)
        SELECT lang, source,
               CASE WHEN n_words < 30 THEN 'dropped_short'
                    WHEN stop_ratio < 0.02 THEN 'dropped_lowq'
                    ELSE 'kept' END AS verdict,
               count(*) AS n
        FROM s GROUP BY 1, 2, 3
    """,
}

ORACLE["q_pii_redact"] = f"""
    WITH d AS (
      SELECT c_custkey,
             concat('Reach ', c_name,
                    ' <', lower(regexp_replace(c_name, '#', '.', 'g')), '@example.com>',
                    ' phone 555-', lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'),
                    '-', lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0'),
                    ' last seen from 10.', CAST(c_custkey % 200 AS VARCHAR),
                    '.', CAST(c_custkey % 250 AS VARCHAR),
                    '.', CAST((c_custkey % 9) + 1 AS VARCHAR),
                    ' segment ', c_mktsegment) AS raw
      FROM customer)
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(raw,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g'),
               '{PII_IP}', '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, '{PII_IP}')) AS BIGINT) AS n_ips
    FROM d
"""

ORACLE["q_decontam"] = f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {NGRAM_N - 1}, 0) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + {NGRAM_N - 1}), ' '))) AS gram
      FROM documents),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {BENCH_MOD} = 0),
    train AS (SELECT doc_id, gram FROM g WHERE doc_id % {BENCH_MOD} <> 0)
    SELECT t.doc_id,
           CAST(count(DISTINCT t.gram) AS BIGINT) AS n_contaminated_grams
    FROM train t JOIN bench b USING (gram)
    GROUP BY t.doc_id
"""

_BM25_TF = {
    t: f"CAST(len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS DOUBLE)"
    for t in BM25_TERMS
}
_BM25_SCORE = " + ".join(
    f"""(ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)
         * tf_{t} * ({BM25_K1} + 1.0)
         / (tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)))"""
    for t in BM25_TERMS
)
ORACLE["q_bm25"] = f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
             {', '.join(f"{_BM25_TF[t]} AS tf_{t}" for t in BM25_TERMS)}
      FROM documents),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
             {', '.join(f"sum(CASE WHEN tf_{t} > 0 THEN 1.0 ELSE 0.0 END) AS df_{t}" for t in BM25_TERMS)}
      FROM base)
    SELECT doc_id, floor(({_BM25_SCORE}) * 1e4 + 0.5) / 1e4 AS bm25
    FROM base CROSS JOIN stats
    WHERE ({_BM25_SCORE}) > 0
"""

ORACLE["q_vocab_oov"] = f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    vocab AS (
      SELECT word, TRUE AS in_vocab
      FROM (SELECT word, count(*) AS c FROM w GROUP BY word
            ORDER BY c DESC, word LIMIT {VOCAB_SIZE})),
    per AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(CASE WHEN coalesce(in_vocab, FALSE) THEN 0 ELSE 1 END) AS n_oov
      FROM w LEFT JOIN vocab USING (word)
      GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT)    AS n_oov,
           floor(CAST(n_oov AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4 AS oov_rate
    FROM per
"""

ORACLE["q_bloom_decontam"] = f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {NGRAM_N - 1}, 0) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + {NGRAM_N - 1}), ' '))) AS gram
      FROM documents),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {BENCH_MOD} = 0),
    train AS (SELECT doc_id, gram FROM g WHERE doc_id % {BENCH_MOD} <> 0),
    exact AS (SELECT DISTINCT t.doc_id FROM train t JOIN bench b USING (gram))
    SELECT CAST((SELECT count(DISTINCT doc_id) FROM train) AS BIGINT) AS n_train_docs,
           CAST((SELECT count(*) FROM exact) AS BIGINT)               AS n_exact_contaminated,
           TRUE AS no_false_negatives,
           TRUE AS fp_ok
"""

ORACLE["q_repetition_stats"] = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    base AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
                    CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct
             FROM w),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
                    i -> array_to_string(list_slice(words, i, i + 1), ' '))) AS gram
      FROM w),
    bc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram),
    agg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count,
                   CAST(sum(c) AS BIGINT) AS n_bigrams
            FROM bc GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens,
           floor(CAST(b.n_distinct AS DOUBLE) / b.n_tokens * 1e6 + 0.5) / 1e6 AS distinct_ratio,
           floor(CAST(a.top_bigram_count AS DOUBLE) / a.n_bigrams * 1e6 + 0.5) / 1e6 AS top_bigram_frac
    FROM base b JOIN agg a USING (doc_id)
"""

ORACLE["q_stratified_sample"] = f"""
    WITH k AS (
      SELECT doc_id, lang, source,
             md5(CAST(doc_id AS VARCHAR)) AS sample_key
      FROM documents),
    r AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY lang
                                        ORDER BY sample_key, doc_id) AS BIGINT)
                AS stratum_rank
      FROM k)
    SELECT doc_id, lang, source, sample_key, stratum_rank
    FROM r WHERE stratum_rank <= {STRATUM_QUOTA}
"""

ORACLE["q_embed_centroid"] = """
    SELECT CAST(label AS BIGINT) AS label,
           CAST(pos AS BIGINT) AS pos,
           floor(avg(v) * 1e6 + 0.5) / 1e6 AS avg_v,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM (
      SELECT label,
             unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
    GROUP BY label, pos
"""

ORACLE["q_doc_chunk"] = f"""
    SELECT doc_id,
           CAST(off // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           substr(text, CAST(off + 1 AS BIGINT), {CHUNK_LEN}) AS chunk,
           CAST(length(substr(text, CAST(off + 1 AS BIGINT), {CHUNK_LEN})) AS BIGINT)
             AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, ((length(text) - 1) // {CHUNK_STRIDE})
                                       * {CHUNK_STRIDE}, {CHUNK_STRIDE})) AS off
      FROM documents WHERE length(text) > 0)
"""

ORACLE["q_tfidf"] = f"""
    WITH toks AS (
      SELECT doc_id, t AS token
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
            FROM documents)
      WHERE t <> ''),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks)
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1e4 + 0.5) / 1e4 AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    WHERE tf.tf >= {TFIDF_MIN_TF}
"""

ORACLE["q_char_entropy"] = """
    WITH ch AS (
      SELECT doc_id, substr(text, CAST(i AS BIGINT), 1) AS ch
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
            FROM documents WHERE length(text) > 0)),
    f AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ch GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           floor((ln(CAST(sum(c) AS DOUBLE))
                  - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE))
                 * 1e4 + 0.5) / 1e4
             AS char_entropy
    FROM f GROUP BY doc_id
"""

ORACLE["q_langid"] = """
    WITH tri AS (
      SELECT doc_id, lang, substr(lower(text), CAST(i AS BIGINT), 3) AS tri
      FROM (SELECT doc_id, lang, text,
                   unnest(generate_series(1, length(text) - 2)) AS i
            FROM documents WHERE length(text) >= 3)),
    lp AS (
      SELECT lang, tri,
             row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri)
               AS lrank
      FROM tri GROUP BY lang, tri
      QUALIFY lrank <= 64),
    dp AS (
      SELECT doc_id, tri,
             row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, tri)
               AS drank
      FROM tri GROUP BY doc_id, tri
      QUALIFY drank <= 64),
    langs AS (SELECT DISTINCT lang AS cand FROM documents),
    dist AS (
      SELECT dp.doc_id, l.cand,
             SUM(COALESCE(ABS(dp.drank - lp.lrank), 64)) AS dist
      FROM dp CROSS JOIN langs l
      LEFT JOIN lp ON lp.lang = l.cand AND lp.tri = dp.tri
      GROUP BY dp.doc_id, l.cand),
    pred AS (
      SELECT doc_id, cand AS pred
      FROM dist
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand) = 1)
    SELECT d.lang AS given_lang, p.pred AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.doc_id) AS BIGINT) AS docid_sum,
           CAST(MIN(d.doc_id) AS BIGINT) AS min_doc,
           d.lang = p.pred AS agree
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2
"""

ORACLE["q_charlm_score"] = """
    WITH grams AS (
      SELECT doc_id, substr(lower(text), CAST(i AS BIGINT), 2) AS bg
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 1)) AS i
            FROM documents WHERE length(text) > 1)),
    model AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS n_bg FROM grams GROUP BY bg),
    model2 AS (
      SELECT bg, n_bg,
             sum(n_bg) OVER (PARTITION BY substr(bg, 1, 1)) AS n_c1
      FROM model)
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(-avg(ln(CAST(m.n_bg AS DOUBLE) / m.n_c1)) * 1e4 + 0.5) / 1e4 AS nll_score
    FROM grams g JOIN model2 m USING (bg)
    GROUP BY g.doc_id
"""

ORACLE["q_inverted_index"] = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    f AS (SELECT DISTINCT term, doc_id FROM tok WHERE length(term) >= 4),
    r AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY term) AS df
      FROM f)
    SELECT term, CAST(df AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings_head
    FROM r WHERE rn <= 20 AND df >= 5
    GROUP BY term, df
"""

ORACLE["q_heavy_hitters"] = f"""
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM t GROUP BY token
    HAVING count(*) > (SELECT count(*) FROM t) / {HH_CAPACITY}.0
"""

# Self-verifying contract reduction (est_ok pattern): pack ids are
# engine-local, but per-lang doc/token totals are exact — the oracle
# recomputes them from the documents table and expects the packing
# invariant flags TRUE.
ORACLE["q_seq_pack"] = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           TRUE AS budget_ok,
           TRUE AS efficiency_ok
    FROM documents GROUP BY lang
"""

ORACLE["q_bpe_train"] = _bpe_oracle_sql()
ORACLE["q_bpe_encode"] = _bpe_encode_oracle_sql()

ORACLE["q_tokenizer_fertility"] = (
    _bpe_chain_sql()
    + """,
    enc AS (
      SELECT word,
             len(string_split(substr(s, 2, length(s) - 2), chr(31)||chr(31))) AS n_syms
      FROM w"""
    + str(BPE_ROUNDS)
    + """),
    toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT t.lang,
           count(*) AS n_words,
           CAST(sum(e.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(length(t.word)) AS BIGINT) AS n_chars
    FROM toks t JOIN enc e USING (word)
    WHERE t.word <> ''
    GROUP BY t.lang
"""
)

ORACLE["q_source_drift"] = f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
    st AS (
      SELECT source, token, count(*) AS c_st
      FROM tok WHERE token <> '' GROUP BY source, token),
    t AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY token),
    s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
    n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM s),
    lifted AS (
      SELECT st.source, st.token, st.c_st, t.c_t, s.n_s, n.n,
             CAST(st.c_st * n.n AS DOUBLE) / CAST(s.n_s * t.c_t AS DOUBLE) AS lift
      FROM st
      JOIN t ON st.token = t.token AND t.c_t >= {DRIFT_MIN_DF}
      JOIN s ON st.source = s.source
      CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY lift DESC, token) AS rk
      FROM lifted)
    SELECT source, n_s, CAST(rk AS BIGINT) AS rk, token,
           CAST(c_st AS BIGINT) AS c_st, CAST(c_t AS BIGINT) AS c_t, lift
    FROM ranked WHERE rk <= {DRIFT_TOP_K}
"""

ORACLE["q_split_leakage"] = f"""
    WITH g AS (
      SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
               AS text_key,
             count(*) AS n_members,
             sum(CASE WHEN md5(CAST(doc_id AS VARCHAR))
                        < '{LEAKAGE_SPLIT_BOUNDARY}' THEN 1 ELSE 0 END)
               AS n_train,
             sum(CASE WHEN md5(CAST(doc_id AS VARCHAR))
                        >= '{LEAKAGE_SPLIT_BOUNDARY}' THEN 1 ELSE 0 END)
               AS n_val
      FROM documents
      GROUP BY md5(array_to_string(list_sort(string_split(text, ' ')), ' '))),
    m AS (SELECT * FROM g WHERE n_members >= 2),
    s AS (SELECT * FROM m WHERE n_train > 0 AND n_val > 0)
    SELECT (SELECT count(*) FROM m) AS n_dup_groups,
           (SELECT count(*) FROM s) AS n_leaking_groups,
           CAST(coalesce((SELECT sum(n_members) FROM s), 0) AS BIGINT)
             AS n_docs_in_leaks
"""

ORACLE["q_mixture_weights"] = f"""
    WITH t AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total_tokens FROM t),
    s AS (SELECT source, n_docs, n_tokens, n_total_tokens,
                 n_tokens / CAST(n_total_tokens AS DOUBLE) AS p,
                 pow(n_tokens / CAST(n_total_tokens AS DOUBLE),
                     {MIXTURE_ALPHA}) AS pa
          FROM t CROSS JOIN tot),
    z AS (SELECT sum(pa) AS z FROM s),
    sw AS (SELECT *, pa / z AS w FROM s CROSS JOIN z),
    r AS (SELECT *,
                 row_number() OVER (ORDER BY w, source) AS rk_w,
                 row_number() OVER (ORDER BY n_tokens, source) AS rk_t,
                 row_number() OVER (ORDER BY (w / p) DESC, source) AS rk_u
          FROM sw),
    norm AS (SELECT abs(sum(w) - 1.0) < 1e-9 AS weights_normalized_ok FROM sw)
    SELECT source, n_docs, n_tokens, n_total_tokens,
           floor(p * 1e6 + 0.5) / 1e6 AS share,
           rk_w = rk_t AS weight_rank_ok,
           rk_u = rk_t AS upsample_rank_ok,
           weights_normalized_ok
    FROM r CROSS JOIN norm
"""

ORACLE["q_shard_manifest"] = f"""
    WITH s AS (
      SELECT doc_id, text,
             ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               % {N_SHARDS} AS shard_id
      FROM documents)
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM s GROUP BY shard_id
"""

ORACLE["q_cms_check"] = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    t AS (SELECT token FROM toks WHERE token <> ''),
    exact AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM t GROUP BY token ORDER BY freq DESC, token LIMIT 20),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
    SELECT token, freq, n_total,
           TRUE AS est_ge_freq_ok,
           TRUE AS within_bound_ok
    FROM exact CROSS JOIN total
"""

_DSIR_HEX4 = md5_hex_sql("gram", 4)

ORACLE["q_importance_weights"] = f"""
    WITH g AS (
      SELECT doc_id, tgt, gram
      FROM (
        SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS tgt,
               unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN list_transform(range(1, len(ws)),
                             i -> ws[i] || ' ' || ws[i + 1])
                      ELSE [] END)) AS gram
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
              FROM documents)
      )
    ),
    b AS (SELECT doc_id, tgt,
                 ({_DSIR_HEX4}) % {DSIR_BUCKETS} AS bucket
          FROM g),
    m AS (SELECT bucket,
                 sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t_f,
                 sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS r_f
          FROM b GROUP BY bucket),
    c AS (SELECT CAST(floor((ln(sum(r_f) + {DSIR_BUCKETS})
                             - ln(sum(t_f) + {DSIR_BUCKETS}))
                            * {DSIR_MICRO} + 0.5) AS BIGINT) AS const_micro
          FROM m),
    lr AS (SELECT bucket, t_f, r_f,
                  CAST(floor((ln(t_f + 1) - ln(r_f + 1))
                             * {DSIR_MICRO} + 0.5) AS BIGINT) AS lr_micro
           FROM m),
    doc AS (SELECT b.doc_id,
                   count(*) AS n_grams,
                   CAST(sum(lr.t_f + 1) AS BIGINT) AS sum_num,
                   CAST(sum(lr.r_f + 1) AS BIGINT) AS sum_den,
                   CAST(sum(lr.lr_micro) AS BIGINT) AS slr
            FROM b JOIN lr USING (bucket)
            WHERE NOT b.tgt
            GROUP BY b.doc_id)
    SELECT doc_id, n_grams, sum_num, sum_den,
           CAST(slr + n_grams * c.const_micro AS BIGINT) AS w_micro,
           (slr + n_grams * c.const_micro) > 0 AS is_upweighted
    FROM doc CROSS JOIN c
"""

ORACLE["q_collocations"] = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''),
    vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df
      FROM toks GROUP BY tok
      ORDER BY df DESC, tok LIMIT {COLLOC_TOP_V}),
    t AS (SELECT doc_id, tok FROM toks JOIN vocab USING (tok)),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tok_a, tok_b, n_ab, va.df AS df_a, vb.df AS df_b, n_docs
    FROM pairs
    JOIN vocab va ON va.tok = pairs.tok_a
    JOIN vocab vb ON vb.tok = pairs.tok_b
    CROSS JOIN nd
    WHERE n_ab >= {COLLOC_MIN_SUPPORT}
"""

ROWS_ONLY: set[str] = set()
