"""Pipeline-chain tests: grok branch, dispatch, order sensitivity, DLQ."""

from pyspark.sql import functions as F

from kinesis2elastic_spark.operators.pipeline import (
    q_date_parse,
    q_dead_letter,
    q_dispatch,
    q_geoip_join,
    q_grok,
    q_pipeline_axway,
)


def test_grok_types_and_values(spark, sf_dir):
    df = q_grok(spark, sf_dir)
    dtypes = dict(df.dtypes)
    assert dtypes["status_code"] == "bigint"
    assert dtypes["body_bytes"] == "bigint"
    r = df.orderBy("event_id").first()
    assert r.method in ("GET", "POST", "PUT")
    assert r.status_code in (200, 304, 500)
    assert r.source_address.startswith("10.")
    assert r.x_forwarded_for.endswith(",10.0.0.1")


def test_dispatch_routes_only_axway(spark, sf_dir):
    df = q_dispatch(spark, sf_dir)
    routed = df.filter(F.col("dispatched"))
    passed = df.filter(~F.col("dispatched"))
    assert routed.filter(F.col("event_kind") != "event").count() == 0
    assert passed.filter(F.col("event_kind").isNotNull()).count() == 0


def test_event_created_before_date_promotion(spark, sf_dir):
    # A24 must capture the pre-promotion @timestamp (axway order matters)
    r = q_date_parse(spark, sf_dir).first()
    assert r.event_created.year == 2021          # envelope time preserved
    assert r.timestamp_promoted.year == 2024     # promoted to event time


def test_geoip_null_outside_ranges(spark, sf_dir):
    from kinesis2elastic_spark.operators.pipeline_dsl import PipelineInterpreter
    from kinesis2elastic_spark.sources.geoip import synthetic_geoip_dim

    df = q_geoip_join(spark, sf_dir)
    matched = df.filter(F.col("geo_country").isNotNull())
    assert matched.count() > 0
    # every match is consistent: as_number implies country
    assert matched.filter(F.col("as_number").isNull()).count() == 0
    # out-of-range IP → NULL enrichment (ignore_missing semantics)
    probe = spark.createDataFrame([("10.190.0.7",), ("10.50.1.1",)], ["source.ip"])
    spec = {"p": {"processors": [{"geoip": {"field": "source.ip", "target_field": "source.geo"}}]}}
    geoip = PipelineInterpreter(spec, synthetic_geoip_dim(spark)).run(probe, "p")
    out = {r["source.ip"]: r for r in geoip.collect()}
    assert out["10.190.0.7"]["source.geo.country_iso_code"] is None
    assert out["10.50.1.1"]["source.geo.country_iso_code"] == "US"


def test_dead_letter_rows_survive(spark, sf_dir):
    df = q_dead_letter(spark, sf_dir)
    dead = df.filter(F.col("error_message").isNotNull())
    assert dead.count() > 0
    assert dead.filter(F.col("status_code").isNotNull()).count() == 0


def test_axway_e2e_branches(spark, sf_dir):
    df = q_pipeline_axway(spark, sf_dir).cache()
    # non-axway rows: completely unenriched
    non = df.filter(~F.col("logGroup").rlike("axway"))
    assert non.filter(F.col("status_code").isNotNull()).count() == 0
    # axway rows with good lines: enriched with outcome + promoted ts
    good = df.filter(F.col("logGroup").rlike("axway") & F.col("error_message").isNull())
    assert good.filter(F.col("event_outcome").isNull()).count() == 0
    # axway rows with garbage: dead-lettered, never dropped
    dead = df.filter(F.col("error_message").isNotNull())
    assert dead.count() > 0
    df.unpersist()


def test_canonical_url_rules(spark):
    """B143: the four canonicalization rules on hand-written URLs —
    case-fold, default-port strip (non-default survives), trailing-slash
    strip (root keeps its slash), utm-drop + param sort ('?' dropped
    when nothing survives)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.pipeline import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/A/b/", "https://www.example.com/A/b"),
        ("http://h.io:80/x?b=2&a=1", "http://h.io/x?a=1&b=2"),
        ("https://h.io:8443/x", "https://h.io:8443/x"),
        ("https://h.io/", "https://h.io/"),
        ("https://h.io", "https://h.io/"),
        ("https://h.io/p?utm_source=x&utm_campaign=y", "https://h.io/p"),
        ("https://h.io/p?z=1&utm_source=x&a=2", "https://h.io/p?a=2&z=1"),
        # r11 ADVICE: schemes with no known default port must KEEP the
        # port (the NULL default used to strip it, merging resources)
        ("ftp://H.io:2121/x", "ftp://h.io:2121/x"),
        # and only the literal 'utm_' prefix is a tracking param — a
        # SQL-LIKE '_' wildcard in the oracle would also drop 'utmx'
        ("https://h.io/p?utmx=1&a=2", "https://h.io/p?a=2&utmx=1"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "u string")
    got = [
        r.c for r in df.select(canonical_url(F.col("u")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_url_hierarchy_prefix_rollup(spark, tmp_path):
    """B148: every canonical URL contributes each path prefix (capped at
    4 segments), n_pages counts distinct canonicals while n_events
    counts traffic — two events on one page must differ between the two
    counts, and shared prefixes aggregate across pages."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.pipeline import q_url_hierarchy

    rows = [
        # (event_id, user_id, props) — event_id drives version+page+utm,
        # user_id drives host.  Two events, same canonical page:
        (3, 1, '{"k":"a"}'),
        # 24: same v0 (%3) and page (%7) as 3, but planted trailing slash
        # (%4==0) and utm_campaign (%2==0) — BOTH canonicalized away, so
        # 3 and 24 must collapse to ONE page:
        (24, 1, '{"k":"a"}'),
        # different version segment -> different page, same /api prefix:
        (7, 1, '{"k":"a"}'),    # %3==1 -> /api/v1/items
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, props string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        (r.host, r.prefix): (r.depth, r.n_events, r.n_pages)
        for r in q_url_hierarchy(spark, str(tmp_path)).collect()
    }
    host = "api1.example.com"
    assert got == {
        (host, "/api"): (1, 3, 2),
        (host, "/api/v0"): (2, 2, 1),
        (host, "/api/v0/items"): (3, 2, 1),
        (host, "/api/v1"): (2, 1, 1),
        (host, "/api/v1/items"): (3, 1, 1),
    }


def test_canonical_url_idempotent(spark, sf_dir):
    """B143 invariant: canonicalization is IDEMPOTENT — re-canonicalizing
    an already-canonical URL is a no-op on the whole synthesized corpus
    (a canonicalizer that keeps rewriting merges keys unpredictably
    across pipeline stages that may each defensively re-canonicalize)."""
    from pyspark.sql import functions as F

    from kinesis2elastic_spark.operators.pipeline import (
        _synth_urls,
        canonical_url,
    )

    d = _synth_urls(spark, sf_dir)
    once = d.select(canonical_url(F.col("url_raw")).alias("c1"))
    n_bad = (
        once.select("c1", canonical_url(F.col("c1")).alias("c2"))
        .filter(F.col("c1") != F.col("c2"))
        .count()
    )
    assert n_bad == 0
