"""MaxMind DB binary format (A28 real-artifact leg, r12): writer/reader
round-trip on the spec, and equivalence of the mmdb-backed GeoIP dim
with the synthesized one it replaces on the oracle path."""

import struct

from kinesis2elastic_spark.sources import mmdb
from kinesis2elastic_spark.sources.geoip import (
    SYNTH_RANGES,
    mmdb_geoip_dim,
    synthetic_geoip_dim,
    write_fixture_mmdb,
)


def test_range_to_cidrs_covers_exactly():
    for lo, hi, *_ in SYNTH_RANGES:
        blocks = mmdb.range_to_cidrs(lo, hi)
        covered = []
        for net, plen in blocks:
            size = 1 << (32 - plen)
            assert net % size == 0  # aligned
            covered.append((net, net + size - 1))
        covered.sort()
        assert covered[0][0] == lo and covered[-1][1] == hi
        for (a_lo, a_hi), (b_lo, b_hi) in zip(covered, covered[1:]):
            assert b_lo == a_hi + 1  # contiguous, no gaps/overlaps


def test_mmdb_build_read_roundtrip(tmp_path):
    db = str(tmp_path / "f.mmdb")
    write_fixture_mmdb(db)
    meta = mmdb.read_metadata(db)
    assert meta["binary_format_major_version"] == 2
    assert meta["ip_version"] == 4 and meta["record_size"] == 24
    ranges = mmdb.read_mmdb_ranges(db)
    assert ranges == sorted(ranges, key=lambda t: t[0])
    # reassemble CIDR-granular rows into maximal ranges per record
    merged: list[list] = []
    for lo, hi, rec in ranges:
        if merged and merged[-1][1] + 1 == lo and merged[-1][2] == rec:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi, rec])
    want = [
        (
            lo,
            hi,
            {
                "country": {"iso_code": c},
                "city": {"names": {"en": ci}},
                "autonomous_system_number": asn,
                "autonomous_system_organization": org,
            },
        )
        for lo, hi, c, ci, asn, org in SYNTH_RANGES
    ]
    assert [tuple(m) for m in merged] == want


def test_decoder_handles_pointers_and_scalar_types():
    """Real GeoLite2 files dedup shared sub-maps via pointers; the
    fixture writer never emits them, so exercise the decoder directly:
    a map whose value is a pointer to an earlier string."""
    target = mmdb.encode_value("shared")          # at offset 0
    ptr = bytes([(1 << 5) | 0, 0])                # ss=0, 11-bit pointer -> 0
    buf = target + mmdb._enc_ctrl(7, 1) + mmdb.encode_value("k") + ptr
    val, _ = mmdb._decode(buf, len(target))
    assert val == {"k": "shared"}
    # scalar coverage: double, bool, i32, u64, array
    for v in (1.5, True, False, -7, (1 << 40) + 3, ["a", 2]):
        enc = mmdb.encode_value(v)
        got, end = mmdb._decode(enc, 0)
        want = list(v) if isinstance(v, list) else v
        assert got == want and end == len(enc)
    # big-endian double layout (spec): 1.0 encodes as IEEE-754 BE
    assert mmdb.encode_value(1.0)[1:] == struct.pack(">d", 1.0)


def test_mmdb_dim_enriches_identically(spark, tmp_path):
    """The CIDR-granular mmdb dim must partition the same IP space with
    the same attributes as SYNTH_RANGES — every probe IP lands in
    exactly one block with identical enrichment values."""
    db = str(tmp_path / "f.mmdb")
    write_fixture_mmdb(db)
    dim = mmdb_geoip_dim(spark, db).collect()
    synth = synthetic_geoip_dim(spark).collect()
    # disjoint blocks, each nested in exactly one synthetic range with
    # matching attributes
    blocks = sorted((r.ip_lo, r.ip_hi, r.geo_country, r.geo_city, r.as_number, r.as_org) for r in dim)
    for lo, hi, c, ci, asn, org in blocks:
        homes = [s for s in synth if s.ip_lo <= lo and hi <= s.ip_hi]
        assert len(homes) == 1
        s = homes[0]
        assert (c, ci, asn, org) == (s.geo_country, s.geo_city, s.as_number, s.as_org)
    # union covers each synthetic range exactly
    total = sum(hi - lo + 1 for lo, hi, *_ in blocks)
    assert total == sum(s.ip_hi - s.ip_lo + 1 for s in synth)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_geoip_dims_are_jvm_local(spark, tmp_path):
    """Both dimension builders return driver-memory relations (a
    LocalTableScan, no Python-backed ExistingRDD) holding the rows of the
    ranges they were built from, typed as the join expects; an mmdb
    record without an ASN gives a NULL as_number, not NaN or 0."""
    db = str(tmp_path / "f.mmdb")
    write_fixture_mmdb(db)
    synth, from_mmdb = synthetic_geoip_dim(spark), mmdb_geoip_dim(spark, db)
    for dim in (synth, from_mmdb):
        plan = _physical(dim)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert dim.schema.simpleString() == (
            "struct<ip_lo:bigint,ip_hi:bigint,geo_country:string,geo_city:string,as_number:bigint,as_org:string>"
        )
    assert [tuple(r) for r in synth.collect()] == SYNTH_RANGES
    want = [
        (lo, hi, rec["country"]["iso_code"], rec["city"]["names"]["en"],
         rec["autonomous_system_number"], rec["autonomous_system_organization"])
        for lo, hi, rec in mmdb.read_mmdb_ranges(db)
    ]
    assert [tuple(r) for r in from_mmdb.collect()] == want

    sparse = str(tmp_path / "sparse.mmdb")
    mmdb.build_mmdb(sparse, [
        (167772160, 167772415, {"country": {"iso_code": "US"}}),
        (167772416, 167772671, {"autonomous_system_number": 64500}),
    ])
    rows = [tuple(r) for r in mmdb_geoip_dim(spark, sparse).collect()]
    assert rows == [
        (167772160, 167772415, "US", None, None, None),
        (167772416, 167772671, None, None, 64500, None),
    ]
