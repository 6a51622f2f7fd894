"""Phase-1 spine: documents -> parse -> filter -> J1 -> J2 (golden asserts).

Golden values derive from the reference's db-snapshot fixture semantics
(src/test/resources/data/template/v0_6/db-snapshot.osm; expected WKT per
FIXTURES.md section 2 / WayBuilder.scala:95-101).
"""

import pyspark.sql.functions as F
import pytest

from osm_hadoop_spark.operators.way_assembly import (
    assemble_ways,
    build_ways_geom,
    check_unique,
    join_node_coords,
    with_wkt,
)
from osm_hadoop_spark.sources import spans as S
from osm_hadoop_spark.sources.fixtures import DB_SNAPSHOT_EXPECTED_WKT


def test_span_parse_counts(db_snapshot_docs):
    nodes = S.parse_nodes(db_snapshot_docs)
    ways = S.parse_ways_with_nds(db_snapshot_docs)
    way_nodes = S.explode_way_nodes(ways)
    assert nodes.count() == 6
    assert ways.count() == 4
    assert way_nodes.count() == 3 + 3 + 3 + 1


def test_node_projection_values(db_snapshot_docs):
    rows = {r["node_id"]: (r["lon"], r["lat"]) for r in S.parse_nodes(db_snapshot_docs).collect()}
    assert rows[1] == (-2.0, -1.0)
    assert rows[6] == (-12.0, -11.0)


def test_tag_filter(db_snapshot_docs):
    ways = S.parse_ways_with_nds(db_snapshot_docs)
    assert S.filter_ways_by_tags(ways, ["highway"]).count() == 4
    assert S.filter_ways_by_tags(ways, ["building", "waterway"]).count() == 0


def test_j1_join(db_snapshot_docs):
    ref = join_node_coords(
        S.parse_nodes(db_snapshot_docs),
        S.explode_way_nodes(S.parse_ways_with_nds(db_snapshot_docs)),
    )
    rows = ref.collect()
    assert len(rows) == 10
    w1 = sorted(
        [(r["ordinal"], r["lon"], r["lat"]) for r in rows if r["way_id"] == 1]
    )
    assert w1 == [(0, -2.0, -1.0), (1, -4.0, -3.0), (2, -6.0, -5.0)]


def test_j2_golden_wkt(db_snapshot_docs):
    ways_geom = with_wkt(build_ways_geom(db_snapshot_docs, tag_keys=["highway"]))
    got = {r["way_id"]: r["geometry_wkt"] for r in ways_geom.collect()}
    assert got == DB_SNAPSHOT_EXPECTED_WKT  # way 4 dropped (F5)


def test_j2_preserves_tags(db_snapshot_docs):
    ways_geom = build_ways_geom(db_snapshot_docs, tag_keys=["highway"])
    tags = {r["way_id"]: dict(r["tags"]) for r in ways_geom.collect()}
    assert tags[1] == {"highway": "residential"}
    assert tags[2] == {"highway": "trunk"}


def test_check_unique_raises(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0), (1, 1.0, 1.0)], "node_id long, lon double, lat double")
    with pytest.raises(ValueError, match="nodes"):
        check_unique(df, "node_id", "nodes")


def test_row_count_conservation_synth(synth_docs):
    """J1 output rows == way_nodes rows when every node_id resolves (FK holds)."""
    nodes = S.parse_nodes(synth_docs)
    way_nodes = S.explode_way_nodes(S.parse_ways_with_nds(synth_docs))
    assert join_node_coords(nodes, way_nodes).count() == way_nodes.count()


def test_assembly_counts_synth(synth_docs):
    ways_geom = build_ways_geom(synth_docs)
    ways = S.parse_ways_with_nds(synth_docs)
    # every way has >= 2 nds in the generator, so none is dropped by F5
    assert ways_geom.count() == ways.count()
    bad = ways_geom.filter(F.size("xs") != F.col("n_pts")).count()
    assert bad == 0


def test_span_sequence_invariant(synth_docs):
    """Parsing must not disturb the documents table (span-sequence equality)."""
    fp_before = S.span_sequence_fingerprint(synth_docs)
    _ = build_ways_geom(synth_docs).count()
    fp_after = S.span_sequence_fingerprint(synth_docs)
    assert fp_before.exceptAll(fp_after).count() == 0


def test_ordinal_sort_with_shuffled_input(spark):
    """J2 must order by ordinal regardless of input row order (WayBuilder.scala:91-93)."""
    nodes = spark.createDataFrame(
        [(i, float(i * 10), float(-i)) for i in range(1, 5)],
        "node_id long, lon double, lat double",
    )
    way_nodes = spark.createDataFrame(
        [(3, 100, 2), (1, 100, 0), (4, 100, 3), (2, 100, 1)],
        "node_id long, way_id long, ordinal int",
    )
    ways = spark.createDataFrame([(100, {"highway": "road"})], "way_id long, tags map<string,string>")
    out = assemble_ways(ways, join_node_coords(nodes, way_nodes)).collect()
    assert out[0]["xs"] == [10.0, 20.0, 30.0, 40.0]
    assert out[0]["ys"] == [-1.0, -2.0, -3.0, -4.0]


def test_wkb_roundtrip_and_shapely_layout(db_snapshot_docs):
    """E2: WKB codec (WayLoader.scala:90,108-109). Golden check: JTS
    WKBWriter big-endian layout for LINESTRING (1 2, 3 4) is fixed bytes."""
    import numpy as np

    from osm_hadoop_spark.functions.geometry import (
        linestrings_to_wkb,
        wkb_to_linestrings,
    )

    wkb = linestrings_to_wkb([[1.0, 3.0]], [[2.0, 4.0]])[0]
    assert wkb[:9] == b"\x00" + (2).to_bytes(4, "big") + (2).to_bytes(4, "big")
    assert wkb == bytes.fromhex(
        "000000000200000002"
        "3ff0000000000000" "4000000000000000"
        "4008000000000000" "4010000000000000"
    )
    xs, ys, counts = wkb_to_linestrings([wkb])
    assert counts.tolist() == [2]
    assert xs.tolist() == [1.0, 3.0] and ys.tolist() == [2.0, 4.0]


def test_with_wkb_spark(db_snapshot_docs):
    from osm_hadoop_spark.functions.geometry import wkb_to_linestrings
    from osm_hadoop_spark.operators.way_assembly import with_wkb

    ways_geom = build_ways_geom(db_snapshot_docs, tag_keys=["highway"])
    rows = with_wkb(ways_geom).orderBy("way_id").collect()
    assert len(rows) > 0
    for r in rows:
        xs, ys, counts = wkb_to_linestrings([r["geometry_wkb"]])
        assert xs.tolist() == list(r["xs"]) and ys.tolist() == list(r["ys"])


def test_sql_fmt_ord_matches_python_every_band(spark):
    """The codegen WKT formatter (functions/geometry_sql.py) must be
    byte-identical to geometry._fmt_ord on every IEEE-754 formatting band:
    integral, plain-decimal (1e-3..1e7), Java-E/Python-plain (1e-4..1e-3),
    both-E (<1e-4, incl. subnormals), and large non-integral (>=1e7)."""
    import numpy as np

    from osm_hadoop_spark.functions.geometry import _fmt_ord
    from osm_hadoop_spark.functions.geometry_sql import sql_fmt_ord

    rng = np.random.default_rng(11)
    vals = list(rng.uniform(-180, 180, 3000))
    vals += list(rng.uniform(-1e-3, 1e-3, 1500))
    vals += list(rng.uniform(-1e-7, 1e-7, 500))
    vals += list(10.0 ** rng.uniform(-320, 15, 1500) * rng.choice([-1, 1], 1500))
    vals += [float(k) + m / 64.0 for k in range(-180, 180, 7) for m in range(16)]
    vals += [0.0, -0.0, 1e-3, 1e-4, 5e-5, 0.0005, 123.0, -180.0,
             85.05112877980659, 1e15 - 0.5, 12345678.5]
    # integral values at/above the 1e15 is_int cutoff (round-5 ADVICE fix:
    # Java E-notation, Python plain up to 1e16 then positive e-notation).
    # Digit-level parity is CLAIMED only for |v| <= 2^53 on this JDK-17
    # host: above 2^53 the pre-Ryu Double.toString (JDK < 19) sometimes
    # emits non-shortest digits (e.g. 2^60 -> '1.15292150460684698E18'
    # where repr gives '1.152921504606847e+18') — the geometry_sql module
    # docstring documents the JDK >= 19 requirement for the full range.
    # The short-mantissa >2^53 values below have coinciding layouts on
    # every JDK and pin the e+ band's formatting logic itself.
    vals += [1e15, 2e15, -2e15, 2.5e15, 9007199254740992.0, 9.9e15,
             1e16, -1e16, 1.5e16, 1e17, 2e18, 1e300, -1e300, float(2**63)]
    vals += list((10.0 ** rng.uniform(15, 15.95, 300)).round())
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    rows = df.select("v", sql_fmt_ord(F.col("v")).alias("s")).collect()
    bad = [(r["v"], _fmt_ord(float(r["v"])), r["s"])
           for r in rows if _fmt_ord(float(r["v"])) != r["s"]]
    assert not bad, bad[:10]


def test_with_wkt_jvm_equals_arrow(db_snapshot_docs):
    """impl='jvm' (default) and impl='arrow' must emit identical WKT
    strings for the assembled ways."""
    from osm_hadoop_spark.operators.way_assembly import with_wkt

    ways_geom = build_ways_geom(db_snapshot_docs, tag_keys=["highway"]).cache()
    j = {r["way_id"]: r["geometry_wkt"] for r in with_wkt(ways_geom).collect()}
    a = {r["way_id"]: r["geometry_wkt"]
         for r in with_wkt(ways_geom, impl="arrow").collect()}
    assert len(j) > 0 and j == a


def test_with_wkt_jvm_fast_path_and_fallback_mix(spark):
    """Round-5 ring-body fast path: rows whose ordinates are all plain
    take the whole-string cast path; any E-notation or '-0.0' ordinate
    falls back per-element. Craft rings that hit both paths (and mixes)
    and require byte-identical output to the Python formatter."""
    from osm_hadoop_spark.functions.geometry import format_linestring_wkt
    from osm_hadoop_spark.operators.way_assembly import with_wkt

    import numpy as np

    rng = np.random.default_rng(23)
    rows = []
    pools = [
        lambda: float(rng.uniform(-180, 180)),          # plain band
        lambda: float(rng.integers(-180, 181)),          # integral
        lambda: float(rng.uniform(-1e-5, 1e-5)),         # E-notation
        lambda: -0.0,                                    # sign-zero fallback
        lambda: float(rng.uniform(-0.1, 0.0)),           # '-0.0...' prefix lookalike
        lambda: float(np.floor(rng.uniform(-180, 180) * 64) / 64),  # dyadic
    ]
    for i in range(200):
        n = int(rng.integers(2, 6))
        xs = [pools[int(rng.integers(0, len(pools)))]() for _ in range(n)]
        ys = [pools[int(rng.integers(0, len(pools)))]() for _ in range(n)]
        rows.append((i, xs, ys))
    df = spark.createDataFrame(rows, "way_id long, xs array<double>, ys array<double>")
    got = {r["way_id"]: r["geometry_wkt"] for r in with_wkt(df).collect()}
    for i, xs, ys in rows:
        exp = format_linestring_wkt(np.array(xs), np.array(ys))
        assert got[i] == exp, (i, got[i], exp)


def test_with_wkt_jvm_null_ordinate_takes_the_fallback(spark):
    """A null ordinate never reaches the WKT: the whole-string fast path
    would print it as 'null', so the row takes the per-element path,
    which drops that vertex."""
    from osm_hadoop_spark.functions.geometry import format_linestring_wkt
    from osm_hadoop_spark.operators.way_assembly import with_wkt

    import numpy as np

    rows = [(1, [1.5, None, 2.0], [10.0, 3.0, -4.25]),
            (2, [1.5, 7.0, 2.0], [10.0, None, -4.25]),
            (3, [1.5, 2.0], [10.0, -4.25])]
    df = spark.createDataFrame(rows, "way_id long, xs array<double>, ys array<double>")
    got = {r["way_id"]: r["geometry_wkt"] for r in with_wkt(df, impl="jvm").collect()}
    want = format_linestring_wkt(np.array([1.5, 2.0]), np.array([10.0, -4.25]))
    assert got == {1: want, 2: want, 3: want}


def test_parse_entities_single_pass_matches_two_pass(db_snapshot_docs):
    """parse_entities (one documents scan) must yield exactly the rows of
    parse_nodes + parse_ways_with_nds; relation spans pass through
    unharmed (ignored), like the reference dispatch."""
    ent = S.parse_entities(db_snapshot_docs).cache()
    nodes = {(r["node_id"], r["lon"], r["lat"])
             for r in ent.filter("is_node").select("node_id", "lon", "lat").collect()}
    want_nodes = {(r["node_id"], r["lon"], r["lat"])
                  for r in S.parse_nodes(db_snapshot_docs).collect()}
    assert nodes == want_nodes
    ways = {(r["way_id"], tuple(r["nds"]))
            for r in ent.filter("NOT is_node").select("way_id", "nds").collect()}
    want_ways = {(r["way_id"], tuple(r["nds"]))
                 for r in S.parse_ways_with_nds(db_snapshot_docs).collect()}
    assert ways == want_ways


def test_parse_entities_drops_malformed_and_foreign_kinds(spark):
    docs = spark.createDataFrame(
        [(1, [
            {"kind": "osm.node", "text": '{"id": 7, "lon": 1.0, "lat": 2.0}',
             "media_ref": None, "offset": 0},
            {"kind": "osm.node", "text": "NOT JSON", "media_ref": None, "offset": 1},
            {"kind": "osm.way", "text": '{"id": 9, "tags": {"highway": "x"}, "nds": [7]}',
             "media_ref": None, "offset": 2},
            {"kind": "osm.relation", "text": '{"id": 3}', "media_ref": None, "offset": 3},
            {"kind": "prose", "text": "hello", "media_ref": None, "offset": 4},
        ])],
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = S.parse_entities(docs).collect()
    assert len(rows) == 2
    got = {(r["is_node"], r["node_id"], r["way_id"]) for r in rows}
    assert got == {(True, 7, None), (False, None, 9)}
