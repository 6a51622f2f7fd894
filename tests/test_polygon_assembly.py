"""Multipolygon assembly: chaining, orientation, hole assignment goldens."""

import numpy as np
import pytest

from osm_hadoop_spark.functions.rings import (
    canonical_ring,
    chain_segments,
    ring_body,
    signed_area2,
)


def test_signed_area2_orientation():
    # unit square CCW from origin
    xs = np.array([0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    assert signed_area2(xs, ys) == 2.0
    assert signed_area2(xs[::-1], ys[::-1]) == -2.0


def test_canonical_ring_rotation_and_orientation():
    # CW square fed starting at (1,1); canonical = CCW from lex-min (0,0)
    xs = np.array([1.0, 1.0, 0.0, 0.0])
    ys = np.array([1.0, 0.0, 0.0, 1.0])
    cx, cy, a2 = canonical_ring(xs, ys, ccw=True)
    assert a2 == 2.0
    assert ring_body(cx, cy) == "(0 0, 1 0, 1 1, 0 1, 0 0)"
    hx, hy, _ = canonical_ring(xs, ys, ccw=False)
    assert ring_body(hx, hy) == "(0 0, 0 1, 1 1, 1 0, 0 0)"


def test_chain_segments_closed_and_split():
    sq = (np.array([0.0, 4.0, 4.0, 0.0, 0.0]), np.array([0.0, 0.0, 4.0, 4.0, 0.0]))
    # split square: two open halves, second reversed
    a = (np.array([10.0, 14.0, 14.0]), np.array([0.0, 0.0, 4.0]))
    b_rev = (np.array([10.0, 10.0, 14.0]), np.array([0.0, 4.0, 4.0]))
    rings, dropped = chain_segments([sq, a, b_rev])
    assert dropped == 0
    assert len(rings) == 2
    assert sorted(len(r[0]) for r in rings) == [4, 4]


def test_chain_prefers_closing_match():
    # two split squares sharing the corner (4,0): the closing preference must
    # pair each square's own halves, not cross-join at the shared vertex
    a1 = (np.array([0.0, 4.0]), np.array([0.0, 0.0]))
    b1 = (np.array([4.0, 4.0, 0.0, 0.0]), np.array([0.0, 4.0, 4.0, 0.0]))
    a2 = (np.array([4.0, 8.0]), np.array([0.0, 0.0]))
    b2 = (np.array([8.0, 8.0, 4.0, 4.0]), np.array([0.0, 4.0, 4.0, 0.0]))
    rings, dropped = chain_segments([a1, a2, b1, b2])
    assert dropped == 0
    bodies = sorted(
        ring_body(*canonical_ring(xs, ys, ccw=True)[:2]) for xs, ys in rings
    )
    assert bodies == [
        "(0 0, 4 0, 4 4, 0 4, 0 0)",
        "(4 0, 8 0, 8 4, 4 4, 4 0)",
    ]


def test_chain_drops_incomplete():
    dangling = (np.array([0.0, 1.0]), np.array([0.0, 0.0]))
    rings, dropped = chain_segments([dangling])
    assert rings == [] and dropped == 1


def _members_df(spark, rows):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(rel_id=r, role=ro, xs=[float(v) for v in x], ys=[float(v) for v in y])
         for r, ro, x, y in rows],
        schema="rel_id bigint, role string, xs array<double>, ys array<double>",
    )


def test_assemble_multipolygons_hole_assignment(spark):
    from osm_hadoop_spark.operators.polygon_assembly import assemble_multipolygons

    rows = [
        # big outer 10x10, small outer 4x4 nested inside it, hole 1x1 inside
        # the SMALL one -> must be assigned to the smaller containing outer
        (1, "outer", [0, 10, 10, 0, 0], [0, 0, 10, 10, 0]),
        (1, "outer", [2, 6, 6, 2, 2], [2, 2, 6, 6, 2]),
        (1, "inner", [3, 4, 4, 3, 3], [3, 3, 4, 4, 3]),
        # orphan hole outside every outer -> dropped
        (1, "inner", [50, 51, 51, 50, 50], [50, 50, 51, 51, 50]),
        # duplicate outer body -> deduplicated
        (1, "outer", [0, 10, 10, 0, 0], [0, 0, 10, 10, 0]),
    ]
    out = assemble_multipolygons(_members_df(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_polys"] == 2
    assert r["n_holes"] == 1
    assert r["n_dropped"] == 1
    assert r["area2"] == 2 * (100 + 16 - 1)
    assert r["geometry_wkt"] == (
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), "
        "((2 2, 6 2, 6 6, 2 6, 2 2), (3 3, 3 4, 4 4, 4 3, 3 3)))"
    )


def test_assemble_multipolygons_no_outer(spark):
    from osm_hadoop_spark.operators.polygon_assembly import assemble_multipolygons

    rows = [(7, "inner", [0, 1, 1, 0, 0], [0, 0, 1, 1, 0])]
    out = assemble_multipolygons(_members_df(spark, rows)).collect()
    assert out[0]["n_polys"] == 0 and out[0]["geometry_wkt"] is None
    assert out[0]["n_dropped"] == 1


def test_point_multipolygon_join_hole_exclusion(spark):
    from pyspark.sql import Row

    from osm_hadoop_spark.operators.polygon_join import point_multipolygon_join

    polys = spark.createDataFrame(
        [
            Row(zone_id=1, oxs=[0.0, 10.0, 10.0, 0.0], oys=[0.0, 0.0, 10.0, 10.0],
                hxs=[[4.0, 6.0, 6.0, 4.0]], hys=[[4.0, 4.0, 6.0, 6.0]]),
            Row(zone_id=2, oxs=[20.0, 24.0, 24.0, 20.0], oys=[0.0, 0.0, 4.0, 4.0],
                hxs=[], hys=[]),
        ],
        schema=("zone_id bigint, oxs array<double>, oys array<double>, "
                "hxs array<array<double>>, hys array<array<double>>"),
    )
    pts = spark.createDataFrame(
        [Row(node_id=1, px=1.0, py=1.0),    # in zone 1
         Row(node_id=2, px=5.0, py=5.0),    # in zone 1's hole -> excluded
         Row(node_id=3, px=21.0, py=1.0),   # in zone 2
         Row(node_id=4, px=50.0, py=50.0)], # nowhere
        schema="node_id bigint, px double, py double",
    )
    got = sorted((r["node_id"], r["zone_id"])
                 for r in point_multipolygon_join(pts, polys).collect())
    assert got == [(1, 1), (3, 2)]


def test_partition_assembly_matches_per_relation_oracle(spark, synth_docs):
    """The partition-buffered mapInPandas assembly must equal a driver-side
    oracle that groups the members by rel_id and assembles each relation
    on its own, on irregular member sets."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from osm_hadoop_spark.operators.polygon_assembly import (
        _assemble_rel,
        assemble_multipolygons,
    )

    # derive scruffy members from the synth corpus way geometry: close each
    # way's envelope into a rectangle ring, every 3rd one as a hole
    from osm_hadoop_spark.operators.way_assembly import build_ways_geom

    wg = build_ways_geom(synth_docs).limit(600)
    mem = wg.select(
        (F.col("way_id") % 37).alias("rel_id"),
        F.when(F.col("way_id") % 3 == 0, "inner").otherwise("outer").alias("role"),
        F.array(
            F.array_min("xs"), F.array_max("xs"), F.array_max("xs"),
            F.array_min("xs"), F.array_min("xs"),
        ).alias("xs"),
        F.array(
            F.array_min("ys"), F.array_min("ys"), F.array_max("ys"),
            F.array_max("ys"), F.array_min("ys"),
        ).alias("ys"),
    ).filter(F.col("xs")[0] < F.col("xs")[1])
    # pin the limit()ed rows: the operator and the oracle must see the same
    mem = mem.localCheckpoint()
    got = {r["rel_id"]: tuple(r) for r in assemble_multipolygons(mem).collect()}
    groups = defaultdict(lambda: ([], [], []))
    for r in mem.collect():
        roles, xs, ys = groups[r["rel_id"]]
        roles.append(r["role"])
        xs.append(r["xs"])
        ys.append(r["ys"])
    want = {rel: _assemble_rel(rel, *cols) for rel, cols in groups.items()}
    assert got == want and len(got) == 37


# ---------------------------------------------------------------------------
# property tests (hypothesis): chaining reconstructs split rectangles exactly
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


def _rect_ring(x0, y0, w, h):
    xs = np.array([x0, x0 + w, x0 + w, x0], dtype=float)
    ys = np.array([y0, y0, y0 + h, y0 + h], dtype=float)
    return xs, ys


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 30),    # grid cell -> disjoint placements
            st.integers(0, 30),
            st.integers(1, 8),     # w, h (< spacing, so vertices stay unique)
            st.integers(1, 8),
            st.integers(0, 3),     # rotation of fed sequence
            st.booleans(),         # reverse orientation
            st.integers(1, 3),     # number of fragments
        ),
        min_size=1, max_size=8, unique_by=lambda t: (t[0], t[1]),
    ),
    st.randoms(use_true_random=False),
)
def test_chain_reconstructs_split_rectangles(rects, rnd):
    """Any split of distinct rectangles with unique vertices into <=3
    fragments (random rotation/orientation/fragment reversal/input order)
    must chain back to exactly the canonical rectangle set. (2-fragment
    splits are additionally safe under shared corners — proof in
    functions/rings.py — but unique vertices is the guaranteed domain for
    deeper splits.)"""
    from osm_hadoop_spark.functions.rings import canonical_ring, chain_segments, ring_body

    segs = []
    want = set()
    for gx, gy, w, h, rot, rev, n_frag in rects:
        xs, ys = _rect_ring(gx * 20, gy * 20, w, h)
        want.add(ring_body(*canonical_ring(xs, ys, ccw=True)[:2]))
        if rev:
            xs, ys = xs[::-1], ys[::-1]
        xs = np.r_[xs[rot:], xs[:rot]]
        ys = np.r_[ys[rot:], ys[:rot]]
        closed_x = np.r_[xs, xs[:1]]
        closed_y = np.r_[ys, ys[:1]]
        cuts = sorted(rnd.sample(range(1, 4), k=n_frag - 1)) if n_frag > 1 else []
        bounds = [0] + cuts + [4]
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            fx, fy = closed_x[lo:hi + 1], closed_y[lo:hi + 1]
            if rnd.random() < 0.5:
                fx, fy = fx[::-1], fy[::-1]
            segs.append((fx, fy))
    rnd.shuffle(segs)
    rings, dropped = chain_segments(segs)
    assert dropped == 0
    got = {ring_body(*canonical_ring(xs, ys, ccw=True)[:2]) for xs, ys in rings}
    assert got == want


def test_point_multipolygon_join_matches_brute_force(spark, synth_docs):
    """The grid equi-join candidates plus refine must produce the pair set
    of a NumPy brute force over every (point, zone) pair whose envelope
    contains the point, refined by the same PIP kernel."""
    from pyspark.sql import functions as F

    from osm_hadoop_spark.functions.spatial import point_in_polygon_pairs
    from osm_hadoop_spark.operators.polygon_join import point_multipolygon_join
    from osm_hadoop_spark.operators.way_assembly import build_ways_geom

    wg = build_ways_geom(synth_docs).limit(400)
    polys = wg.select(
        F.col("way_id").alias("zone_id"),
        F.array(F.array_min("xs"), F.array_max("xs"), F.array_max("xs"),
                F.array_min("xs")).alias("oxs"),
        F.array(F.array_min("ys"), F.array_min("ys"), F.array_max("ys"),
                F.array_max("ys")).alias("oys"),
        F.array().cast("array<array<double>>").alias("hxs"),
        F.array().cast("array<array<double>>").alias("hys"),
    ).filter(F.col("oxs")[0] < F.col("oxs")[1])
    # pin the limit()ed rows: the operator and the oracle must see the same
    polys = polys.localCheckpoint()
    # points = the corpus's own nodes, jittered: way envelopes are ~0.1 deg,
    # so only coordinates drawn from the same distribution produce hits
    from osm_hadoop_spark.sources.spans import parse_nodes

    pts = parse_nodes(synth_docs).select(
        "node_id",
        (F.col("lon") + (F.col("node_id") % 3 - 1) * 0.01).alias("px"),
        (F.col("lat") + (F.col("node_id") % 5 - 2) * 0.01).alias("py"),
    )
    got = sorted((r["node_id"], r["zone_id"]) for r in
                 point_multipolygon_join(pts, polys, cell_size=0.25).collect())
    p = pts.toPandas()
    z = polys.toPandas()
    oxs = [np.asarray(v, dtype=np.float64) for v in z["oxs"]]
    oys = [np.asarray(v, dtype=np.float64) for v in z["oys"]]
    px, py = p["px"].to_numpy(), p["py"].to_numpy()
    in_env = np.stack([
        (px >= x.min()) & (px <= x.max()) & (py >= y.min()) & (py <= y.max())
        for x, y in zip(oxs, oys)
    ], axis=1)
    pi, zi = np.nonzero(in_env)
    counts = np.array([len(oxs[j]) for j in zi], dtype=np.int64)
    inside = point_in_polygon_pairs(
        px[pi], py[pi],
        np.concatenate([oxs[j] for j in zi]), np.concatenate([oys[j] for j in zi]),
        counts,
    )
    want = sorted(zip(p["node_id"].to_numpy()[pi[inside]].tolist(),
                      z["zone_id"].to_numpy()[zi[inside]].tolist()))
    assert got == want and len(got) > 0


def test_reversed_duplicate_fragments_dedupe_to_one_ring():
    """sf0.1-sweep regression (round 4): the same rectangle split into
    two open fragments TWICE, the second copy with reversed orientation.
    Before the undirected-fragment dedupe, the reversed copy satisfied
    the closing test and the chain folded into two zero-area out-and-back
    'rings' (A,B,C,B) / (A,D,C,D); now exactly one clean ring remains."""
    import numpy as np

    from osm_hadoop_spark.functions.rings import chain_segments

    A, B, C, D = (0.0, 0.0), (8.0, 0.0), (8.0, 20.0), (0.0, 20.0)

    def frag(*pts):
        return (np.array([p[0] for p in pts]), np.array([p[1] for p in pts]))

    segs = [frag(A, B, C), frag(C, D, A),      # copy 1: ccw split
            frag(C, B, A), frag(A, D, C)]      # copy 2: same split reversed
    rings, dropped = chain_segments(segs)
    assert dropped == 0
    assert len(rings) == 1
    xs, ys = rings[0]
    assert len(xs) == 4 and len(set(zip(xs.tolist(), ys.tolist()))) == 4


def test_distinct_fragmentations_still_chain_and_dedupe():
    """Two split copies with DIFFERENT fragmentations are not undirected
    duplicates — both chains must close and the canonical-body dedupe
    downstream collapses them; no degenerate pairing."""
    import numpy as np

    from osm_hadoop_spark.functions.rings import canonical_ring, chain_segments, ring_body

    A, B, C, D = (0.0, 0.0), (8.0, 0.0), (8.0, 20.0), (0.0, 20.0)

    def frag(*pts):
        return (np.array([p[0] for p in pts]), np.array([p[1] for p in pts]))

    segs = [frag(A, B, C), frag(C, D, A),
            frag(B, C, D), frag(D, A, B)]
    rings, dropped = chain_segments(segs)
    assert dropped == 0 and len(rings) == 2
    bodies = {ring_body(*canonical_ring(xs, ys, ccw=True)[:2]) for xs, ys in rings}
    assert len(bodies) == 1  # same canonical rectangle
