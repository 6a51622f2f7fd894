"""S2 containment join (operators/s2_join.py): the per-level parent
equi-join must produce the rows of an independent range-containment
recomputation, and must stay an equi-join (no nested-loop)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _fixtures(spark, n_pts=3000, n_regions=40, seed=13):
    from osm_hadoop_spark.operators.s2_join import regions_from_points, with_leaf_cell

    rng = np.random.default_rng(seed)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(n_pts),
                "lon": rng.uniform(-180, 180, n_pts),
                "lat": rng.uniform(-90, 90, n_pts),
            }
        )
    )
    regs = spark.createDataFrame(
        pd.DataFrame(
            {
                "rid": np.arange(n_regions),
                "lon": rng.uniform(-180, 180, n_regions),
                "lat": rng.uniform(-90, 90, n_regions),
                "level": rng.integers(1, 6, n_regions).astype("int32"),
            }
        )
    )
    return (
        with_leaf_cell(pts),
        regions_from_points(regs, "rid", "lon", "lat", "level"),
    )


def test_containment_join_matches_numpy(spark):
    from osm_hadoop_spark.operators.s2_join import s2_containment_join

    pts, regs = _fixtures(spark)
    a = s2_containment_join(pts, regs).select("point_id", "region_id")
    sa = set(map(tuple, a.collect()))
    assert len(sa) > 0

    # independent NumPy recomputation via range containment
    p = pts.toPandas()
    r = regs.toPandas()
    leaf = p["s2_leaf"].to_numpy()
    exp = set()
    for _, row in r.iterrows():
        m = (leaf >= row["range_min"]) & (leaf <= row["range_max"])
        for pid in p["point_id"].to_numpy()[m]:
            exp.add((int(pid), int(row["region_id"])))
    assert sa == exp


def test_levels_strategy_is_equi_join(spark):
    from osm_hadoop_spark.operators.s2_join import s2_containment_join

    pts, regs = _fixtures(spark, n_pts=500, n_regions=10)
    plan = (
        s2_containment_join(pts, regs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan  # every per-level join is a hash equi-join


def test_nested_regions_match_both(spark):
    """A point inside a level-5 region nested in a level-2 region must
    join to BOTH (multi-level semantics, not first-match)."""
    from osm_hadoop_spark.functions import s2
    from osm_hadoop_spark.operators.s2_join import (
        regions_from_points,
        s2_containment_join,
        with_leaf_cell,
    )

    pts = with_leaf_cell(
        spark.createDataFrame(pd.DataFrame({"point_id": [0], "lon": [10.0], "lat": [20.0]}))
    )
    regs = regions_from_points(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "rid": [1, 2],
                    "lon": [10.0, 10.0],
                    "lat": [20.0, 20.0],
                    "level": np.array([2, 5], dtype="int32"),
                }
            )
        ),
        "rid", "lon", "lat", "level",
    )
    got = sorted(
        r["region_id"]
        for r in s2_containment_join(pts, regs).collect()
    )
    assert got == [1, 2]


def test_adaptive_cover_feeds_containment_join(spark):
    """Composition: adaptive mixed-level cover -> mixed-level containment
    join -> exact refine == brute-force rect join. Proves the cover's
    superset contract THROUGH the join operator, at mixed levels."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_hadoop_spark.functions import s2
    from osm_hadoop_spark.functions.s2_cover import cells_for_envelope_s2
    from osm_hadoop_spark.operators.s2_join import s2_containment_join, with_leaf_cell

    rng = np.random.default_rng(17)
    rects = pd.DataFrame(
        {
            "region_id": np.arange(6),
            "lon0": rng.uniform(-150, 120, 6),
            "lat0": rng.uniform(-60, 40, 6),
        }
    )
    rects["lon1"] = rects["lon0"] + rng.uniform(2, 12, 6)
    rects["lat1"] = rects["lat0"] + rng.uniform(2, 9, 6)

    cells, env = cells_for_envelope_s2(
        rects["lon0"].to_numpy(), rects["lat0"].to_numpy(),
        rects["lon1"].to_numpy(), rects["lat1"].to_numpy(), 9, adaptive=True,
    )
    regions = spark.createDataFrame(
        pd.DataFrame(
            {
                "region_id": rects["region_id"].to_numpy()[env],
                "region_cell": cells,
                "level": s2.cell_level(cells).astype("int32"),
                "range_min": s2.cell_range_min(cells),
                "range_max": s2.cell_range_max(cells),
            }
        )
    )
    pts_pdf = pd.DataFrame(
        {
            "point_id": np.arange(4000),
            "lon": rng.uniform(-180, 180, 4000),
            "lat": rng.uniform(-90, 90, 4000),
        }
    )
    pts = with_leaf_cell(spark.createDataFrame(pts_pdf))

    joined = s2_containment_join(pts, regions)
    refined = joined.join(
        F.broadcast(spark.createDataFrame(rects)), "region_id"
    ).filter(
        (F.col("lon") >= F.col("lon0")) & (F.col("lon") <= F.col("lon1"))
        & (F.col("lat") >= F.col("lat0")) & (F.col("lat") <= F.col("lat1"))
    )
    got = set(
        (r["region_id"], r["point_id"])
        for r in refined.select("region_id", "point_id").distinct().collect()
    )

    exp = set()
    for _, rr in rects.iterrows():
        m = (
            (pts_pdf["lon"] >= rr["lon0"]) & (pts_pdf["lon"] <= rr["lon1"])
            & (pts_pdf["lat"] >= rr["lat0"]) & (pts_pdf["lat"] <= rr["lat1"])
        )
        for pid in pts_pdf["point_id"][m]:
            exp.add((int(rr["region_id"]), int(pid)))
    assert got == exp and len(exp) > 0


def test_s2_cell_overlap_join_vs_interval_brute(spark):
    """s2_cell_overlap_join (laminar parent equi-joins) must equal an
    independent interval-arithmetic brute force over cell ranges, across
    nesting, equality, sibling-union, and disjoint cases."""
    import numpy as np

    from osm_hadoop_spark.functions.s2 import (
        cell_children,
        cell_for_lonlat,
        cell_parent,
        cell_range_max,
        cell_range_min,
    )
    from osm_hadoop_spark.operators.s2_join import s2_cell_overlap_join

    leaf1 = int(cell_for_lonlat(np.array([10.0]), np.array([20.0]), 30)[0])
    leaf2 = int(cell_for_lonlat(np.array([11.5]), np.array([21.5]), 30)[0])
    leaf3 = int(cell_for_lonlat(np.array([-120.0]), np.array([-40.0]), 30)[0])
    x4 = int(cell_parent(np.array([leaf1]), 4)[0])
    y4 = int(cell_parent(np.array([leaf2]), 4)[0])
    assert x4 != y4
    a_rows = [(1, x4)] + [(2, int(c)) for c in cell_children(y4)]
    b_rows = [
        (10, int(cell_parent(np.array([leaf1]), 3)[0])),  # contains x4
        (11, int(cell_parent(np.array([leaf1]), 6)[0])),  # inside x4
        (12, y4),                                         # equals region 2
        (13, int(cell_parent(np.array([leaf3]), 4)[0])),  # disjoint
    ]
    a = spark.createDataFrame(a_rows, "rid_a long, cell long")
    b = spark.createDataFrame(b_rows, "rid_b long, cell long")

    def rng(c):
        return (int(cell_range_min(np.array([c]))[0]),
                int(cell_range_max(np.array([c]))[0]))

    want = {}
    for ra, ca in a_rows:
        for rb, cb in b_rows:
            lo = max(rng(ca)[0], rng(cb)[0])
            hi = min(rng(ca)[1], rng(cb)[1])
            if hi >= lo:
                want[(ra, rb)] = want.get((ra, rb), 0) + (hi - lo) // 2 + 1

    got = {
        (r["rid_a"], r["rid_b"]): r["overlap_leaves"]
        for r in s2_cell_overlap_join(a, b).collect()
    }
    assert got == want
    # the cases really occurred: containment both directions, equality
    # (sibling union == parent), and the disjoint region absent
    assert (1, 10) in got and (1, 11) in got
    assert sum(v for (ra, _), v in got.items() if ra == 2) == got[(1, 10)] * 0 + sum(
        v for (ra, rb), v in got.items() if ra == 2 and rb == 12
    )
    assert not any(rb == 13 for _, rb in got)
