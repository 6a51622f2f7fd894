"""KDE heatmap (operators/kde.py) vs a NumPy convolution brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _brute_kde(pts, cell, r):
    """Dict (cx, cy) -> density via direct double loop."""
    out = {}
    for (x, y) in pts:
        cx, cy = x // cell, y // cell
        for dx in range(-r, r + 1):
            for dy in range(-r, r + 1):
                w = (r + 1 - abs(dx)) * (r + 1 - abs(dy))
                k = (cx + dx, cy + dy)
                out[k] = out.get(k, 0) + w
    return out


@pytest.fixture(scope="module")
def kde_points(spark):
    rng = np.random.default_rng(7)
    centers = rng.integers(0, 2000, size=(8, 2))
    pts = []
    for i in range(500):
        cx, cy = centers[i % 8]
        pts.append((int(cx + rng.integers(-60, 61)), int(cy + rng.integers(-60, 61))))
    # negative coords exercise floor-division (not truncation) semantics
    pts += [(-37, -41), (-1, -1), (-25, 13)]
    return spark.createDataFrame(pts, "x long, y long").cache(), pts


def test_kde_matches_brute_force(spark, kde_points):
    from osm_hadoop_spark.operators.kde import kde_grid

    df, pts = kde_points
    got = {
        (r["cx"], r["cy"]): r["density"]
        for r in kde_grid(df, cell_size=25, radius=3).collect()
    }
    assert got == _brute_kde(pts, 25, 3)


def test_kde_radius_zero_is_cell_counts(spark, kde_points):
    from osm_hadoop_spark.operators.kde import kde_grid

    df, pts = kde_points
    got = {
        (r["cx"], r["cy"]): r["density"]
        for r in kde_grid(df, cell_size=25, radius=0).collect()
    }
    want = {}
    for (x, y) in pts:
        k = (x // 25, y // 25)
        want[k] = want.get(k, 0) + 1
    assert got == want


def test_kde_plan_is_joinless_aggregation(spark, kde_points):
    from osm_hadoop_spark.operators.kde import kde_grid

    df, _ = kde_points
    plan = (
        kde_grid(df, cell_size=25, radius=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, "KDE must be pure explode+aggregate"
    assert plan.count("HashAggregate") >= 4  # 3 aggs, partial+final pairs
