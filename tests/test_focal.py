"""Focal raster statistics (operators/focal.py) vs a dict-based Python
brute force, at a k that selects each evaluation (direct at k <= 1,
separable at k >= 2)."""

import random

import pytest


def _brute(cells, k, mean_bits=10):
    grid = {(cx, cy): v for cx, cy, v in cells}
    out = {}
    for (cx, cy) in grid:
        vals = [
            grid[(cx + dx, cy + dy)]
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
            if (cx + dx, cy + dy) in grid
        ]
        s, n, m = sum(vals), len(vals), max(vals)
        out[(cx, cy)] = (s, n, m, (s << mean_bits) // n)
    return out


@pytest.mark.parametrize("k", [2, 1], ids=["separable", "direct"])
def test_focal_matches_brute_force(spark, k):
    from osm_hadoop_spark.operators.focal import focal_stats

    rng = random.Random(3)
    cells = list(
        {
            (rng.randrange(-5, 15), rng.randrange(-5, 15)): None
            for _ in range(120)
        }
    )
    cells = [(cx, cy, rng.randrange(1, 50)) for cx, cy in cells]
    df = spark.createDataFrame(cells, "cx: long, cy: long, v: long")
    got = {
        (r["cx"], r["cy"]): (r["fsum"], r["fn"], r["fmax"], r["fmean_q"])
        for r in focal_stats(df, k=k).collect()
    }
    assert got == _brute(cells, k)


def test_focal_k0_is_identity(spark):
    from osm_hadoop_spark.operators.focal import focal_stats

    df = spark.createDataFrame([(0, 0, 7), (3, 9, 2)], "cx: long, cy: long, v: long")
    got = {
        (r["cx"], r["cy"]): (r["fsum"], r["fn"], r["fmax"], r["fmean_q"])
        for r in focal_stats(df, k=0).collect()
    }
    assert got == {(0, 0): (7, 1, 7, 7 << 10), (3, 9): (2, 1, 2, 2 << 10)}


def test_focal_halo_cells_not_reported(spark):
    from osm_hadoop_spark.operators.focal import focal_stats

    # isolated cell: its halo neighbors must NOT appear in the output
    df = spark.createDataFrame([(5, 5, 3)], "cx: long, cy: long, v: long")
    rows = focal_stats(df, k=1).collect()
    assert len(rows) == 1 and (rows[0]["cx"], rows[0]["cy"]) == (5, 5)


# --- focal_convolve ----------------------------------------------------------


def _brute_convolve(cells, kernels):
    """out(c) = sum w * v(c - (dx, dy)) — true convolution, absent = 0."""
    grid = {(cx, cy): v for cx, cy, v in cells}
    out = {}
    for (cx, cy) in grid:
        out[(cx, cy)] = tuple(
            sum(
                w * grid.get((cx - dx, cy - dy), 0)
                for dx, dy, w in ks
            )
            for ks in kernels.values()
        )
    return out


def test_convolve_sobel_matches_brute_force(spark):
    from osm_hadoop_spark.operators.focal import SOBEL, focal_convolve

    rng = random.Random(5)
    cells = list(
        {(rng.randrange(-4, 12), rng.randrange(-4, 12)): None for _ in range(90)}
    )
    cells = [(cx, cy, rng.randrange(-20, 50)) for cx, cy in cells]
    df = spark.createDataFrame(cells, "cx: long, cy: long, v: long")
    got = {
        (r["cx"], r["cy"]): (r["gx"], r["gy"])
        for r in focal_convolve(df, SOBEL).collect()
    }
    assert got == _brute_convolve(cells, SOBEL)


def test_convolve_is_convolution_not_correlation(spark):
    from osm_hadoop_spark.operators.focal import focal_convolve

    # single right-neighbor tap (dx=1, w=1): out(c) = v(c - (1, 0)),
    # i.e. cell (1, 0) sees the value AT (0, 0) — the mirrored read.
    df = spark.createDataFrame([(0, 0, 7), (1, 0, 100)], "cx: long, cy: long, v: long")
    got = {
        (r["cx"], r["cy"]): r["g"]
        for r in focal_convolve(df, {"g": [(1, 0, 1)]}).collect()
    }
    assert got == {(0, 0): 0, (1, 0): 7}


def test_convolve_duplicate_taps_accumulate(spark):
    from osm_hadoop_spark.operators.focal import focal_convolve

    df = spark.createDataFrame([(0, 0, 3)], "cx: long, cy: long, v: long")
    got = focal_convolve(df, {"g": [(0, 0, 2), (0, 0, 5)]}).collect()
    assert [(r["cx"], r["cy"], r["g"]) for r in got] == [(0, 0, 21)]
