"""Grid DBSCAN (operators/clustering.py) vs an independent brute force.

The brute force below is the textbook O(n^2) definition — full distance
matrix, union-find over core-core edges, min-label border rule — sharing
NO code with the operator, which must reproduce it label-for-label,
including on inputs where the dense-cell shortcut carries most points.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


def _h(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % mod


def _synth_points(n: int, n_clusters: int, spread: int, noise_every: int):
    """Deterministic clustered integer points + uniform noise."""
    pts = []
    for i in range(n):
        if noise_every and _h(f"pt{i}", 10) % noise_every == 0:
            x = _h(f"nx{i}", 10000)
            y = _h(f"ny{i}", 10000)
        else:
            k = i % n_clusters
            x = _h(f"cx{k}", 10000) + _h(f"dx{i}", 2 * spread + 1) - spread
            y = _h(f"cy{k}", 10000) + _h(f"dy{i}", 2 * spread + 1) - spread
        pts.append((i, x, y))
    return pts


def _brute_dbscan(pts, eps, min_pts):
    """(id, x, y) -> {id: (role, cluster|None)} — textbook definition."""
    eps2 = eps * eps
    nbrs = {
        i: [j for (j, xj, yj) in pts if (xi - xj) ** 2 + (yi - yj) ** 2 <= eps2]
        for (i, xi, yi) in pts
    }
    core = {i for i, ns in nbrs.items() if len(ns) >= min_pts}

    parent = {i: i for i in core}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in core:
        for j in nbrs[i]:
            if j in core and j != i:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {i: min(j for j in core if find(j) == find(i)) for i in core}

    out = {}
    for (i, _, _) in pts:
        if i in core:
            out[i] = ("core", comp[i])
        else:
            cn = [comp[j] for j in nbrs[i] if j in core]
            out[i] = ("border", min(cn)) if cn else ("noise", None)
    return out


@pytest.fixture(scope="module")
def clustered_points(spark):
    pts = _synth_points(600, 12, 80, 3)  # heavy noise, tight clusters
    return spark.createDataFrame(pts, "id long, x long, y long").cache(), pts


def test_dbscan_matches_brute_force(spark, clustered_points):
    from osm_hadoop_spark.operators.clustering import dbscan

    df, pts = clustered_points
    got = {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan(df, eps=40, min_pts=5).collect()
    }
    want = _brute_dbscan(pts, eps=40, min_pts=5)
    assert got == want
    roles = {v[0] for v in want.values()}
    assert roles == {"core", "border", "noise"}, "fixture must exercise all roles"


def test_dbscan_star_skips_dense_self_cell(spark, clustered_points):
    """The dense-cell star: with spread << eps every point sits in a dense
    cell, so coreness comes from cell counts and in-cell pairs are never
    enumerated. The labels must still equal the brute force."""
    from osm_hadoop_spark.operators.clustering import dbscan

    df, _ = clustered_points
    tight = df.select("id", (F.col("x") % 9).alias("x"), (F.col("y") % 9).alias("y"))
    got = {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan(tight, eps=40, min_pts=5).collect()
    }
    assert got == _brute_dbscan([tuple(r) for r in tight.collect()], eps=40, min_pts=5)


def test_dbscan_all_noise_and_singletons(spark):
    from osm_hadoop_spark.operators.clustering import dbscan

    # far-apart points: min_pts=1 -> every point a singleton core cluster;
    # min_pts=2 -> all noise
    pts = [(i, i * 1000, 0) for i in range(6)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    singles = dbscan(df, eps=10, min_pts=1).collect()
    assert all(r["role"] == "core" and r["cluster"] == r["id"] for r in singles)
    noise = dbscan(df, eps=10, min_pts=2).collect()
    assert all(r["role"] == "noise" and r["cluster"] is None for r in noise)


def test_dbscan_plan_has_no_cross_product(spark, clustered_points):
    from osm_hadoop_spark.operators.clustering import dbscan

    df, _ = clustered_points
    plan = dbscan(df, eps=40, min_pts=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Lloyd k-means (kmeans_lloyd) vs an independent Python brute force
# ---------------------------------------------------------------------------


def _brute_kmeans(pts, dims, init, rounds):
    """Textbook Lloyd with the operator's exact-integer contract:
    packed argmin (ties -> smallest j), floor-div centroid means,
    empty clusters dropped. Shares no code with the operator."""
    k = len(init)
    cents = [(j, tuple(cs)) for j, cs in enumerate(init)]

    def assign(cents):
        out = {}
        for row in pts:
            pid, coords = row[0], row[1:]
            pk = min(
                sum((c - x) ** 2 for c, x in zip(cs, coords)) * k + j
                for j, cs in cents
            )
            out[pid] = (pk % k, (pk - pk % k) // k)
        return out

    for _ in range(rounds):
        lab = assign(cents)
        sums = {}
        for row in pts:
            j = lab[row[0]][0]
            s, n = sums.get(j, ((0,) * len(dims), 0))
            sums[j] = (tuple(a + b for a, b in zip(s, row[1:])), n + 1)
        cents = sorted(
            (j, tuple(s // n for s in ss)) for j, (ss, n) in sums.items()
        )
    return assign(cents)


def test_kmeans_matches_brute_force(spark):
    from osm_hadoop_spark.operators.clustering import kmeans_lloyd

    # 4 tight blobs + negative coords (exercises floor-div on negative
    # sums) and k=6 inits so two clusters go empty and must drop
    pts = []
    centers = [(-900, 400), (800, -700), (50, 50), (-400, -900)]
    for i in range(300):
        cx, cy = centers[i % 4]
        pts.append((i, cx + _h(f"kx{i}", 121) - 60, cy + _h(f"ky{i}", 121) - 60))
    init = [((j * 641) % 1801 - 900, (j * 911) % 1801 - 900) for j in range(6)]

    df = spark.createDataFrame(pts, "pid long, x0 long, x1 long")
    got = {
        r["pid"]: (r["cluster"], r["d2"])
        for r in kmeans_lloyd(df, ["x0", "x1"], init, rounds=3).collect()
    }
    assert got == _brute_kmeans(pts, ["x0", "x1"], init, 3)


def test_kmeans_assign_is_shuffle_free(spark):
    from osm_hadoop_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame([(1, 2, 3)], "pid long, x0 long, x1 long")
    out = kmeans_assign(df, ["x0", "x1"], [(0, (0, 0)), (1, (5, 5))], 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # literal candidate ladder: one projection
    assert "Python" not in plan  # stays in whole-stage codegen
