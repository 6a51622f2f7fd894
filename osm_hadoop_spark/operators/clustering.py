"""Grid DBSCAN: exact density clustering as relational algebra.

The reference engine stops at per-entity spatial predicates (PIP, kNN,
tile joins); a production geospatial pipeline additionally needs density
clustering — "group these POIs/vehicle pings into hotspots" — which is
DBSCAN (Ester et al., KDD 1996). The classic formulation is a sequential
region-growing scan and does not distribute; this operator is the exact
grid reformulation (Gunawan 2013 / "MR-DBSCAN", He et al. 2011): every
step is an equi-join or a hash aggregate, so Catalyst plans it like any
other query and it scales the same way the engine's tile joins do.

Semantics (exact DBSCAN, deterministic labels):
  - neighborhood N(p) = points q with dist(p,q) <= eps, INCLUDING p;
  - core point: |N(p)| >= min_pts;
  - clusters = connected components of the core-core eps-graph, labeled
    by the minimum point id of the component (operators/cc.py);
  - border point: non-core with >= 1 core neighbor; classic DBSCAN
    assigns it to whichever core claims it first (visit-order dependent —
    not reproducible); here it joins the MINIMUM cluster label among its
    core neighbors, making the full labeling a pure function of the input;
  - noise: everything else (cluster NULL).

Exactness: coordinates are integers and the eps test is integer
squared-distance (dx*dx + dy*dy <= eps*eps) — no floating point anywhere,
so a DuckDB twin reproduces every label bit-for-bit.

100 TB posture:
  - Candidate generation is the computable-key grid join (same shape the
    PIP family re-planned onto, PARITY.md round-3 audits): each point
    probes the cells a neighbor could occupy as a slim (id, x, y, cell)
    relation and equi-joins the cell-keyed points — cell ids are
    arithmetic (no dictionary), no cross product anywhere.
  - Degree is a partial-aggregatable count; core/border derivation is
    joins on the point id.
  - Component labeling reuses connected_components (large/small-star,
    O(log n) rounds, per-round localCheckpoint) over core-core edges
    only — border and noise points never enter the iteration.
  - Known hot spot: a cell holding c points emits c^2 in-cell candidate
    pairs — quadratic in the densest cell (a metro hotspot at planet
    scale). The dense-cell star short-circuits it EXACTLY:
    with cell side floor(eps/sqrt(2)), every in-cell pair is mutually
    within eps, so members of a cell holding >= min_pts points are core
    BY CONSTRUCTION and the c^2 in-cell pairs are never generated —
    dense points skip their own-cell probe offset, coreness comes from
    the cell count, and each dense cell is CONTRACTED to its min-id root
    before the iterative labeling (a quotient graph with identical
    components — the in-cell edge set is total — so the CC iteration sees
    cells + sparse cores, not individual points). Cross-cell pairs keep
    the exact distance refine (5x5 probe at the smaller cell side).
    Labels are pinned against a textbook brute force in
    tests/test_clustering.py.

Reference analogs cited for parity bookkeeping: candidate grid =
GetCellsForWay tiling (functions/tiles.py, J3/J5), iterative labeling =
NodeJoiner.scala:67-68 materialized rounds (via operators/cc.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_hadoop_spark.operators.cc import connected_components

# cell coordinates are packed into one int64 so the join key is a single
# fixed-width column (same trick as functions/tiles.py cell ids)
_PACK = 1 << 32


def _with_cell(pts: DataFrame, side: int) -> DataFrame:
    cx = F.floor(F.col("x") / side)
    cy = F.floor(F.col("y") / side)
    return pts.withColumn("cell", (cx * _PACK + cy).cast("bigint"))


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Exact DBSCAN over integer 2-D points.

    Returns DataFrame(id, x, y, role, cluster): role in
    ('core','border','noise'); cluster = min point id of the component
    (NULL for noise). Deterministic — see module doc for the border rule.
    """
    if eps <= 0 or min_pts < 1:
        raise ValueError("eps must be > 0 and min_pts >= 1")

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(x).cast("bigint").alias("x"),
        F.col(y).cast("bigint").alias("y"),
    )
    eps2 = eps * eps
    # side <= eps/sqrt(2) makes in-cell pairs mutually <= eps
    side = max(1, int(eps / math.sqrt(2.0)))
    reach = -(-eps // side)  # ceil(eps/side)

    keyed = _with_cell(pts, side)
    cell_stats = keyed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("c_cnt"), F.min("id").alias("c_root")
    )
    keyed = keyed.join(cell_stats, "cell")
    is_dense = F.col("c_cnt") >= min_pts
    dense_pts = keyed.filter(is_dense)
    sparse_ids = keyed.filter(~is_dense).select("id")

    # probe relations. Sparse points probe every offset (their probes are
    # the complete evidence for their own degree, their core neighbors —
    # the border rule — and every sparse-X pair). Dense points are core by
    # construction and every dense-sparse pair already arrives from the
    # sparse side, so dense probes exist ONLY to connect dense cells to
    # each other: they skip the (0,0) offset (the quadratic in-cell hot
    # spot — replaced by the cell count + contraction below), take only
    # the lexicographically-positive half of the offsets (each unordered
    # cell pair enumerated once, halving the candidate volume), and join
    # against dense cells only.
    off = F.sequence(F.lit(-reach), F.lit(reach))

    def _explode_probes(df, offset_pred):
        return (
            df.withColumn("_dx", F.explode(off))
            .withColumn("_dy", F.explode(off))
            .filter(offset_pred)
            .select(
                F.col("id").alias("ida"),
                F.col("x").alias("xa"),
                F.col("y").alias("ya"),
                (F.col("cell") + F.col("_dx") * _PACK + F.col("_dy"))
                .cast("bigint")
                .alias("cell"),
            )
        )

    dist_ok = (
        (F.col("xa") - F.col("x")) * (F.col("xa") - F.col("x"))
        + (F.col("ya") - F.col("y")) * (F.col("ya") - F.col("y"))
        <= eps2
    )
    # materialized once: degree, edge extraction, and the border rule all
    # reuse it (the checkpointed-relation pattern of operators/timeseries.py
    # — without it Catalyst re-executes the probe join per consumer)
    pairs = (
        _explode_probes(keyed.filter(~is_dense), F.lit(True))
        .join(keyed.select("cell", "id", "x", "y"), "cell")
        .filter(dist_ok)
        .select("ida", F.col("id").alias("idb"))
        .localCheckpoint(eager=True)
    )
    half = (F.col("_dx") > 0) | ((F.col("_dx") == 0) & (F.col("_dy") > 0))
    dd_pairs = (
        _explode_probes(dense_pts, half)
        .join(
            keyed.filter(is_dense).select("cell", "id", "x", "y"), "cell"
        )
        .filter(dist_ok)
        .select("ida", F.col("id").alias("idb"))
    )

    # coreness: dense-cell members by construction; sparse by exact degree
    # (their probes DO include the self cell, so the count is complete)
    deg = pairs.groupBy("ida").agg(F.count(F.lit(1)).alias("cnt"))
    sparse_core = (
        deg.join(sparse_ids.withColumnRenamed("id", "ida"), "ida")
        .filter(F.col("cnt") >= min_pts)
        .select(F.col("ida").alias("id"))
    )
    core = dense_pts.select("id").unionByName(sparse_core).localCheckpoint(
        eager=True
    )

    # contraction: every dense cell collapses to its min-id root BEFORE the
    # iterative labeling — a quotient of the core-core eps-graph with
    # identical components (in-cell edges are total, so the cell is one
    # blob), ~|dense members|/|dense cells| fewer CC nodes and no in-cell
    # star edges at all. Roots are real point ids (cell min), so the
    # component minimum is unchanged.
    node_root = dense_pts.select("id", F.col("c_root").alias("root")).unionByName(
        sparse_core.select("id", F.col("id").alias("root"))
    )
    # duplicates/self-pairs are fine here: connected_components normalizes
    # to distinct undirected edges as its first step
    cross_edges = (
        pairs.unionByName(dd_pairs)
        .join(
            node_root.select(F.col("id").alias("ida"), F.col("root").alias("ra")),
            "ida",
        )
        .join(
            node_root.select(F.col("id").alias("idb"), F.col("root").alias("rb")),
            "idb",
        )
        .filter(F.col("ra") != F.col("rb"))
        .select("ra", "rb")
    )

    cc = connected_components(cross_edges, "ra", "rb")
    # roots untouched by any cross edge are singleton components
    roots = node_root.select("root").distinct()
    root_labels = cc.unionByName(
        roots.join(cc, roots.root == cc.node, "left_anti").select(
            F.col("root").alias("node"), F.col("root").alias("component")
        )
    )
    core_labels = node_root.join(
        root_labels.select(F.col("node").alias("root"), "component"), "root"
    ).select("id", F.col("component").alias("cluster"))

    # border: non-core with a core neighbor -> minimum core-neighbor label
    border = (
        pairs.join(core_labels.withColumnRenamed("id", "idb"), "idb")
        .join(core.withColumnRenamed("id", "ida"), "ida", "left_anti")
        .groupBy("ida")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("ida").alias("id"), "cluster")
    )

    return (
        pts.join(core_labels.withColumnRenamed("cluster", "_ccl"), "id", "left")
        .join(border.withColumnRenamed("cluster", "_bcl"), "id", "left")
        .select(
            "id",
            "x",
            "y",
            F.when(F.col("_ccl").isNotNull(), F.lit("core"))
            .when(F.col("_bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("_ccl", "_bcl").alias("cluster"),
        )
    )


# ---------------------------------------------------------------------------
# Lloyd k-means: the centroid-based counterpart (semantic-dedup /
# embedding-clustering primitive; the full distributed version of the
# bounded-sample centroid fit operators/similarity.py::ann_ivf uses)
# ---------------------------------------------------------------------------


def kmeans_assign(pts: DataFrame, dims: list, centroids: list, k: int) -> DataFrame:
    """Assign each point to its nearest centroid — ONE codegen projection.

    `centroids` is a bounded [(j, coord tuple), ...] list (k rows, the
    per-round driver collect this family shares with the IVF sample fit);
    the argmin over candidates is the packed-integer trick from the zonal
    majority operator: min over j of (d2 * k + j), so ties break to the
    smallest cluster id deterministically in every engine.  No join, no
    shuffle — the candidate ladder is a literal expression.
    """
    packs = []
    for j, cs in centroids:
        d2 = None
        for d, c in zip(dims, cs):
            t = (F.col(d) - F.lit(int(c))) * (F.col(d) - F.lit(int(c)))
            d2 = t if d2 is None else d2 + t
        packs.append(d2 * k + F.lit(j))
    pk = F.least(*packs) if len(packs) > 1 else packs[0]
    out = pts.withColumn("_pk", pk)
    return out.select(
        *pts.columns,
        (F.col("_pk") % k).alias("cluster"),
        ((F.col("_pk") - F.col("_pk") % k) / k).cast("long").alias("d2"),
    )


def kmeans_lloyd(
    pts: DataFrame, dims: list, init: list, rounds: int
) -> DataFrame:
    """Exact-integer Lloyd iterations, fully distributed per round.

    Each round is: literal-ladder assignment (no shuffle) + ONE hash
    aggregate collecting k rows to the driver (bounded, like the IVF
    sample fit).  Centroid update is the FLOORED per-dimension mean
    (Python `//` == the signed-mod floor both engines replicate), so
    every round is engine-exact and a DuckDB twin can unroll the same
    rounds as CTEs.  Empty clusters DROP from the candidate list (the
    natural SQL semantics — an empty cluster has no centroid row);
    surviving ids keep their original j, so labels are stable.

    Returns the assignment after `rounds` updates: pts columns +
    (cluster, d2).  At 100 TB each round is one pass over the points
    with a k-row result — the collect is O(k * dims), never O(n).
    """
    k = len(init)
    cents = [(j, tuple(int(c) for c in cs)) for j, cs in enumerate(init)]
    for _ in range(rounds):
        agg = (
            kmeans_assign(pts, dims, cents, k)
            .groupBy("cluster")
            .agg(
                *[F.sum(d).alias(f"s_{d}") for d in dims],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        cents = sorted(
            (int(r["cluster"]), tuple(int(r[f"s_{d}"]) // int(r["n"]) for d in dims))
            for r in agg
        )
    return kmeans_assign(pts, dims, cents, k)
