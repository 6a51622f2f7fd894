"""Way x boundary-polygon containment/intersection join (north-star op).

The north rule names "point-in-polygon containment of node/way geometries
against boundary polygons"; nodes are covered by the E8 PIP refine
(`pip_triangles`), this operator covers WAY geometries: a LineString
intersects a ring iff any of its vertices is inside (even-odd) or any
segment properly crosses a ring edge — both tests vectorized in one Arrow
kernel (`functions/spatial.py::polyline_polygon_intersects`).

Scale posture: the boundary table is the classic small dim side (a few
thousand admin polygons vs billions of ways) — broadcast, J4 pattern —
with a JVM-side envelope-overlap pre-filter so the kernel sees only
plausible pairs; for a LARGE boundary table the same kernel composes with
the J3 tile-cover join instead (cover both sides, equi-join on cell, then
refine per pair), exactly like the reference composes its filter stage
with TileRasterizer refine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def way_polygon_join(ways: DataFrame, polygons: DataFrame) -> DataFrame:
    """ways(way_id, xs, ys) x polygons(boundary_id, pxs, pys) ->
    (way_id, boundary_id) pairs that intersect.

    `pxs`/`pys` are the ring vertices WITHOUT the closing repeat (closure
    is implicit, as in the PIP kernel).
    """
    w = ways.select(
        "way_id", "xs", "ys",
        F.array_min("xs").alias("_wx0"), F.array_max("xs").alias("_wx1"),
        F.array_min("ys").alias("_wy0"), F.array_max("ys").alias("_wy1"),
    )
    p = polygons.select(
        "boundary_id", "pxs", "pys",
        F.array_min("pxs").alias("_px0"), F.array_max("pxs").alias("_px1"),
        F.array_min("pys").alias("_py0"), F.array_max("pys").alias("_py1"),
    )
    # envelope pre-filter (necessary condition, JVM-side) on the broadcast
    # cross join: only plausible pairs reach the Python kernel
    cand = w.join(
        F.broadcast(p),
        (F.col("_wx0") <= F.col("_px1")) & (F.col("_px0") <= F.col("_wx1"))
        & (F.col("_wy0") <= F.col("_py1")) & (F.col("_py0") <= F.col("_wy1")),
    ).select("way_id", "xs", "ys", "boundary_id", "pxs", "pys")

    def refine(batches):
        from osm_hadoop_spark.functions.spatial import polyline_polygon_intersects

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            wc = pdf["xs"].str.len().to_numpy(dtype=np.int64)
            pc = pdf["pxs"].str.len().to_numpy(dtype=np.int64)
            hit = polyline_polygon_intersects(
                np.concatenate(pdf["xs"].to_numpy()),
                np.concatenate(pdf["ys"].to_numpy()),
                wc,
                np.concatenate(pdf["pxs"].to_numpy()),
                np.concatenate(pdf["pys"].to_numpy()),
                pc,
            )
            yield pd.DataFrame({
                "way_id": pdf["way_id"].to_numpy()[hit],
                "boundary_id": pdf["boundary_id"].to_numpy()[hit],
            })

    return cand.mapInPandas(refine, schema="way_id bigint, boundary_id bigint")


def point_multipolygon_join(
    points: DataFrame,
    polygons: DataFrame,
    cell_size: float = 32.0,
    max_cells_per_zone: int | None = 65536,
) -> DataFrame:
    """points(node_id, px, py) x polygons(zone_id, oxs, oys, hxs, hys) ->
    (node_id, zone_id) pairs where the point lies in the outer ring and in
    NONE of the hole rings (E8 with holes — the read side of J2''
    multipolygon assembly).

    `oxs`/`oys`: outer ring open form (no closing repeat). `hxs`/`hys`:
    array<array<double>> of hole rings (possibly empty).

    Candidates come from a computable integer-grid key (J5 pattern —
    floor(coord / cell_size), packed) on the points and a JVM
    explode(sequence) grid cover of each zone envelope, EQUI-joined on the
    cell key, then a zone_id join back for the ring arrays. Every stage is
    keyed, so cost scales with matching cells, not |points| x |zones|
    (an envelope-range BroadcastNestedLoopJoin measured 2.2x slower
    already at sf0.1 with 137k zones, see PARITY.md). Pick cell_size ~ the
    typical zone diameter so a zone covers O(1) cells.

    The refine is one Arrow kernel: outer PIP over the candidate pairs,
    then hole PIP over the (pair, hole) flattening with an any-hit
    reduction — no per-row Python.
    """
    g = float(cell_size)
    # pack (cx, cy) into one long: grid spans are bounded by the
    # lon/lat-scaled domain, 2^21 cells per axis is plenty
    def key(cx, cy):
        return (cx.cast("long") + F.lit(1 << 20)) * F.lit(1 << 21) + (
            cy.cast("long") + F.lit(1 << 20)
        )

    pts = points.select(
        "node_id", "px", "py",
        key(F.floor(F.col("px") / g), F.floor(F.col("py") / g)).alias("_cell"),
    )
    env = polygons.select(
        "zone_id",
        F.floor(F.array_min("oxs") / g).cast("long").alias("_cx0"),
        F.floor(F.array_max("oxs") / g).cast("long").alias("_cx1"),
        F.floor(F.array_min("oys") / g).cast("long").alias("_cy0"),
        F.floor(F.array_max("oys") / g).cast("long").alias("_cy1"),
    )
    if max_cells_per_zone is not None:
        # same anti-corruption guard as assign_tiles' cover cap:
        # one world-spanning zone (or a cell_size far below the zone
        # diameter) must not flood the join — or hit sequence()'s hard
        # length limit — from a single row
        env = env.filter(
            (F.col("_cx1") - F.col("_cx0") + 1)
            * (F.col("_cy1") - F.col("_cy0") + 1)
            <= F.lit(int(max_cells_per_zone))
        )
    zcells = env.select(
        "zone_id", F.explode(F.sequence("_cx0", "_cx1")).alias("_cx"),
        "_cy0", "_cy1",
    ).select(
        "zone_id", "_cx", F.explode(F.sequence("_cy0", "_cy1")).alias("_cy")
    ).select("zone_id", key(F.col("_cx"), F.col("_cy")).alias("_cell"))
    cand = (
        pts.join(zcells, "_cell")
        .join(polygons, "zone_id")
        .select("node_id", "px", "py", "zone_id", "oxs", "oys", "hxs", "hys")
    )

    def refine(batches):
        from osm_hadoop_spark.functions.spatial import point_in_polygon_pairs

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            px = pdf["px"].to_numpy(dtype=np.float64)
            py = pdf["py"].to_numpy(dtype=np.float64)
            oc = pdf["oxs"].str.len().to_numpy(dtype=np.int64)
            inside = point_in_polygon_pairs(
                px, py,
                np.concatenate(pdf["oxs"].to_numpy()),
                np.concatenate(pdf["oys"].to_numpy()),
                oc,
            )
            # hole exclusion over the surviving pairs: flatten (pair, hole)
            sub = pdf[inside]
            if sub.shape[0]:
                spx = px[inside]
                spy = py[inside]
                n_holes = sub["hxs"].str.len().to_numpy(dtype=np.int64)
                if n_holes.sum() > 0:
                    owner = np.repeat(np.arange(sub.shape[0]), n_holes)
                    hx_flat = [h for hs in sub["hxs"] for h in hs]
                    hy_flat = [h for hs in sub["hys"] for h in hs]
                    hc = np.array([len(h) for h in hx_flat], dtype=np.int64)
                    in_hole = point_in_polygon_pairs(
                        spx[owner], spy[owner],
                        np.concatenate(hx_flat), np.concatenate(hy_flat), hc,
                    )
                    holed = np.zeros(sub.shape[0], dtype=bool)
                    np.logical_or.at(holed, owner, in_hole)
                    sub = sub[~holed]
            yield pd.DataFrame({
                "node_id": sub["node_id"].to_numpy(),
                "zone_id": sub["zone_id"].to_numpy(),
            })

    return cand.mapInPandas(refine, schema="node_id bigint, zone_id bigint")
