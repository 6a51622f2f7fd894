"""Multipolygon assembly from relation member rings (north-star addition).

Completes the relation-assembly story (operators/relation_assembly.py): OSM
multipolygon relations carry `outer` / `inner` member ways — closed rings or
open fragments — that must be chained into rings, orientation-normalized,
and holes assigned to their containing outer ring. The reference never gets
here (its dispatch drops relations, NodeJoiner.scala:110,136); the north
rule's "way/relation assembly" and "point-in-polygon containment" both need
assembled polygons, so this is the construction side of E8.

Distributed shape: ONE bounded shuffle on rel_id, then pure NumPy per
relation — the documented exception case where built-in operators can't
express the semantics (endpoint chaining is inherently sequential *within*
a relation, and relations are small: OSM caps member lists, so groups are
O(tens)). No driver collect, no cross-relation state.

Physical shape: `repartition(rel_id)` + `mapInPandas` that buffers the
partition, argsorts by rel_id, and slices groups from the raw object
arrays. Spark's per-group pandas-DataFrame construction in a
`groupBy(rel_id).applyInPandas` measured ~1 ms x 15k tiny groups (13.5 s
of an 18.6 s stage at sf0.1, local[8]); this path pays it once per
partition instead. Buffering is bounded by the shuffle partition size
(slim rows — tune spark.sql.shuffle.partitions at scale exactly as for a
sort).

Deterministic contract (mirrored by the driver's DuckDB oracle):
  - members sorted within the relation before chaining (role, first vertex);
  - canonical rings (functions/rings.py): outer CCW, holes CW, lex-min start;
  - duplicate ring bodies deduplicated per relation;
  - each hole assigned to the containing outer ring minimizing
    (|area2|, body-string); holes with no container are dropped (counted);
  - polygon bodies '((outer), (hole)...)' with holes body-sorted; the
    MULTIPOLYGON lists polygon bodies body-sorted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_OUT_SCHEMA = (
    "rel_id bigint, n_polys int, n_holes int, n_dropped int, "
    "area2 bigint, geometry_wkt string"
)

_OUT_COLS = ["rel_id", "n_polys", "n_holes", "n_dropped", "area2", "geometry_wkt"]


def _assemble_rel(rel_id: int, roles, xs_list, ys_list) -> tuple:
    """One relation -> one output tuple (pure NumPy/Python, no pandas)."""
    from osm_hadoop_spark.functions.rings import (
        canonical_ring,
        chain_segments,
        ring_body,
    )
    from osm_hadoop_spark.functions.spatial import point_in_polygon_pairs

    # deterministic member order regardless of shuffle arrival; the key ends
    # with the raw coordinate bytes so members agreeing on (role, first
    # vertex, length) still order totally (IEEE-bit order, not numeric —
    # any total order does)
    members = sorted(
        (
            (r, float(x[0]), float(y[0]), len(x), x, y)
            for x, y, r in zip(xs_list, ys_list, roles)
        ),
        key=lambda t: (
            t[0], t[1], t[2], t[3],
            np.asarray(t[4], dtype=np.float64).tobytes(),
            np.asarray(t[5], dtype=np.float64).tobytes(),
        ),
    )

    chained: dict[str, tuple[list, int]] = {}
    for role in ("outer", "inner"):
        segs = [
            (np.asarray(t[4], dtype=np.float64), np.asarray(t[5], dtype=np.float64))
            for t in members
            if t[0] == role
        ]
        chained[role] = chain_segments(segs)

    outers: dict[str, tuple[np.ndarray, np.ndarray, float]] = {}
    for xs, ys in chained["outer"][0]:
        cx, cy, a2 = canonical_ring(xs, ys, ccw=True)
        outers.setdefault(ring_body(cx, cy), (cx, cy, a2))
    holes: dict[str, tuple[np.ndarray, np.ndarray, float]] = {}
    for xs, ys in chained["inner"][0]:
        cx, cy, a2 = canonical_ring(xs, ys, ccw=False)
        holes.setdefault(ring_body(cx, cy), (cx, cy, a2))

    n_dropped = chained["outer"][1] + chained["inner"][1]
    if not outers:
        return (rel_id, 0, 0, n_dropped + len(holes), 0, None)

    obodies = sorted(outers)  # body-string order = polygon order
    # hole -> owner: containing outer minimizing (|area2|, body)
    cand_order = sorted(obodies, key=lambda b: (outers[b][2], b))
    flat_x = [outers[b][0] for b in cand_order]
    flat_y = [outers[b][1] for b in cand_order]
    counts = np.array([len(x) for x in flat_x], dtype=np.int64)
    pxs = np.concatenate(flat_x)
    pys = np.concatenate(flat_y)

    assigned: dict[str, list[str]] = {b: [] for b in obodies}
    hole_area: dict[str, float] = {b: 0.0 for b in obodies}
    n_holes = 0
    for hb in sorted(holes):
        hx, hy, ha2 = holes[hb]
        inside = point_in_polygon_pairs(
            np.full(len(cand_order), hx[0]),
            np.full(len(cand_order), hy[0]),
            pxs,
            pys,
            counts,
        )
        hit = np.flatnonzero(inside)
        if hit.size == 0:
            n_dropped += 1
            continue
        owner = cand_order[int(hit[0])]
        assigned[owner].append(hb)
        hole_area[owner] += ha2
        n_holes += 1

    bodies = []
    area2 = 0.0
    for b in obodies:
        hs = assigned[b]
        bodies.append("(" + ", ".join([b] + hs) + ")")
        area2 += outers[b][2] - hole_area[b]
    return (
        rel_id,
        len(obodies),
        n_holes,
        n_dropped,
        int(round(area2)),
        "MULTIPOLYGON (" + ", ".join(bodies) + ")",
    )


def _assemble_partition(batches):
    """Buffer a rel_id-partitioned stream, slice groups straight from the
    raw object arrays (no per-group DataFrame), emit one frame."""
    pdfs = [p for p in batches if p.shape[0]]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    rel = pdf["rel_id"].to_numpy()
    order = np.argsort(rel, kind="stable")
    rel = rel[order]
    roles = pdf["role"].to_numpy()[order]
    xs = pdf["xs"].to_numpy()[order]
    ys = pdf["ys"].to_numpy()[order]
    starts = np.flatnonzero(np.r_[True, rel[1:] != rel[:-1]])
    bounds = np.r_[starts, len(rel)]
    rows = [
        _assemble_rel(
            int(rel[lo]), roles[lo:hi], xs[lo:hi], ys[lo:hi]
        )
        for lo, hi in zip(bounds[:-1], bounds[1:])
    ]
    yield pd.DataFrame(rows, columns=_OUT_COLS)


def assemble_multipolygons(members: DataFrame) -> DataFrame:
    """members(rel_id, role in {'outer','inner'}, xs, ys) -> one row per
    relation: (rel_id, n_polys, n_holes, n_dropped, area2, geometry_wkt).

    area2 = 2 * total polygon area (outer minus assigned holes) — exact on
    lattice coordinates, hence the bigint (the driver oracle recomputes it
    arithmetically). Physical shape: see module doc.
    """
    return members.repartition("rel_id").mapInPandas(
        _assemble_partition, schema=_OUT_SCHEMA
    )
