"""J3: way x tile filter-and-refine spatial join, plus A4/A6 aggregations.

Reference semantics (three zoom variants, SURVEY.md J3):
  - enumerate candidate tiles for the geometry envelope
    (TmsTileCalculator.tilesForEnvelope, RoadlessRoadCount.scala:144),
  - refine with an exact intersects test against the tile envelope polygon
    (OperatorIntersects, :147-149),
  - emit (tile, payload); reduce = count (A4, :168-206) or bitset
    OR-composite (A6, RoadlessRasterizeMapSide.scala:142-166).
  - the z13 path buffers the way first (OperatorBuffer 0.008333 deg, :97,108).

Spark-first shape (the north rule's two-stage partitioned join):
  stage 1: cell cover + exact refine (segment-box separating-axis /
           distance kernels) — emits only surviving (cell, way) pairs, so
           the shuffle carries no false positives. Two pair-identical
           kernels: `cover_impl="jvm"` (the flagship's, whole-stage codegen,
           no Python workers) and `cover_impl="arrow"` (one vectorized
           mapInPandas, NumPy slippy polyfill);
  stage 2: native hash aggregate on the packed cell key.

Buffered variant: instead of materializing buffer polygons (shapely-free
env), a tile intersects buffer(line, d) EXACTLY when dist(line, tile_box)
<= d — segment-to-box distance kernel; same result set as the reference's
buffer+intersects, without polygon construction.

Skew: dense cells (urban areas) concentrate pairs. The count aggregate
combines map-side on its own; the bitset OR gets no partial aggregation,
so `or_composite_bitsets(salted=True)` pre-combines per (tile, salt) then
merges — the explicit salt path demanded by the north rule. AQE skew-join
handles the join side.

Degenerate input: geometries with an empty coordinate array are dropped
before the cover, so both cover kernels return the same pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_hadoop_spark.config import TILE_SIZE

# JVM tile math shared with the streaming path — one home, one proof
from osm_hadoop_spark.functions.tiles_sql import (
    sql_pack_tile,
    sql_point_box_clamp_dist_sq,
    sql_segment_box_dist_sq,
    sql_segment_box_hit,
    sql_tile_bounds_xyz,
    sql_xtile,
    sql_ytile,
)

# assign_tiles' anti-corruption guard: a geometry whose envelope cover
# exceeds this many cells is dropped before enumeration
MAX_CELLS_PER_GEOM = 65536


def _sql_segment_rows(
    env: DataFrame, id_col: str = "_id", carry: tuple[str, ...] = ()
) -> DataFrame:
    """env(_id, xs, ys, ...) -> one row per polyline segment
    (_id, *carry, ax, ay, bx, by). Single-vertex 'lines' become one
    degenerate a==b segment — the separating-axis test and the distance
    kernels both reduce to the point forms on it (bbox check ==
    point-in-box; seg-seg distance == point-edge distance), so one
    predicate serves every vertex count."""
    n = F.size("xs")
    segs = F.when(
        n == 1,
        F.array(
            F.struct(
                F.element_at("xs", 1).alias("ax"), F.element_at("ys", 1).alias("ay"),
                F.element_at("xs", 1).alias("bx"), F.element_at("ys", 1).alias("by"),
            )
        ),
    ).otherwise(
        F.arrays_zip(
            F.slice("xs", 1, n - 1).alias("ax"), F.slice("ys", 1, n - 1).alias("ay"),
            F.slice("xs", 2, n - 1).alias("bx"), F.slice("ys", 2, n - 1).alias("by"),
        )
    )
    return env.select(id_col, *carry, F.explode(segs).alias("_s")).select(
        id_col, *carry,
        F.col("_s.ax").alias("ax"), F.col("_s.ay").alias("ay"),
        F.col("_s.bx").alias("bx"), F.col("_s.by").alias("by"),
    )


def _flat_coords(pdf: pd.DataFrame):
    counts = pdf["xs"].str.len().to_numpy(dtype=np.int64)
    xs = np.concatenate(pdf["xs"].to_numpy()) if counts.sum() else np.zeros(0)
    ys = np.concatenate(pdf["ys"].to_numpy()) if counts.sum() else np.zeros(0)
    return xs, ys, counts


def assign_tiles(
    ways: DataFrame,
    zoom: int,
    tms: bool = True,
    buffer_deg: float = 0.0,
    refine: bool = True,
    cover_impl: str = "arrow",
) -> DataFrame:
    """ways(way_id, xs, ys) -> (way_id, tile_id) surviving pairs.

    `refine=False` returns the raw envelope cover (the filter stage only).
    Geometries whose envelope cover exceeds MAX_CELLS_PER_GEOM cells are
    dropped BEFORE enumeration — the anti-corruption guard for fixed-zoom
    covers (same rationale as the reference's F6 length guard,
    WayRasterizer.scala:165-168): one corrupt world-spanning geometry would
    otherwise materialize millions of candidate pairs inside a single task.

    `cover_impl="jvm"` runs the whole cover AND the exact refine (buffered
    or not) in whole-stage codegen — no Arrow transfer, no Python workers
    anywhere. Round 5 reshaped the refine from an `exists()` HOF over the
    envelope cover into a segment-explode pipeline, for two reasons:
    (a) HOF lambdas are CodegenFallback — evaluated interpreted per
    element, ~2x slower than the Arrow kernel in the round-4 A/B — while
    every expression below is plain codegen; (b) enumerating candidates
    per SEGMENT bbox instead of per way envelope shrinks the candidate set
    from O(envelope area) to O(tiles actually near the line) — the
    asymptotically right cover for long diagonal ways at high zoom. Shape:
    envelope guard -> explode segments (arrays_zip of slices) -> explode
    each segment's own tile cover -> exact separating-axis test (buffered:
    exact distance kernels) -> groupBy-dedupe on (id, tile). The dedupe
    aggregation partial-combines map-side, so the shuffle carries exactly
    the surviving distinct pairs. Pair set is identical to the arrow path
    on every pinned fixture and sweep input (test_tile_join; the claim's
    ulp scope on arbitrary data is documented at
    tiles_sql.sql_tile_bounds_xyz)."""
    zoom = int(zoom)
    tms_f = bool(tms)
    buf = float(buffer_deg)
    do_refine = bool(refine)

    # an empty coordinate array has no envelope: drop it before either kernel
    src = ways.select(F.col("way_id").alias("_id"), "xs", "ys").filter(F.size("xs") > 0)

    if cover_impl not in ("arrow", "jvm"):
        raise ValueError(f"unknown cover_impl {cover_impl!r} (use 'arrow' or 'jvm')")
    if cover_impl == "jvm":
        env = src.select(
            "_id",
            "xs",
            "ys",
            sql_xtile(F.array_min("xs") - buf, zoom).alias("tx0"),
            sql_xtile(F.array_max("xs") + buf, zoom).alias("tx1"),
            # xyz y grows southward: north edge (lat_max) has the smaller y
            sql_ytile(F.array_max("ys") + buf, zoom).alias("ty0"),
            sql_ytile(F.array_min("ys") - buf, zoom).alias("ty1"),
        )
        # guard stays on the WAY envelope (identical semantics to the
        # Arrow kernel) even though the refine covers per segment below
        env = env.filter(
            (F.col("tx1") - F.col("tx0") + 1) * (F.col("ty1") - F.col("ty0") + 1)
            <= F.lit(MAX_CELLS_PER_GEOM)
        )
        if not do_refine:
            pairs = env.select(
                "_id", F.explode(F.sequence("tx0", "tx1")).alias("xt"), "ty0", "ty1"
            ).select("_id", "xt", F.explode(F.sequence("ty0", "ty1")).alias("yt"))
            yt = ((1 << zoom) - 1) - F.col("yt") if tms_f else F.col("yt")
            return pairs.select(
                F.col("_id").alias("way_id"),
                sql_pack_tile(zoom, F.col("xt"), yt).alias("tile_id"),
            )
        segs = _sql_segment_rows(env, carry=("tx0", "tx1", "ty0", "ty1"))
        # Per-SEGMENT candidate cover, made EXACTLY equivalent to the
        # oracle/Arrow candidate semantics (way-envelope forward cover,
        # then refine) by two corrections:
        #  (1) CLIP to the way-envelope cover [tx0..tx1]x[ty0..ty1] — the
        #      forward floor mapping sends an exactly-on-boundary
        #      coordinate UP into the next tile, so the inclusive refine
        #      can accept a merely-touched tile one step below/left of a
        #      segment's forward cover; such a tile is a candidate in the
        #      envelope semantics only if it lies inside the ENVELOPE
        #      forward cover, so the clip restores the reference set.
        #  (2) EXTEND each segment cover by one tile per side exactly when
        #      that neighbor tile could pass the refine's (inclusive)
        #      bbox-overlap — tested with the SAME inverse tile-bound
        #      expressions the refine evaluates, so the decision is
        #      bit-identical to the refine's own. A two-tile extension
        #      would need a forward/inverse boundary disagreement of a
        #      full tile (boundaries differ by >> 1 ulp), so one suffices.
        # For buffered covers the accept test is distance-based, so the
        # one-tile extension is applied unconditionally (a float-rounded
        # distance can only admit tiles within an ulp of the expanded
        # bbox, never a full tile away); the envelope clip still applies.
        sxmin = F.least("ax", "bx") - buf
        sxmax = F.greatest("ax", "bx") + buf
        symin = F.least("ay", "by") - buf
        symax = F.greatest("ay", "by") + buf
        sx0 = sql_xtile(sxmin, zoom)
        sx1 = sql_xtile(sxmax, zoom)
        sy0 = sql_ytile(symax, zoom)
        sy1 = sql_ytile(symin, zoom)
        if buf > 0:
            ext_l = ext_r = ext_t = ext_b = F.lit(1).cast("bigint")
        else:
            one = F.lit(1).cast("bigint")
            zero = F.lit(0).cast("bigint")
            ext_l = F.when(
                sql_tile_bounds_xyz(zoom, sx0 - 1, sy0)[2] >= sxmin, one
            ).otherwise(zero)
            ext_r = F.when(
                sql_tile_bounds_xyz(zoom, sx1 + 1, sy0)[0] <= sxmax, one
            ).otherwise(zero)
            ext_t = F.when(
                sql_tile_bounds_xyz(zoom, sx0, sy0 - 1)[1] <= symax, one
            ).otherwise(zero)
            ext_b = F.when(
                sql_tile_bounds_xyz(zoom, sx0, sy1 + 1)[3] >= symin, one
            ).otherwise(zero)
        segc = segs.select(
            "_id", "ax", "ay", "bx", "by",
            F.greatest(sx0 - ext_l, F.col("tx0")).alias("sx0"),
            F.least(sx1 + ext_r, F.col("tx1")).alias("sx1"),
            F.greatest(sy0 - ext_t, F.col("ty0")).alias("sy0"),
            F.least(sy1 + ext_b, F.col("ty1")).alias("sy1"),
        )
        cand = segc.select(
            "_id", "ax", "ay", "bx", "by",
            F.explode(F.sequence("sx0", "sx1")).alias("xt"), "sy0", "sy1",
        ).select(
            "_id", "ax", "ay", "bx", "by", "xt",
            F.explode(F.sequence("sy0", "sy1")).alias("yt"),
        )
        bxmin, bymin, bxmax, bymax = sql_tile_bounds_xyz(
            zoom, F.col("xt"), F.col("yt")
        )
        a = (F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
        if buf > 0:
            # exact buffered refine: same accept set as the Arrow kernel's
            # min(segment-edge distances, vertex-clamp distances) <= buf^2 —
            # the per-segment OR over both distance families distributes the
            # Arrow kernel's per-way min over the segment rows exactly
            b2 = F.lit(buf * buf)
            hit = (
                (sql_segment_box_dist_sq(*a, bxmin, bymin, bxmax, bymax) <= b2)
                | (sql_point_box_clamp_dist_sq(a[0], a[1], bxmin, bymin, bxmax, bymax) <= b2)
                | (sql_point_box_clamp_dist_sq(a[2], a[3], bxmin, bymin, bxmax, bymax) <= b2)
            )
        else:
            hit = sql_segment_box_hit(*a, bxmin, bymin, bxmax, bymax)
        yt = ((1 << zoom) - 1) - F.col("yt") if tms_f else F.col("yt")
        return (
            cand.filter(hit)
            .groupBy(
                F.col("_id").alias("way_id"),
                sql_pack_tile(zoom, F.col("xt"), yt).alias("tile_id"),
            )
            .agg(F.lit(1).alias("_one"))
            .drop("_one")
        )

    def emit(batches):
        import sys

        from osm_hadoop_spark.functions.geometry import envelopes_flat
        from osm_hadoop_spark.functions.spatial import (
            polyline_box_dist_sq,
            polyline_box_intersects,
        )
        from osm_hadoop_spark.functions.tiles import (
            _xtile,
            _ytile,
            tile_bounds,
            tiles_for_envelope_flat,
        )

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            xs, ys, counts = _flat_coords(pdf)
            xmin, ymin, xmax, ymax = envelopes_flat(xs, ys, counts)
            nx = _xtile(xmax + buf, zoom) - _xtile(xmin - buf, zoom) + 1
            ny = _ytile(ymin - buf, zoom) - _ytile(ymax + buf, zoom) + 1
            ok = nx * ny <= MAX_CELLS_PER_GEOM
            if not ok.all():
                print(
                    f"assign_tiles: dropped {int((~ok).sum())} geometries "
                    f"exceeding {MAX_CELLS_PER_GEOM} cells at z{zoom}",
                    file=sys.stderr,
                )
                if not ok.any():
                    continue  # the envelope cover below needs >= 1 geometry
                keep_coord = np.repeat(ok, counts)
                xs, ys, counts = xs[keep_coord], ys[keep_coord], counts[ok]
                pdf = pdf.loc[ok].reset_index(drop=True)
                xmin, ymin, xmax, ymax = xmin[ok], ymin[ok], xmax[ok], ymax[ok]
            tiles, env_idx = tiles_for_envelope_flat(
                xmin - buf, ymin - buf, xmax + buf, ymax + buf, zoom, tms=tms_f
            )
            ids = pdf["_id"].to_numpy()[env_idx]
            if do_refine and tiles.shape[0]:
                bxmin, bymin, bxmax, bymax = tile_bounds(tiles, tms=tms_f)
                # repeat each way's coords once per its candidate tile
                pair_counts = counts[env_idx]
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                take = np.repeat(starts[env_idx], pair_counts) + (
                    np.arange(int(pair_counts.sum()))
                    - np.repeat(np.concatenate(([0], np.cumsum(pair_counts)[:-1])), pair_counts)
                )
                pxs, pys = xs[take], ys[take]
                if buf > 0:
                    d2 = polyline_box_dist_sq(pxs, pys, pair_counts, bxmin, bymin, bxmax, bymax)
                    keep = d2 <= buf * buf
                else:
                    keep = polyline_box_intersects(pxs, pys, pair_counts, bxmin, bymin, bxmax, bymax)
                tiles, ids = tiles[keep], ids[keep]
            yield pd.DataFrame({"_id": ids, "tile_id": tiles})

    out = src.mapInPandas(emit, schema="_id long, tile_id bigint")
    return out.withColumnRenamed("_id", "way_id")


def tile_counts(assigned: DataFrame) -> DataFrame:
    """A4: intersecting-way count per tile (RoadlessRoadCount reduce :190-193).

    COUNT is algebraic — Spark's partial aggregation already combines
    map-side, so a hot tile never funnels its raw pairs through one task.
    """
    return assigned.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n_ways"))


def rasterize_tile_bitsets(
    ways: DataFrame,
    zoom: int,
    buffer_deg: float,
    tms: bool = True,
) -> DataFrame:
    """Per-(way, tile): burn the buffered way into a tile-local bitmask.

    Reference: RoadlessRasterizeMapSide.scala:99-134 (buffer -> z13 tiles ->
    TileRasterizer into a 256x256 bitset, snappy-compressed). Here: a pixel
    is set iff its CENTER lies within `buffer_deg` of the polyline — the
    exact round-capped buffer region, computed by the point-to-polyline
    distance kernel (no polygon approximation). Output bitset is packed
    bits (TILE_SIZE*TILE_SIZE/8 bytes); shuffle compression replaces Snappy
    (E15 — spark.shuffle.compress).
    """
    zoom = int(zoom)
    tms_f = bool(tms)
    buf = float(buffer_deg)

    assigned = assign_tiles(ways, zoom, tms=tms_f, buffer_deg=buf)
    paired = assigned.join(ways.select("way_id", "xs", "ys"), "way_id")

    def burn(batches):
        for pdf in batches:
            if pdf.shape[0]:
                yield burn_batch_bitsets(pdf, tms_f, buf, TILE_SIZE)

    return paired.mapInPandas(burn, schema="tile_id bigint, bitset binary")


# cap on pixels x segments evaluated per chunk in the burn kernel: bounds
# peak temp memory at ~8 temps x 4 MB regardless of way length / tile density
BURN_CHUNK_CELLS = 1 << 19


def burn_batch_bitsets(
    pdf: pd.DataFrame, tms_f: bool, buf: float, npx: int
) -> pd.DataFrame:
    """Burn one Arrow batch of (tile_id, xs, ys) pairs into packed bitsets.

    Exact semantics: pixel set iff its center is within `buf` of the
    polyline. Evaluated candidate-pixels x segment-CHUNKS with the chunk
    sized so the broadcast product stays under BURN_CHUNK_CELLS cells —
    round 1's `np.tile` all-pairs product allocated O(pixels x vertices)
    doubles per pair (gigabytes for a long way on a dense tile, verdict
    item 4); this form is the same arithmetic with bounded peak memory.
    """
    from osm_hadoop_spark.functions.spatial import point_segment_dist_sq
    from osm_hadoop_spark.functions.tiles import tile_bounds

    buf2 = buf * buf
    out_rows = []
    bxmin, bymin, bxmax, bymax = tile_bounds(
        pdf["tile_id"].to_numpy(dtype=np.int64), tms=tms_f
    )
    for i in range(pdf.shape[0]):
        xs = np.asarray(pdf["xs"].iloc[i], dtype=np.float64)
        ys = np.asarray(pdf["ys"].iloc[i], dtype=np.float64)
        psx = (bxmax[i] - bxmin[i]) / npx
        psy = (bymax[i] - bymin[i]) / npx
        cx = bxmin[i] + (np.arange(npx) + 0.5) * psx
        cy = bymax[i] - (np.arange(npx) + 0.5) * psy  # row 0 = north
        gx, gy = np.meshgrid(cx, cy)
        # prune: only evaluate pixels near the geometry's envelope
        ex0, ex1 = xs.min() - buf, xs.max() + buf
        ey0, ey1 = ys.min() - buf, ys.max() + buf
        cand = (gx >= ex0) & (gx <= ex1) & (gy >= ey0) & (gy <= ey1)
        mask = np.zeros((npx, npx), dtype=bool)
        if cand.any():
            pcx = gx[cand]
            pcy = gy[cand]
            hit = np.zeros(pcx.shape[0], dtype=bool)
            if xs.shape[0] == 1:
                d2 = (pcx - xs[0]) ** 2 + (pcy - ys[0]) ** 2
                hit |= d2 <= buf2
            else:
                x1, y1 = xs[:-1], ys[:-1]
                x2, y2 = xs[1:], ys[1:]
                chunk = max(1, BURN_CHUNK_CELLS // max(1, pcx.shape[0]))
                for s0 in range(0, x1.shape[0], chunk):
                    sl = slice(s0, s0 + chunk)
                    d2 = point_segment_dist_sq(
                        pcx[:, None], pcy[:, None],
                        x1[None, sl], y1[None, sl], x2[None, sl], y2[None, sl],
                    )
                    hit |= (d2 <= buf2).any(axis=1)
                    if hit.all():
                        break
            mask[cand] = hit
        out_rows.append({
            "tile_id": int(pdf["tile_id"].iloc[i]),
            "bitset": np.packbits(mask).tobytes(),
        })
    return pd.DataFrame(out_rows, columns=["tile_id", "bitset"])


def or_composite_bitsets(
    bitsets: DataFrame, salted: bool = True, salt_buckets: int = 8
) -> DataFrame:
    """A6: bitwise-OR all way bitmasks per tile
    (RoadlessRasterizeMapSide.RasterizedTileStack:142-166).

    OR is commutative/associative but pandas UDAFs get no partial agg from
    Spark — so `salted=True` runs a two-level OR ((tile, salt) partial, then
    tile final), bounding any single group's fan-in: the explicit
    salt-the-hot-key path of the north rule.
    """

    def or_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = np.stack([np.frombuffer(b, dtype=np.uint8) for b in pdf["bitset"]])
        return pd.DataFrame({"tile_id": [key[0]], "bitset": [np.bitwise_or.reduce(arrs, axis=0).tobytes()]})

    if not salted:
        return bitsets.groupBy("tile_id").applyInPandas(
            or_group, schema="tile_id bigint, bitset binary"
        )

    def or_group2(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = np.stack([np.frombuffer(b, dtype=np.uint8) for b in pdf["bitset"]])
        return pd.DataFrame({"tile_id": [key[0]], "_salt": [key[1]],
                             "bitset": [np.bitwise_or.reduce(arrs, axis=0).tobytes()]})

    partial = (
        # salt from row CONTENT (not monotonically_increasing_id): stable
        # across task retries, so speculative re-execution cannot move a row
        # between salt groups mid-job
        bitsets.withColumn("_salt", F.pmod(F.hash("tile_id", "bitset"), F.lit(salt_buckets)))
        .groupBy("tile_id", "_salt")
        .applyInPandas(or_group2, schema="tile_id bigint, _salt int, bitset binary")
    )
    return partial.groupBy("tile_id").applyInPandas(
        or_group, schema="tile_id bigint, bitset binary"
    )
