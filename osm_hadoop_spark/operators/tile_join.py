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

Skew: dense cells (urban areas) concentrate pairs. Both reduces combine
map-side, so a hot tile never funnels its raw rows through one task: the
count is a native partial aggregate, and the bitset OR is `bitmap_or_agg`
over fixed 4096-byte slices, whose partial aggregate runs below the
Exchange. AQE skew-join handles the join side.

A6 is one Python stage, as the reference's map-side rasterize is one map
pass: per Arrow batch of ways, the Arrow J3 kernel's surviving pairs go
straight into the NumPy scanline burn (one interval per capsule and pixel
row, exact tests only at the interval ends), with no join back to the
ways. The OR is native Spark SQL.

Degenerate input: geometries with an empty coordinate array or a NaN or
null ordinate are dropped before every J3 kernel (`_valid_geoms`), so both
cover kernels and the burn see the same ways.
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


def _valid_geoms(ways: DataFrame, *cols) -> DataFrame:
    """The ways in front of every J3 kernel: at least one vertex and no NaN
    or null ordinate (`array_contains` is true for a NaN element and NULL
    for a null one; unlike a lambda HOF it stays in whole-stage codegen)."""
    ok = F.size("xs") > 0
    for c in ("xs", "ys"):
        ok = ok & ~F.coalesce(F.array_contains(c, float("nan")), F.lit(True))
    return ways.select(*cols, "xs", "ys").filter(ok)


def _arrow_cover(pdf: pd.DataFrame, zoom: int, tms_f: bool, buf: float, refine: bool = True):
    """The Arrow J3 kernel on one batch of ways (xs, ys): the envelope cover,
    its MAX_CELLS_PER_GEOM guard and the exact refine (buffered: polyline-box
    distance <= buf). Returns (row, tile_id) arrays, one entry per surviving
    pair, `row` indexing `pdf`."""
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

    xs, ys, counts = _flat_coords(pdf)
    xmin, ymin, xmax, ymax = envelopes_flat(xs, ys, counts)
    nx = _xtile(xmax + buf, zoom) - _xtile(xmin - buf, zoom) + 1
    ny = _ytile(ymin - buf, zoom) - _ytile(ymax + buf, zoom) + 1
    ok = nx * ny <= MAX_CELLS_PER_GEOM
    rows = np.flatnonzero(ok)
    if not ok.all():
        print(
            f"assign_tiles: dropped {int((~ok).sum())} geometries "
            f"exceeding {MAX_CELLS_PER_GEOM} cells at z{zoom}",
            file=sys.stderr,
        )
        keep_coord = np.repeat(ok, counts)
        xs, ys, counts = xs[keep_coord], ys[keep_coord], counts[ok]
        xmin, ymin, xmax, ymax = xmin[ok], ymin[ok], xmax[ok], ymax[ok]
    if not rows.shape[0]:  # the envelope cover below needs >= 1 geometry
        return rows, np.zeros(0, dtype=np.int64)
    tiles, env_idx = tiles_for_envelope_flat(
        xmin - buf, ymin - buf, xmax + buf, ymax + buf, zoom, tms=tms_f
    )
    rows = rows[env_idx]
    if refine and tiles.shape[0]:
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
            keep = polyline_box_dist_sq(pxs, pys, pair_counts, bxmin, bymin, bxmax, bymax) <= buf * buf
        else:
            keep = polyline_box_intersects(pxs, pys, pair_counts, bxmin, bymin, bxmax, bymax)
        tiles, rows = tiles[keep], rows[keep]
    return rows, tiles


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

    src = _valid_geoms(ways, F.col("way_id").alias("_id"))

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
        for pdf in batches:
            rows, tiles = _arrow_cover(pdf, zoom, tms_f, buf, do_refine)
            yield pd.DataFrame({"_id": pdf["_id"].to_numpy()[rows], "tile_id": tiles})

    out = src.mapInPandas(emit, schema="_id long, tile_id bigint")
    return out.withColumnRenamed("_id", "way_id")


def tile_counts(assigned: DataFrame) -> DataFrame:
    """A4: intersecting-way count per tile (RoadlessRoadCount reduce :190-193).

    COUNT is algebraic — Spark's partial aggregation already combines
    map-side, so a hot tile never funnels its raw pairs through one task.
    """
    return assigned.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n_ways"))


# the fused A6 pass burns and yields at most this many pairs at a time:
# 1024 packed 256x256 bitsets are 8 MB, whatever the Arrow batch size
BURN_YIELD_PAIRS = 1024


def rasterize_tile_bitsets(ways: DataFrame, zoom: int, buffer_deg: float) -> DataFrame:
    """Per-(way, tile): burn the buffered way into a tile-local bitmask.

    Reference: RoadlessRasterizeMapSide.scala:99-134 (buffer -> z13 tiles ->
    TileRasterizer into a 256x256 bitset, snappy-compressed) in one map pass.
    Here too: one mapInPandas over the `assign_tiles`-guarded ways runs the
    Arrow J3 kernel per batch and burns its surviving pairs with no join
    back to `ways`, so J1/J2 are planned once. A pixel is set iff its CENTER
    lies within `buffer_deg` of the polyline — the exact round-capped buffer
    region (no polygon approximation). Tile ids are TMS. Output bitset is
    packed bits (TILE_SIZE*TILE_SIZE/8 bytes); shuffle compression replaces
    Snappy (E15 — spark.shuffle.compress).
    """
    zoom = int(zoom)
    buf = float(buffer_deg)

    def burn(batches):
        for pdf in batches:
            yield from _burn_ways(pdf, zoom, buf)

    return _valid_geoms(ways).mapInPandas(burn, schema="tile_id bigint, bitset binary")


def _burn_ways(pdf: pd.DataFrame, zoom: int, buf: float):
    """The fused A6 pass on one batch of ways (xs, ys): the Arrow J3 kernel's
    surviving pairs, burnt and yielded BURN_YIELD_PAIRS at a time as
    (tile_id, bitset) frames."""
    rows, tiles = _arrow_cover(pdf, zoom, True, buf)
    xs, ys = pdf["xs"].to_numpy(), pdf["ys"].to_numpy()
    for i in range(0, rows.shape[0], BURN_YIELD_PAIRS):
        r = rows[i:i + BURN_YIELD_PAIRS]
        pairs = pd.DataFrame({"tile_id": tiles[i:i + BURN_YIELD_PAIRS], "xs": xs[r], "ys": ys[r]})
        yield burn_batch_bitsets(pairs, True, buf, TILE_SIZE)


# the burn works on BURN_BLOCK_PAIRS pairs at a time and, inside a block, on
# at most BURN_CHUNK_ROWS (segment, pixel row) intervals at a time: its
# temporaries stay bounded whatever the batch size, way length or density
BURN_BLOCK_PAIRS = 16
BURN_CHUNK_ROWS = 1 << 13
# columns within this many pixels of an estimated interval end get the
# exact distance test
_BURN_WINDOW = 2


def burn_batch_bitsets(
    pdf: pd.DataFrame, tms_f: bool, buf: float, npx: int
) -> pd.DataFrame:
    """Burn one Arrow batch of (tile_id, xs, ys) pairs into packed bitsets.
    Every way has a vertex and no NaN ordinate (`_valid_geoms`).

    Exact semantics: a pixel is set iff its center lies inside the pair's
    way envelope grown by `buf` and within `buf` of the polyline
    (`point_segment_dist_sq(...) <= buf**2`, on pixel centres
    `bxmin + (c + 0.5) * psx`).

    Scanline form: a segment's buffer (a capsule) is convex, so it cuts
    each pixel row in one interval. Per (segment, row) the interval is
    estimated analytically (two end discs and the strip between them) and
    clipped to the tile and to the envelope's columns; only the columns
    within _BURN_WINDOW pixels of its two ends get the exact distance test,
    and the first to last accepted column is filled. A per-row difference
    array unions the intervals, and `packbits` packs each mask. The result
    equals the per-pixel test: rounding moves an estimated end by far less
    than a pixel unless a capsule edge is within ~1e-9 of horizontal
    without being flat, and a flat edge's row is all in or all out."""
    from osm_hadoop_spark.functions.tiles import tile_bounds

    tile_ids = pdf["tile_id"].to_numpy(dtype=np.int64)
    n = tile_ids.shape[0]
    xs, ys, counts = _flat_coords(pdf)
    xs = xs.astype(np.float64, copy=False)
    ys = ys.astype(np.float64, copy=False)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)

    # way envelope grown by buf
    ex0, ey0 = np.minimum.reduceat(xs, starts) - buf, np.minimum.reduceat(ys, starts) - buf
    ex1, ey1 = np.maximum.reduceat(xs, starts) + buf, np.maximum.reduceat(ys, starts) + buf

    bxmin, bymin, bxmax, bymax = tile_bounds(tile_ids, tms=tms_f)
    psx = (bxmax - bxmin) / npx
    psy = (bymax - bymin) / npx

    # segments: a single vertex is one degenerate a == b segment
    nseg = np.maximum(counts - 1, 1)
    seg_off = np.concatenate(([0], np.cumsum(nseg))).astype(np.int64)
    seg_pair = np.repeat(np.arange(n), nseg)
    a = starts[seg_pair] + np.arange(seg_off[-1]) - seg_off[:-1][seg_pair]
    b = a + (counts[seg_pair] > 1)

    half = np.arange(npx) + 0.5
    packed = np.empty((n, (npx * npx + 7) // 8), dtype=np.uint8)
    for p0 in range(0, n, BURN_BLOCK_PAIRS):
        p1 = min(p0 + BURN_BLOCK_PAIRS, n)
        blk = slice(p0, p1)
        cx = bxmin[blk, None] + half * psx[blk, None]
        cy = bymax[blk, None] - half * psy[blk, None]  # row 0 = north
        clo, chi = _mask_range((cx >= ex0[blk, None]) & (cx <= ex1[blk, None]), npx)
        rlo, rhi = _mask_range((cy >= ey0[blk, None]) & (cy <= ey1[blk, None]), npx)
        diff = np.zeros((p1 - p0) * npx * (npx + 1), dtype=np.int32)
        segs = np.arange(seg_off[p0], seg_off[p1])
        if segs.shape[0]:
            _burn_block(
                diff, npx, buf, seg_pair[segs] - p0,
                xs[a[segs]], ys[a[segs]], xs[b[segs]], ys[b[segs]],
                bxmin[blk], bxmax[blk], bymax[blk], psx[blk], psy[blk],
                clo, chi, rlo, rhi,
            )
        mask = np.cumsum(diff.reshape(p1 - p0, npx, npx + 1), axis=2, dtype=np.int32)
        packed[blk] = np.packbits(mask[:, :, :npx].reshape(p1 - p0, -1) > 0, axis=1)

    return pd.DataFrame({"tile_id": tile_ids, "bitset": [r.tobytes() for r in packed]})


def _mask_range(mask: np.ndarray, npx: int):
    """First and last True index per row of a row-contiguous mask;
    (npx, -1) for a row with none."""
    some = mask.any(axis=1)
    lo = np.where(some, np.argmax(mask, axis=1), npx)
    hi = np.where(some, npx - 1 - np.argmax(mask[:, ::-1], axis=1), -1)
    return lo, hi


def _burn_block(diff, npx, buf, pair, ax, ay, bx, by,
                bxmin, bxmax, bymax, psx, psy, clo, chi, rlo, rhi):
    """Add one block's (segment, row) intervals to its difference array
    `diff`, laid out (pair, row, npx + 1 columns)."""
    from osm_hadoop_spark.functions.spatial import point_segment_dist_sq

    # pixel rows each segment's capsule can reach, inside the envelope rows;
    # a capsule that misses the tile's columns reaches none
    yhi = np.maximum(ay, by) + buf
    ylo = np.minimum(ay, by) - buf
    r0 = np.floor(np.clip((bymax[pair] - yhi) / psy[pair] - 0.5, -2, npx + 1)).astype(np.int64)
    r1 = np.ceil(np.clip((bymax[pair] - ylo) / psy[pair] - 0.5, -2, npx + 1)).astype(np.int64)
    r0 = np.maximum(r0, rlo[pair])
    r1 = np.minimum(r1, rhi[pair])
    near = ((np.minimum(ax, bx) - buf <= bxmax[pair] + psx[pair])
            & (np.maximum(ax, bx) + buf >= bxmin[pair] - psx[pair]))
    nrow = np.where(near, np.maximum(r1 - r0 + 1, 0), 0)
    before = np.concatenate(([0], np.cumsum(nrow)[:-1]))
    chunk = before // BURN_CHUNK_ROWS
    cuts = np.concatenate(([0], np.flatnonzero(np.diff(chunk)) + 1, [nrow.shape[0]]))
    win = np.arange(-_BURN_WINDOW, _BURN_WINDOW + 1)
    clim = (-4 * _BURN_WINDOW, npx + 4 * _BURN_WINDOW)
    buf2 = buf * buf
    for s0, s1 in zip(cuts[:-1], cuts[1:]):
        seg = np.repeat(np.arange(s0, s1), nrow[s0:s1])
        if not seg.shape[0]:
            continue
        row = r0[seg] + np.arange(seg.shape[0]) - (before[seg] - before[s0])
        p = pair[seg]
        y = bymax[p] - (row + 0.5) * psy[p]
        lo, hi = _capsule_row_interval(y, ax[seg], ay[seg], bx[seg], by[seg], buf)
        ok = lo <= hi
        seg, row, p, y, lo, hi = seg[ok], row[ok], p[ok], y[ok], lo[ok], hi[ok]
        c0 = np.ceil(np.clip((lo - bxmin[p]) / psx[p] - 0.5, *clim)).astype(np.int64)
        c1 = np.floor(np.clip((hi - bxmin[p]) / psx[p] - 0.5, *clim)).astype(np.int64)
        c0 = np.maximum(c0, clo[p])
        c1 = np.minimum(c1, chi[p])
        # farther apart than the windows reach: the clip left no pixel
        ok = c0 <= c1 + _BURN_WINDOW
        seg, row, p, y, c0, c1 = seg[ok], row[ok], p[ok], y[ok], c0[ok], c1[ok]
        cols = np.concatenate((c0[:, None] + win, c1[:, None] + win), axis=1)
        d2 = point_segment_dist_sq(
            bxmin[p, None] + (cols + 0.5) * psx[p, None], y[:, None],
            ax[seg, None], ay[seg, None], bx[seg, None], by[seg, None],
        )
        acc = (cols >= clo[p, None]) & (cols <= chi[p, None]) & (d2 <= buf2)
        hit = acc.any(axis=1)
        first = np.where(acc, cols, npx).min(axis=1)[hit]
        last = np.where(acc, cols, -1).max(axis=1)[hit]
        base = (p[hit] * npx + row[hit]) * (npx + 1)
        np.add.at(diff, base + first, 1)
        np.add.at(diff, base + last + 1, -1)


def _capsule_row_interval(y, ax, ay, bx, by, r):
    """x-interval [lo, hi] where the line at height y meets the capsule of
    radius r around segment ab: the union of its cuts through the two end
    discs and the strip between them (lo > hi: no cut)."""
    lo = np.full(y.shape[0], np.inf)
    hi = np.full(y.shape[0], -np.inf)
    for px, py in ((ax, ay), (bx, by)):
        h2 = r * r - (y - py) ** 2
        h = np.sqrt(np.maximum(h2, 0.0))
        lo = np.where(h2 >= 0, np.minimum(lo, px - h), lo)
        hi = np.where(h2 >= 0, np.maximum(hi, px + h), hi)
    dx, dy, v = bx - ax, by - ay, y - ay
    l2 = dx * dx + dy * dy
    rl = r * np.sqrt(l2)
    with np.errstate(divide="ignore", invalid="ignore"):
        # along the segment: 0 <= (x - ax) * dx + v * dy <= l2
        t0 = ax - v * dy / dx
        t1 = ax + (l2 - v * dy) / dx
        all_along = (v * dy >= 0) & (v * dy <= l2)
        # across it: |(x - ax) * dy - v * dx| <= r * |ab|
        q0 = ax + (v * dx - rl) / dy
        q1 = ax + (v * dx + rl) / dy
        all_across = np.abs(v * dx) <= rl
    inf = np.inf
    s_lo = np.maximum(
        np.where(dx != 0, np.minimum(t0, t1), np.where(all_along, -inf, inf)),
        np.where(dy != 0, np.minimum(q0, q1), np.where(all_across, -inf, inf)),
    )
    s_hi = np.minimum(
        np.where(dx != 0, np.maximum(t0, t1), np.where(all_along, inf, -inf)),
        np.where(dy != 0, np.maximum(q0, q1), np.where(all_across, inf, -inf)),
    )
    strip = (l2 > 0) & (s_lo <= s_hi)
    return np.where(strip, np.minimum(lo, s_lo), lo), np.where(strip, np.maximum(hi, s_hi), hi)


# bitmap_or_agg ORs into a fixed buffer of this many bytes
_OR_SLICE_BYTES = 4096


def or_composite_bitsets(bitsets: DataFrame, salted: bool = True) -> DataFrame:
    """A6: bitwise-OR all way bitmasks per tile
    (RoadlessRasterizeMapSide.RasterizedTileStack:142-166). All bitsets of
    one tile must have the same length; any length works.

    The default is native Spark SQL: each bitset is cut into 4096-byte
    slices (the fixed buffer of `bitmap_or_agg`), every (tile, slice) is
    OR'd by `bitmap_or_agg` and trimmed back to its input length, and the
    slices are concatenated in order. `bitmap_or_agg` combines map-side
    below its Exchange, so a dense tile never funnels its raw bitsets
    through one task. `salted=False` is the independent twin: one
    `applyInPandas` OR per tile. Neither path salts; the keyword keeps its
    name only because the benchmark's twin (`perfbench/workloads.py`)
    passes `salted=`.
    """
    if not salted:
        def or_group(key, pdf):
            arrs = np.stack([np.frombuffer(b, dtype=np.uint8) for b in pdf["bitset"]])
            return pd.DataFrame({"tile_id": [key[0]],
                                 "bitset": [np.bitwise_or.reduce(arrs, axis=0).tobytes()]})

        return bitsets.groupBy("tile_id").applyInPandas(
            or_group, schema="tile_id bigint, bitset binary"
        )

    n_slices = F.greatest(F.ceil(F.length("bitset") / _OR_SLICE_BYTES), F.lit(1))
    sliced = bitsets.select(
        "tile_id", "bitset", F.explode(F.sequence(F.lit(0), n_slices - 1)).alias("_slice")
    ).select(
        "tile_id", "_slice",
        F.substring("bitset", F.col("_slice") * _OR_SLICE_BYTES + 1, F.lit(_OR_SLICE_BYTES))
        .alias("_part"),
    )
    slices = sliced.groupBy("tile_id", "_slice").agg(
        F.bitmap_or_agg("_part").alias("_or"), F.max(F.length("_part")).alias("_len")
    )
    # concatenated as hex: array_join joins strings, not binary
    hexed = slices.select(
        "tile_id", F.struct("_slice", F.hex(F.substring("_or", F.lit(1), F.col("_len"))).alias("_hex")).alias("_s")
    )
    return hexed.groupBy("tile_id").agg(
        F.unhex(F.array_join(F.sort_array(F.collect_list("_s")).getField("_hex"), ""))
        .alias("bitset")
    )
