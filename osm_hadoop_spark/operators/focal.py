"""Focal (neighborhood) raster statistics — map algebra over a sparse grid.

The reference produces rasters (per-pixel classes and counts, A1-A5) and
reads/writes GeoTIFF (S5/S8/S9); the standard next step in any raster
stack is FOCAL STATISTICS (ArcGIS "Focal Statistics", GDAL neighborhood
filters): for every data cell, the sum / count / max / mean of the
values in its (2k+1)x(2k+1) window, with absent cells treated as nodata
(excluded) — the sparse-raster convention.

Two evaluations, picked by the kernel width (identical output, both
pinned against a brute force in tests/test_focal.py):
  - k <= 1, direct: one (2k+1)^2 offset explode + single hash agg.
  - k >= 2, separable: a 1-D x-pass (explode 2k+1 offsets, hash agg of
    sum/count/max per shifted key) then a 1-D y-pass — legal because
    box-sum, box-count and box-max all factor through row partials.
    Fan-out is 2*(2k+1) per occupied cell vs (2k+1)^2 for direct.

Measured (interleaved same-JVM A/B, sf0.1, ~4k occupied cells,
local[32]): at k=1 direct wins (separable/direct median 1.24 — the
second shuffle costs more than the 9-vs-6 fan-out saves); at k=3 they
tie (median ratio 1.03, peak 0.98) because shuffle setup dominates at
this occupancy. The separable row-count advantage (2*(2k+1) vs (2k+1)^2
intermediate rows) is what survives a 100x-occupancy scale-up, so the
switch happens as soon as the kernel is wide enough to matter.

Both end with a semi-join back onto the occupied-cell relation: focal
stats are reported AT data cells only (the dilated halo is dropped).

100 TB posture: explode-project-aggregate on computable int64 cell keys
with partial aggregation throughout; the only join is a semi-join on the
(already aggregated) occupied-cell keys. A hot cell receives at most
(2k+1)^2 contribution rows, so skew is kernel-bounded. The mean is the
fixed-point floor(sum * 2^10 / n) in integer DIV — bit-identical across
engines, no float division anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def focal_stats(
    cells: DataFrame,
    k: int = 1,
    mean_bits: int = 10,
) -> DataFrame:
    """Focal sum/count/max/mean over the (2k+1)^2 window of each data cell.

    cells: (cx, cy, v) — one row per occupied cell, integer value.
    Returns (cx, cy, fsum, fn, fmax, fmean_q) where
    fmean_q = floor(fsum * 2^mean_bits / fn).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    scale = 1 << mean_bits

    off = F.sequence(F.lit(-k), F.lit(k))
    if k >= 2:  # separable
        xs = (
            cells.withColumn("_dx", F.explode(off))
            .groupBy((F.col("cx") + F.col("_dx")).alias("cx"), F.col("cy"))
            .agg(
                F.sum("v").alias("_s"),
                F.count(F.lit(1)).alias("_n"),
                F.max("v").alias("_m"),
            )
        )
        halo = (
            xs.withColumn("_dy", F.explode(off))
            .groupBy(F.col("cx"), (F.col("cy") + F.col("_dy")).alias("cy"))
            .agg(
                F.sum("_s").alias("fsum"),
                F.sum("_n").alias("fn"),
                F.max("_m").alias("fmax"),
            )
        )
    else:  # direct
        halo = (
            cells.withColumn("_dx", F.explode(off))
            .withColumn("_dy", F.explode(off))
            .groupBy(
                (F.col("cx") + F.col("_dx")).alias("cx"),
                (F.col("cy") + F.col("_dy")).alias("cy"),
            )
            .agg(
                F.sum("v").alias("fsum"),
                F.count(F.lit(1)).alias("fn"),
                F.max("v").alias("fmax"),
            )
        )

    return halo.join(cells.select("cx", "cy"), ["cx", "cy"], "semi").select(
        "cx",
        "cy",
        "fsum",
        "fn",
        "fmax",
        F.expr(f"div(fsum * {scale}, fn)").alias("fmean_q"),
    )


def focal_convolve(
    cells: DataFrame,
    kernels: dict[str, list[tuple[int, int, int]]],
) -> DataFrame:
    """Sparse 2-D convolution with one or more small integer kernels.

    kernels: {out_col: [(dx, dy, w), ...]} — e.g. the Sobel gradient pair
    {"gx": [(-1,-1,-1),(-1,0,-2),(-1,1,-1),(1,-1,1),(1,0,2),(1,1,1)],
     "gy": [(-1,-1,-1),(0,-1,-2),(1,-1,-1),(-1,1,1),(0,1,2),(1,1,1)]}.
    Convention: TRUE convolution, out(c) = sum_taps w * v(c - (dx, dy))
    — each source cell scatters w*v to the key shifted BY the tap, so
    the kernel is applied mirrored, exactly like np.convolve/scipy
    convolve2d (correlation would read v(c + (dx, dy)); for the
    antisymmetric Sobel taps the two differ by sign, so the convention
    is load-bearing and the oracle/tests pin this one). Absent cells
    contribute 0 (sparse/nodata-as-zero — the right convention for
    gradients, where "no data" means "flat ground", unlike focal_stats'
    nodata-excluded mean).

    Plan: the union of all kernel taps becomes ONE inline array literal;
    one explode + shifted-key hash agg computes every kernel in a single
    pass (conditional sums share the partial aggregation), then the
    occupied-cell semi-join drops the halo. Same explode-project-
    aggregate posture as focal_stats: per-cell fan-out is bounded by the
    tap count, all JVM, fully partial-aggregatable.
    """
    taps: dict[tuple[int, int], dict[str, int]] = {}
    for name, ks in kernels.items():
        for dx, dy, w in ks:
            taps.setdefault((int(dx), int(dy)), {})[name] = taps.get(
                (int(dx), int(dy)), {}
            ).get(name, 0) + int(w)
    names = list(kernels)
    tap_lit = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                *[F.lit(ws.get(n, 0)).cast("long").alias(f"w_{n}") for n in names],
            )
            for (dx, dy), ws in sorted(taps.items())
        ]
    )
    halo = (
        cells.select("cx", "cy", "v", F.explode(tap_lit).alias("t"))
        .groupBy(
            (F.col("cx") + F.col("t.dx")).alias("cx"),
            (F.col("cy") + F.col("t.dy")).alias("cy"),
        )
        .agg(
            *[
                F.sum(F.col("v") * F.col(f"t.w_{n}")).alias(n)
                for n in names
            ]
        )
    )
    # left join FROM the occupied cells (not a semi-join of the halo):
    # a data cell whose whole mirrored window is empty still reports 0.
    return cells.select("cx", "cy").join(halo, ["cx", "cy"], "left").select(
        "cx",
        "cy",
        *[F.coalesce(F.col(n), F.lit(0).cast("long")).alias(n) for n in names],
    )


#: Sobel gradient taps (image-processing convention, y increasing "down"
#: is irrelevant here — the oracle and any consumer use the same taps).
SOBEL = {
    "gx": [(-1, -1, -1), (-1, 0, -2), (-1, 1, -1), (1, -1, 1), (1, 0, 2), (1, 1, 1)],
    "gy": [(-1, -1, -1), (0, -1, -2), (1, -1, -1), (-1, 1, 1), (0, 1, 2), (1, 1, 1)],
}


def integral_image(
    cells: DataFrame, x: str = "x", y: str = "y", v: str = "v"
) -> DataFrame:
    """Summed-area table (integral image) — the O(1)-box-query raster
    primitive (Crow 1984).  sat(x, y) = Σ v over cells with x' <= x AND
    y' <= y, built by the classic separable cascade of two partitioned
    running sums:

      pass 1:  rowsum(x, y) = Σ_{x' <= x} v(x', y)   (partition y, order x)
      pass 2:  sat(x, y)    = Σ_{y' <= y} rowsum(x, y')  (partition x,
                                                          order y)

    DENSE-LATTICE CONTRACT: pass 2 sums rowsum at the SAME x over prior
    rows, which is only correct when every (x, y) of the lattice is
    present — on a sparse grid a column would silently skip mass from
    rows where that x is unoccupied (the exact sparse form is a
    dominance count, a different operator).  Callers zero-fill the
    bbox (rasterized tiles are dense by construction; at planet scale
    the grid is tiled per operators/zonal.py and each tile's SAT is
    independent — this cascade then parallelizes across tiles).
    Violations are caught by the pinned pytest, not at runtime.

    Returns (x, y, sat).  Plan: two partitioned windows, two
    exchanges, no join, no UDF, int64 throughout.
    """
    w_row = (
        Window.partitionBy("y").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_col = (
        Window.partitionBy("x").orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = cells.select(
        F.col(x).cast("bigint").alias("x"),
        F.col(y).cast("bigint").alias("y"),
        F.col(v).cast("bigint").alias("v"),
    ).withColumn("rowsum", F.sum("v").over(w_row))
    return r.withColumn("sat", F.sum("rowsum").over(w_col)).select(
        "x", "y", "sat"
    )


def box_sums(
    sat: DataFrame, boxes: DataFrame
) -> DataFrame:
    """boxes(box_id, x0, y0, x1, y1) inclusive corners over a DENSE
    sat(x, y, sat) lattice -> (box_id, total) via the 4-corner
    inclusion-exclusion identity

        total = sat(x1,y1) - sat(x0-1,y1) - sat(x1,y0-1) + sat(x0-1,y0-1)

    with out-of-lattice corners (x0=0 / y0=0 edges) contributing 0.
    Four equi-joins on the (x, y) key — each box reads 4 rows no matter
    its area, THE point of the SAT.
    """
    def corner(cx, cy, alias):
        return sat.select(
            F.col("x").alias(f"{alias}_x"),
            F.col("y").alias(f"{alias}_y"),
            F.col("sat").alias(alias),
        )

    b = boxes.select(
        "box_id",
        F.col("x0").cast("bigint").alias("x0"),
        F.col("y0").cast("bigint").alias("y0"),
        F.col("x1").cast("bigint").alias("x1"),
        F.col("y1").cast("bigint").alias("y1"),
    )
    out = (
        b.join(
            corner("x1", "y1", "a"),
            (F.col("x1") == F.col("a_x")) & (F.col("y1") == F.col("a_y")),
            "left",
        )
        .join(
            corner("x0", "y1", "b"),
            (F.col("x0") - 1 == F.col("b_x")) & (F.col("y1") == F.col("b_y")),
            "left",
        )
        .join(
            corner("x1", "y0", "c"),
            (F.col("x1") == F.col("c_x")) & (F.col("y0") - 1 == F.col("c_y")),
            "left",
        )
        .join(
            corner("x0", "y0", "d"),
            (F.col("x0") - 1 == F.col("d_x"))
            & (F.col("y0") - 1 == F.col("d_y")),
            "left",
        )
    )
    z = F.lit(0)
    return out.select(
        "box_id",
        (
            F.coalesce(F.col("a"), z)
            - F.coalesce(F.col("b"), z)
            - F.coalesce(F.col("c"), z)
            + F.coalesce(F.col("d"), z)
        ).cast("bigint").alias("total"),
    )
