"""S2 containment join: leaf-indexed points vs a mixed-level cell set.

Completes the S2 index story (functions/s2.py): assignment gives every
point a leaf id; this operator joins points to an arbitrary set of
REGION cells (any mix of levels) by hierarchical containment — the S2
analog of the reference's way×tile join filter stage, with containment
expressed purely on the id encoding (a cell's descendants form one
contiguous id interval: range_min/range_max).

Physical shape (the 100 TB path): regions at a given level L match
points on cell_parent(leaf, L) EXACTLY — so explode each point into its
parents at the region set's (at most 31) distinct levels and run one hash
EQUI-join on (level, cell). The join is shuffle-partitioned on a
computable key (broadcastable when the region set is small; Catalyst
decides), with no inequality predicate anywhere (no
BroadcastNestedLoopJoin over leaf BETWEEN range_min AND range_max) and
AQE-skew-splittable. The distinct-level collect is bounded by 31 rows (an
allowed bounded collect, tests/test_no_slow_path.py whitelist).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_leaf_cell(points: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Append `s2_leaf` (level-30 id) to a lon/lat DataFrame (vectorized)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(points.schema.fields) + [StructField("s2_leaf", LongType())]
    )

    def assign(batches):
        from osm_hadoop_spark.functions.s2 import cell_for_lonlat

        for b in batches:
            b = b.copy()
            b["s2_leaf"] = cell_for_lonlat(b[lon].to_numpy(), b[lat].to_numpy(), 30)
            yield b

    return points.mapInPandas(assign, schema=schema)


def regions_from_points(
    df: DataFrame, id_col: str, lon: str, lat: str, level_col: str
) -> DataFrame:
    """(id, lon, lat, level) -> (id, region_cell, range_min, range_max)."""

    def build(batches):
        from osm_hadoop_spark.functions.s2 import (
            cell_for_lonlat,
            cell_range_max,
            cell_range_min,
        )

        for b in batches:
            out = pd.DataFrame({"region_id": b[id_col]})
            levels = b[level_col].to_numpy()
            lo = b[lon].to_numpy()
            la = b[lat].to_numpy()
            # vectorize per distinct level (<= 31 groups per batch)
            import numpy as np

            cells = np.empty(len(b), dtype=np.int64)
            for lvl in np.unique(levels):
                m = levels == lvl
                cells[m] = cell_for_lonlat(lo[m], la[m], int(lvl))
            out["region_cell"] = cells
            out["level"] = levels
            out["range_min"] = cell_range_min(cells)
            out["range_max"] = cell_range_max(cells)
            yield out

    return df.mapInPandas(
        build,
        schema="region_id bigint, region_cell bigint, level int, "
        "range_min bigint, range_max bigint",
    )


def s2_containment_join(
    points: DataFrame,
    regions: DataFrame,
    leaf_col: str = "s2_leaf",
) -> DataFrame:
    """Inner-join points to every region cell containing them.

    points: any DataFrame with `leaf_col` (level-30 id).
    regions: (region_id, region_cell, level, range_min, range_max).
    Returns points columns + (region_id, region_cell).
    """
    levels = sorted(r["level"] for r in regions.select("level").distinct().collect())
    # ONE pass over the points: per-level parent ids by pure JVM arithmetic
    # ((id & -lsb) | lsb), exploded in-pipeline (x|levels| slim rows, no
    # rescan of the base), then a single equi-join on (level, cell) —
    # broadcastable when regions are small, shuffle-hash otherwise.
    structs = []
    for lvl in levels:
        lsb = 1 << (2 * (30 - int(lvl)))
        parent = F.col(leaf_col).bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))
        structs.append(
            F.struct(
                F.lit(int(lvl)).alias("level"), parent.alias("region_cell")
            )
        )
    cand = points.withColumn("_lc", F.explode(F.array(*structs))).select(
        *points.columns,
        F.col("_lc.level").alias("level"),
        F.col("_lc.region_cell").alias("region_cell"),
    )
    return cand.join(
        regions.select("region_id", "level", "region_cell"),
        ["level", "region_cell"],
    ).drop("level")


def s2_cell_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_id: str = "rid_a",
    b_id: str = "rid_b",
    cell: str = "cell",
) -> DataFrame:
    """Region-overlap matrix for two mixed-level S2 cell sets: for every
    (region_a, region_b) pair with intersecting coverage, the EXACT
    intersection area in leaf-cell units — the cover-algebra primitive
    behind "how much of zone X lies inside zone Y".

    The key structural fact: S2 cell ranges are LAMINAR — two cells are
    either disjoint or one contains the other (descendant ids share the
    ancestor's prefix). So cover intersection never needs interval
    machinery: |cell_a ∩ cell_b| is the DEEPER cell's whole leaf count
    (its lsb), and finding intersecting pairs is a parent EQUI-join, the
    same per-level arithmetic-key strategy as s2_containment_join.

    Two passes, each one explode + one equi-join:
      1. deeper-or-equal B into A levels (non-strict),
      2. strictly-deeper A into B levels (strict, so equal-level pairs
         count exactly once).
    Each side's cells are assumed internally disjoint per region id (a
    canonical cover); overlapping input cells would double-count.

    Scale: the explode fan-out is bounded by the number of DISTINCT
    levels on the other side (<= 31, collected — the bounded-collect
    whitelist); both joins are hash equi-joins on (level-lsb, cell) —
    no inequality predicate, no broadcast requirement, AQE-splittable.
    Returns (a_id, b_id, overlap_leaves).
    """
    a2 = a.select(
        F.col(a_id),
        F.col(cell).alias("cell_a"),
        F.expr(f"{cell} & -{cell}").alias("lsb_a"),
    )
    b2 = b.select(
        F.col(b_id),
        F.col(cell).alias("cell_b"),
        F.expr(f"{cell} & -{cell}").alias("lsb_b"),
    )
    a_lsbs = sorted(r["lsb_a"] for r in a2.select("lsb_a").distinct().collect())
    b_lsbs = sorted(r["lsb_b"] for r in b2.select("lsb_b").distinct().collect())

    def ancestors(cell_col, lsb_col, lsb_values, strict):
        structs = []
        for L in lsb_values:
            cond = (lsb_col < F.lit(L)) if strict else (lsb_col <= F.lit(L))
            structs.append(
                F.when(
                    cond,
                    F.struct(
                        F.lit(L).alias("lvl_lsb"),
                        cell_col.bitwiseAND(F.lit(-L))
                        .bitwiseOR(F.lit(L))
                        .alias("pcell"),
                    ),
                )
            )
        return F.filter(F.array(*structs), lambda x: x.isNotNull())

    # pass 1: B cells at-or-below an A level, keyed by their A-level parent
    b_up = b2.select(
        F.col(b_id),
        F.col("lsb_b").alias("overlap_leaves"),
        F.explode(ancestors(F.col("cell_b"), F.col("lsb_b"), a_lsbs, False)).alias("anc"),
    ).select(b_id, "overlap_leaves", F.col("anc.lvl_lsb").alias("lsb_a"),
             F.col("anc.pcell").alias("cell_a"))
    p1 = b_up.join(a2, ["lsb_a", "cell_a"]).select(a_id, b_id, "overlap_leaves")

    # pass 2: A cells strictly below a B level, keyed by their B-level parent
    a_up = a2.select(
        F.col(a_id),
        F.col("lsb_a").alias("overlap_leaves"),
        F.explode(ancestors(F.col("cell_a"), F.col("lsb_a"), b_lsbs, True)).alias("anc"),
    ).select(a_id, "overlap_leaves", F.col("anc.lvl_lsb").alias("lsb_b"),
             F.col("anc.pcell").alias("cell_b"))
    p2 = a_up.join(b2, ["lsb_b", "cell_b"]).select(a_id, b_id, "overlap_leaves")

    return (
        p1.unionByName(p2)
        .groupBy(a_id, b_id)
        .agg(F.sum("overlap_leaves").cast("bigint").alias("overlap_leaves"))
    )
