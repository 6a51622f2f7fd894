"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md section 2 (plus the training-data-pipeline additions); each is the
REAL engine operator applied to deterministic derivations of the driver's
parquet tables, and `oracle_sql()` carries an exact DuckDB twin.

Cross-engine exactness rules used throughout (see also
osm_hadoop_spark/operators/textstats.py):
  - integers everywhere a value feeds a comparison or a hash;
  - the shared 60-bit hash h60(s) = bigint(md5(s)[:15 hex]);
  - doubles only where IEEE semantics guarantee identical bits (sqrt of an
    exactly-representable value, same-order arithmetic);
  - mercator y-tile: the engines' asinh/ln differ by <= 1 ulp; a 987-point
    scan over every derived latitude confirmed identical tile assignment.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_hadoop_spark.config import PRECEDENCE
from osm_hadoop_spark.operators.focal import SOBEL

# ---------------------------------------------------------------------------
# deterministic derivations of geospatial inputs from the driver tables
# (identical arithmetic lives in the oracle SQL strings below)
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _nodes(spark, sf_dir):
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node_id"),
        (F.col("p_partkey") % 340 - 170).cast("double").alias("lon"),
        ((F.col("p_partkey") * 7) % 160 - 80).cast("double").alias("lat"),
    )


def _way_nodes(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("node_id"),
        F.col("l_orderkey").alias("way_id"),
        F.col("l_linenumber").cast("int").alias("ordinal"),
    )


_PRIORITY_TO_HIGHWAY = {
    "1-URGENT": "motorway",
    "2-HIGH": "trunk",
    "3-MEDIUM": "primary",
    "4-NOT SPECIFIED": "residential",
}  # 5-LOW gets no highway tag (exercises the F1 filter)


def _ways(spark, sf_dir):
    pr = F.col("o_orderpriority")
    hw = None
    for k, v in _PRIORITY_TO_HIGHWAY.items():
        hw = F.when(pr == k, v) if hw is None else hw.when(pr == k, v)
    tags = F.when(
        pr != "5-LOW", F.create_map(F.lit("highway"), hw)
    ).otherwise(F.create_map(F.lit("building"), F.lit("yes")))
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("way_id"), tags.alias("tags")
    )


_NODES_SQL = (
    "SELECT p_partkey AS node_id, CAST(p_partkey % 340 - 170 AS DOUBLE) AS lon, "
    "CAST((p_partkey*7) % 160 - 80 AS DOUBLE) AS lat FROM part"
)
_WAY_NODES_SQL = (
    "SELECT l_partkey AS node_id, l_orderkey AS way_id, l_linenumber AS ordinal FROM lineitem"
)
_HW_CASE = (
    "CASE o_orderpriority WHEN '1-URGENT' THEN 'motorway' WHEN '2-HIGH' THEN 'trunk' "
    "WHEN '3-MEDIUM' THEN 'primary' WHEN '4-NOT SPECIFIED' THEN 'residential' END"
)

# shared DuckDB text helpers
_DUCK_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)


def _duck_h60(expr: str) -> str:
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


# shared-prefix cache: four queries rebuild the same J1/J2 assembly from
# the TPC tables; persist it once per (session, sf_dir) — the analog of the
# reference's materialized inter-stage SequenceFiles (round-1 verdict
# item 8). Results are identical; only the physical plan gains an
# InMemoryTableScan on repeat use.
_ASSEMBLY_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _assembly_cached(spark, sf_dir, kind, builder):
    # keyed by applicationId, not id(spark): id() can be reused after a
    # stopped session is garbage-collected, handing a dead DataFrame to a
    # new session. Entries from other applications are evicted on insert
    # so the cache never outlives its session.
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, kind)
    df = _ASSEMBLY_CACHE.get(key)
    if df is None:
        for k in [k for k in _ASSEMBLY_CACHE if k[0] != app_id]:
            del _ASSEMBLY_CACHE[k]
        df = builder(spark, sf_dir).persist()
        _ASSEMBLY_CACHE[key] = df
    return df


def _local_ways_geom(spark, sf_dir):
    return _assembly_cached(spark, sf_dir, "local", _local_ways_geom_build)


def _local_ways_geom_build(spark, sf_dir):
    """Geographically-local way geometries (like real OSM ways): each way's
    vertices cluster within ~0.25 deg of its order-derived home, so fixed-
    zoom tile covers stay small — a world-spanning way would make a z14
    cover quadratically explode, which no real workload exhibits."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_orderkey").alias("way_id"),
        F.col("l_linenumber").cast("int").alias("ordinal"),
        ((F.col("l_orderkey") % 340) - 170 + (F.col("l_partkey") % 16) / 64.0)
        .cast("double").alias("lon"),
        (((F.col("l_orderkey") * 7) % 160) - 80 + (F.col("l_suppkey") % 16) / 64.0)
        .cast("double").alias("lat"),
    )
    # spread before the groupBy: the lineitem fixture arrives as 1 scan
    # split, which would otherwise run the partial collect_list aggregation
    # of ~600k rows on one core (measured 3.7x the build time at sf0.1)
    pts = pts.repartition(spark.sparkContext.defaultParallelism)
    grouped = pts.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("ordinal", "lon", "lat"))).alias("pts")
    ).filter(F.size("pts") > 1)
    return grouped.select(
        "way_id",
        F.transform("pts", lambda p: p["lon"]).alias("xs"),
        F.transform("pts", lambda p: p["lat"]).alias("ys"),
    )


_LOCAL_WAY_PTS_SQL = (
    "SELECT l_orderkey AS way_id, l_linenumber AS ordinal, "
    "CAST(l_orderkey % 340 - 170 + (l_partkey % 16)/64.0 AS DOUBLE) AS lon, "
    "CAST((l_orderkey*7) % 160 - 80 + (l_suppkey % 16)/64.0 AS DOUBLE) AS lat "
    "FROM lineitem"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: entity reconstruction + z14 tile assignment + per-tile counts
    over sf0.001 (the reference's planet pipeline in miniature)."""
    sf_dir = "/root/testdata/sf0.001"
    from osm_hadoop_spark.operators.tile_join import assign_tiles, tile_counts

    # the zero-Python codegen cover+refine; the arrow kernel is its
    # oracle-pinned twin
    assigned = assign_tiles(
        _local_ways_geom(spark, sf_dir), zoom=14, tms=False, cover_impl="jvm"
    )
    return tile_counts(assigned)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_way_assembly(spark, sf_dir):
    from osm_hadoop_spark.operators.way_assembly import with_wkt

    wg = _ways_geom(spark, sf_dir)
    return with_wkt(wg).select(
        "way_id", F.col("n_pts").cast("bigint").alias("n_pts"), "geometry_wkt"
    )


def _q_way_assembly_arrow(spark, sf_dir):
    """Same assembly through the pandas-UDF WKT formatter (impl='arrow').
    with_wkt now defaults to the whole-stage-codegen formatter
    (functions/geometry_sql.py); this twin pins both physical strategies
    to the same oracle string-for-string."""
    from osm_hadoop_spark.operators.way_assembly import with_wkt

    wg = _ways_geom(spark, sf_dir)
    return with_wkt(wg, impl="arrow").select(
        "way_id", F.col("n_pts").cast("bigint").alias("n_pts"), "geometry_wkt"
    )


_ORACLE_WAY_ASSEMBLY = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
j AS (SELECT wn.way_id, wn.ordinal, n.lon, n.lat FROM wn JOIN nodes n USING (node_id)),
w AS (SELECT o_orderkey AS way_id FROM orders)
SELECT j.way_id, CAST(count(*) AS BIGINT) AS n_pts,
  'LINESTRING (' || string_agg(
     CAST(CAST(lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(lat AS BIGINT) AS VARCHAR),
     ', ' ORDER BY ordinal, lon, lat) || ')' AS geometry_wkt
FROM j JOIN w ON j.way_id = w.way_id
GROUP BY j.way_id HAVING count(*) > 1
"""


def _q_relation_assembly(spark, sf_dir):
    """J1'/J2' second-level reconstruction: relations = customers, member
    ways = their orders (ordinal = o_orderkey, role from the priority text),
    geometries from the cached way assembly. North-star 'way/relation
    assembly' — the reference drops relations at its dispatch
    (NodeJoiner.scala:110,136)."""
    from osm_hadoop_spark.operators.relation_assembly import (
        assemble_relations,
        with_multilinestring_wkt,
    )

    orders = _t(spark, sf_dir, "orders")
    members = orders.select(
        F.col("o_custkey").alias("rel_id"),
        F.col("o_orderkey").alias("way_id"),
        F.col("o_orderkey").alias("ordinal"),
        F.expr("lower(substring(o_orderpriority, 3))").alias("role"),
    )
    rels = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rel_id"),
        F.create_map(F.lit("type"), F.lit("route")).alias("tags"),
    )
    out = assemble_relations(rels, members, _ways_geom(spark, sf_dir))
    return with_multilinestring_wkt(out).select(
        "rel_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.concat_ws(",", "roles").alias("roles"),
        "geometry_wkt",
    )


_ORACLE_RELATION_ASSEMBLY = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
j AS (SELECT wn.way_id, wn.ordinal, n.lon, n.lat FROM wn JOIN nodes n USING (node_id)),
w AS (SELECT o_orderkey AS way_id FROM orders),
ways AS (
  SELECT j.way_id, '(' || string_agg(
      CAST(CAST(lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(lat AS BIGINT) AS VARCHAR),
      ', ' ORDER BY ordinal, lon, lat) || ')' AS body
  FROM j JOIN w ON j.way_id = w.way_id
  GROUP BY j.way_id HAVING count(*) > 1
),
m AS (SELECT o_custkey AS rel_id, o_orderkey AS way_id, o_orderkey AS ordinal,
             lower(substring(o_orderpriority, 3)) AS role FROM orders)
SELECT m.rel_id, CAST(count(*) AS BIGINT) AS n_members,
  string_agg(m.role, ',' ORDER BY m.ordinal) AS roles,
  'MULTILINESTRING (' || string_agg(ways.body, ', ' ORDER BY m.ordinal) || ')' AS geometry_wkt
FROM m JOIN ways USING (way_id)
GROUP BY m.rel_id
"""


def _q_multipolygon_assembly(spark, sf_dir):
    """Multipolygon assembly: one axis-aligned rectangle ring per order
    (rel = customer), fed SCRAMBLED — orientation flipped for even keys,
    start vertex rotated by k%4, split into two open chained fragments for
    k%7==0, and a 2x2-scaled-unit hole strictly inside for k%5==0 (lattice
    x4 scaling keeps hole vertices off every rectangle boundary). The engine
    must chain, orient, dedupe, and assign holes; the oracle builds the
    canonical rings arithmetically."""
    from osm_hadoop_spark.operators.polygon_assembly import assemble_multipolygons

    k = F.col("o_orderkey")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("rel_id"),
        k.alias("k"),
        ((k % 340 - 170) * 4).alias("x0"),
        (((k * 7) % 160 - 80) * 4).alias("y0"),
        ((k % 3 + 1) * 4).alias("w"),
        ((k % 5 + 1) * 4).alias("h"),
    )
    o = o.withColumn("x1", F.col("x0") + F.col("w")).withColumn(
        "y1", F.col("y0") + F.col("h")
    )

    def ring(xs_cols, ys_cols, rot):
        xs = F.array(*[c.cast("double") for c in xs_cols])
        ys = F.array(*[c.cast("double") for c in ys_cols])
        xs = F.concat(F.slice(xs, rot + 1, 4 - rot), F.slice(xs, F.lit(1), rot))
        ys = F.concat(F.slice(ys, rot + 1, 4 - rot), F.slice(ys, F.lit(1), rot))
        return (
            F.concat(xs, F.slice(xs, 1, 1)),
            F.concat(ys, F.slice(ys, 1, 1)),
        )

    x0, x1, y0, y1 = F.col("x0"), F.col("x1"), F.col("y0"), F.col("y1")
    rot = (F.col("k") % 4).cast("int")
    ccw_x, ccw_y = ring([x0, x1, x1, x0], [y0, y0, y1, y1], rot)
    cw_x, cw_y = ring([x0, x0, x1, x1], [y0, y1, y1, y0], rot)
    even = F.col("k") % 2 == 0
    oxs = F.when(even, cw_x).otherwise(ccw_x)
    oys = F.when(even, cw_y).otherwise(ccw_y)
    # k%7==0: split the closed 5-vertex ring into [v0..v2] and [v2..v4]
    frag = F.when(
        F.col("k") % 7 == 0,
        F.array(
            F.struct(F.slice(oxs, 1, 3).alias("xs"), F.slice(oys, 1, 3).alias("ys")),
            F.struct(F.slice(oxs, 3, 3).alias("xs"), F.slice(oys, 3, 3).alias("ys")),
        ),
    ).otherwise(F.array(F.struct(oxs.alias("xs"), oys.alias("ys"))))
    outers = o.select(
        "rel_id", F.lit("outer").alias("role"), F.explode(frag).alias("m")
    ).select("rel_id", "role", F.col("m.xs").alias("xs"), F.col("m.ys").alias("ys"))

    hx0, hy0 = x0 + 1, y0 + 1
    hx1, hy1 = x0 + 3, y0 + 3
    hrot = ((F.col("k") * 3) % 4).cast("int")
    hccw_x, hccw_y = ring([hx0, hx1, hx1, hx0], [hy0, hy0, hy1, hy1], hrot)
    hcw_x, hcw_y = ring([hx0, hx0, hx1, hx1], [hy0, hy1, hy1, hy0], hrot)
    hole_ccw = F.col("k") % 3 == 0
    holes = o.filter(F.col("k") % 5 == 0).select(
        "rel_id",
        F.lit("inner").alias("role"),
        F.when(hole_ccw, hccw_x).otherwise(hcw_x).alias("xs"),
        F.when(hole_ccw, hccw_y).otherwise(hcw_y).alias("ys"),
    )

    out = assemble_multipolygons(outers.unionByName(holes))
    return out.select(
        "rel_id",
        F.col("n_polys").cast("bigint").alias("n_polys"),
        F.col("n_holes").cast("bigint").alias("n_holes"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.col("area2").cast("bigint").alias("area2"),
        "geometry_wkt",
    )


_ORACLE_MULTIPOLYGON_ASSEMBLY = """
WITH o AS (
  SELECT o_custkey AS rel_id, o_orderkey AS k,
         4*((o_orderkey % 340) - 170) AS x0, 4*(((o_orderkey*7) % 160) - 80) AS y0,
         4*(1 + o_orderkey % 3) AS w, 4*(1 + o_orderkey % 5) AS h
  FROM orders
),
r AS (SELECT DISTINCT rel_id, x0, y0, x0+w AS x1, y0+h AS y1, 2*w*h AS area2 FROM o),
rb AS (SELECT rel_id, x0, y0, x1, y1, area2,
  '(' || x0||' '||y0 ||', '|| x1||' '||y0 ||', '|| x1||' '||y1 ||', '|| x0||' '||y1
      ||', '|| x0||' '||y0 || ')' AS body FROM r),
hh AS (SELECT DISTINCT rel_id, x0+1 AS hx0, y0+1 AS hy0, x0+3 AS hx1, y0+3 AS hy1
       FROM o WHERE k % 5 = 0),
hb AS (SELECT rel_id, hx0, hy0, hx1, hy1, 8 AS area2,
  '(' || hx0||' '||hy0 ||', '|| hx0||' '||hy1 ||', '|| hx1||' '||hy1 ||', '|| hx1||' '||hy0
      ||', '|| hx0||' '||hy0 || ')' AS body FROM hh),
own AS (
  SELECT hb.rel_id, hb.body AS hole_body, hb.area2 AS hole_area2, rb.body AS owner_body,
         row_number() OVER (PARTITION BY hb.rel_id, hb.body
                            ORDER BY rb.area2, rb.body) AS rn
  FROM hb JOIN rb ON hb.rel_id = rb.rel_id
   AND hb.hx0 > rb.x0 AND hb.hx1 < rb.x1 AND hb.hy0 > rb.y0 AND hb.hy1 < rb.y1
),
owned AS (SELECT rel_id, hole_body, hole_area2, owner_body FROM own WHERE rn = 1),
polys AS (
  SELECT rb.rel_id,
    '(' || rb.body || CASE WHEN count(owned.hole_body) > 0
        THEN ', ' || string_agg(owned.hole_body, ', ' ORDER BY owned.hole_body)
        ELSE '' END || ')' AS poly_body,
    rb.area2 - COALESCE(sum(owned.hole_area2), 0) AS parea2,
    count(owned.hole_body) AS nh
  FROM rb LEFT JOIN owned
    ON owned.rel_id = rb.rel_id AND owned.owner_body = rb.body
  GROUP BY rb.rel_id, rb.body, rb.area2
)
SELECT rel_id,
  CAST(count(*) AS BIGINT) AS n_polys,
  CAST(sum(nh) AS BIGINT) AS n_holes,
  CAST(0 AS BIGINT) AS n_dropped,
  CAST(sum(parea2) AS BIGINT) AS area2,
  'MULTIPOLYGON (' || string_agg(poly_body, ', ' ORDER BY poly_body) || ')' AS geometry_wkt
FROM polys GROUP BY rel_id
"""


def _q_pip_multipolygon(spark, sf_dir):
    """E8 with holes: nodes (lattice-offset so no point touches a ring edge)
    against the distinct rectangle zones of the multipolygon derivation,
    hole rings excluding containment. zone_id = min generating order key
    (injective, computable in both engines)."""
    from osm_hadoop_spark.operators.polygon_join import point_multipolygon_join

    k = F.col("o_orderkey")
    o = _t(spark, sf_dir, "orders").select(
        k.alias("k"),
        ((k % 340 - 170) * 4).alias("x0"),
        (((k * 7) % 160 - 80) * 4).alias("y0"),
        ((k % 3 + 1) * 4).alias("w"),
        ((k % 5 + 1) * 4).alias("h"),
    )
    r = (
        o.withColumn("x1", F.col("x0") + F.col("w"))
        .withColumn("y1", F.col("y0") + F.col("h"))
        .groupBy("x0", "y0", "x1", "y1")
        .agg(
            F.min("k").alias("zone_id"),
            F.max((F.col("k") % 5 == 0).cast("int")).alias("has_hole"),
        )
    )
    x0, x1, y0, y1 = F.col("x0"), F.col("x1"), F.col("y0"), F.col("y1")

    def darr(*cols):
        return F.array(*[c.cast("double") for c in cols])

    polys = r.select(
        "zone_id",
        darr(x0, x1, x1, x0).alias("oxs"),
        darr(y0, y0, y1, y1).alias("oys"),
        F.when(
            F.col("has_hole") == 1,
            F.array(darr(x0 + 1, x0 + 3, x0 + 3, x0 + 1)),
        ).otherwise(F.array().cast("array<array<double>>")).alias("hxs"),
        F.when(
            F.col("has_hole") == 1,
            F.array(darr(y0 + 1, y0 + 1, y0 + 3, y0 + 3)),
        ).otherwise(F.array().cast("array<array<double>>")).alias("hys"),
    )
    pts = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node_id"),
        ((F.col("p_partkey") % 340 - 170) * 4 + 2).cast("double").alias("px"),
        (((F.col("p_partkey") * 7) % 160 - 80) * 4 + 2).cast("double").alias("py"),
    )
    return point_multipolygon_join(pts, polys)


def _q_zonal_multipolygon(spark, sf_dir):
    """A5 over hole-aware zones: per-zone point count + value sum through
    the point_multipolygon_join composition (zonal analog of the
    reference's per-image-region histogram, ImageRegions.scala:105-123,
    with J2'' zones instead of raster regions)."""
    pairs = _q_pip_multipolygon(spark, sf_dir)
    vals = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node_id"),
        (F.col("p_partkey") % 97).cast("bigint").alias("val"),
    )
    return (
        pairs.join(vals, "node_id", "inner")
        .groupBy("zone_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("val").cast("bigint").alias("val_sum"),
        )
    )


_ORACLE_ZONAL_MULTIPOLYGON = """
WITH o AS (
  SELECT o_orderkey AS k,
         4*((o_orderkey % 340) - 170) AS x0, 4*(((o_orderkey*7) % 160) - 80) AS y0,
         4*(1 + o_orderkey % 3) AS w, 4*(1 + o_orderkey % 5) AS h
  FROM orders
),
r AS (SELECT x0, y0, x0+w AS x1, y0+h AS y1, min(k) AS zone_id,
             max(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS has_hole
      FROM o GROUP BY x0, y0, x0+w, y0+h),
p AS (SELECT p_partkey AS node_id,
             4*((p_partkey % 340) - 170) + 2 AS px,
             4*(((p_partkey*7) % 160) - 80) + 2 AS py,
             p_partkey % 97 AS val FROM part)
SELECT r.zone_id, CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(p.val) AS BIGINT) AS val_sum
FROM p JOIN r ON px > x0 AND px < x1 AND py > y0 AND py < y1
 AND NOT (has_hole = 1 AND px > x0+1 AND px < x0+3 AND py > y0+1 AND py < y0+3)
GROUP BY r.zone_id
"""


_ORACLE_PIP_MULTIPOLYGON = """
WITH o AS (
  SELECT o_orderkey AS k,
         4*((o_orderkey % 340) - 170) AS x0, 4*(((o_orderkey*7) % 160) - 80) AS y0,
         4*(1 + o_orderkey % 3) AS w, 4*(1 + o_orderkey % 5) AS h
  FROM orders
),
r AS (SELECT x0, y0, x0+w AS x1, y0+h AS y1, min(k) AS zone_id,
             max(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS has_hole
      FROM o GROUP BY x0, y0, x0+w, y0+h),
p AS (SELECT p_partkey AS node_id,
             4*((p_partkey % 340) - 170) + 2 AS px,
             4*(((p_partkey*7) % 160) - 80) + 2 AS py FROM part)
SELECT p.node_id, r.zone_id
FROM p JOIN r ON px > x0 AND px < x1 AND py > y0 AND py < y1
 AND NOT (has_hole = 1 AND px > x0+1 AND px < x0+3 AND py > y0+1 AND py < y0+3)
"""


def _q_grid_snap(spark, sf_dir):
    # E4 global grid snap, JVM-side (CAST truncates; operands >= 0)
    n = _nodes(spark, sf_dir)
    x = ((F.col("lon") + 180.0) * 43200 / 360.0).cast("int")
    y = ((F.col("lat") + 90.0) * 21600 / 180.0).cast("int")
    return n.select(
        "node_id",
        x.cast("bigint").alias("gx"),
        y.cast("bigint").alias("gy"),
        ((x.cast("bigint") * F.lit(4294967296)) + y.cast("bigint")).alias("pix"),
    )


_ORACLE_GRID_SNAP = f"""
WITH nodes AS ({_NODES_SQL})
SELECT node_id,
  CAST(trunc((lon + 180.0) * 43200 / 360.0) AS BIGINT) AS gx,
  CAST(trunc((lat + 90.0) * 21600 / 180.0) AS BIGINT) AS gy,
  CAST(trunc((lon + 180.0) * 43200 / 360.0) AS BIGINT) * 4294967296
    + CAST(trunc((lat + 90.0) * 21600 / 180.0) AS BIGINT) AS pix
FROM nodes
"""


def _pixels(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (
            (F.col("l_partkey") % 1000).cast("bigint") * F.lit(4294967296)
            + (F.col("l_suppkey") % 997).cast("bigint")
        ).alias("pix"),
        ((F.col("l_linenumber") % 14) + 1).cast("int").alias("cls"),
    )


_PIXELS_SQL = (
    "SELECT CAST(l_partkey % 1000 AS BIGINT) * 4294967296 + CAST(l_suppkey % 997 AS BIGINT) AS pix, "
    "CAST((l_linenumber % 14) + 1 AS INT) AS cls FROM lineitem"
)
_PREC_CASE = "CASE cls " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in PRECEDENCE.items()
) + " END"


def _q_pixel_precedence(spark, sf_dir):
    from osm_hadoop_spark.operators.rasterize import precedence_argmin

    return precedence_argmin(_pixels(spark, sf_dir)).select(
        "pix", F.col("cls").cast("bigint").alias("cls")
    )


_ORACLE_PIXEL_PRECEDENCE = f"""
WITH px AS ({_PIXELS_SQL}),
pr AS (SELECT pix, cls, {_PREC_CASE} AS prec FROM px)
SELECT pix, CAST(min(prec * 100 + cls) % 100 AS BIGINT) AS cls
FROM pr WHERE prec IS NOT NULL GROUP BY pix
"""


def _q_pixel_counts(spark, sf_dir):
    from osm_hadoop_spark.operators.rasterize import pixel_counts

    return pixel_counts(_pixels(spark, sf_dir)).select(
        "pix", F.col("n").cast("bigint").alias("n")
    )


_ORACLE_PIXEL_COUNTS = f"""
WITH px AS ({_PIXELS_SQL})
SELECT pix, CAST(count(*) AS BIGINT) AS n FROM px GROUP BY pix
"""


def _points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") % 340) - 170).cast("double").alias("lon"),
        (((F.col("c_custkey") * 3) % 160) - 80).cast("double").alias("lat"),
    )


_POINTS_SQL = (
    "SELECT c_custkey AS point_id, CAST(c_custkey % 340 - 170 AS DOUBLE) AS lon, "
    "CAST((c_custkey*3) % 160 - 80 AS DOUBLE) AS lat FROM customer"
)


def _duck_xt(lon: str, z: int) -> str:
    n = 1 << z
    return f"CAST(least(greatest(floor(({lon} + 180.0)/360.0*{n}), 0), {n - 1}) AS BIGINT)"


def _duck_yt(lat: str, z: int) -> str:
    n = 1 << z
    t = f"tan(radians(least(greatest({lat}, -85.05112877980659), 85.05112877980659)))"
    return (
        f"CAST(least(greatest(floor((1 - ln({t} + sqrt({t}*{t} + 1))/pi())/2*{n}), 0), {n - 1}) AS BIGINT)"
    )


def _q_tile_point(spark, sf_dir):
    # J5/E10: point -> z14 mercator tile, vectorized kernel; count per tile
    import pandas as pd

    pts = _points(spark, sf_dir)

    def assign(batches):
        from osm_hadoop_spark.functions.tiles import tile_for_point, unpack_tile

        for pdf in batches:
            t = tile_for_point(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 14)
            _z, x, y = unpack_tile(t)
            yield pd.DataFrame({"tx": x, "ty": y})

    cells = pts.mapInPandas(assign, schema="tx bigint, ty bigint")
    return cells.groupBy("tx", "ty").agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))


_ORACLE_TILE_POINT = f"""
WITH p AS ({_POINTS_SQL})
SELECT {_duck_xt('lon', 14)} AS tx, {_duck_yt('lat', 14)} AS ty,
       CAST(count(*) AS BIGINT) AS n_points
FROM p GROUP BY 1, 2
"""


def _q_way_length(spark, sf_dir):
    """Geodesic way length (E-level measure the reference only stubs,
    GeodesicDistanceTest.scala:19): ordinal-ordered segments via a window
    lead, haversine per segment in JVM trig, rounded to integer
    millimeters BEFORE the sum so aggregation is exact integer arithmetic
    (order-free across partitionings — see functions/geodesic.py)."""
    from pyspark.sql import Window

    from osm_hadoop_spark.functions.geodesic import haversine_mm

    j = _way_nodes(spark, sf_dir).join(_nodes(spark, sf_dir), "node_id").select(
        "way_id", "ordinal", "lon", "lat"
    )
    w = Window.partitionBy("way_id").orderBy("ordinal", "lon", "lat")
    seg = j.select(
        "way_id",
        "lon", "lat",
        F.lead("lon").over(w).alias("lon2"),
        F.lead("lat").over(w).alias("lat2"),
    ).filter(F.col("lon2").isNotNull())
    d = seg.select(
        "way_id",
        haversine_mm(F.col("lon"), F.col("lat"), F.col("lon2"), F.col("lat2")).alias("d_mm"),
    )
    return d.groupBy("way_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("d_mm").cast("bigint").alias("len_mm"),
    )


def _oracle_way_length():
    from osm_hadoop_spark.functions.geodesic import duck_haversine_mm

    h = duck_haversine_mm("lon", "lat", "lon2", "lat2")
    return f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
j AS (SELECT wn.way_id, wn.ordinal, n.lon, n.lat FROM wn JOIN nodes n USING (node_id)),
seg AS (
  SELECT way_id, lon, lat,
         lead(lon) OVER (PARTITION BY way_id ORDER BY ordinal, lon, lat) AS lon2,
         lead(lat) OVER (PARTITION BY way_id ORDER BY ordinal, lon, lat) AS lat2
  FROM j
)
SELECT way_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum({h}) AS BIGINT) AS len_mm
FROM seg WHERE lon2 IS NOT NULL
GROUP BY way_id
"""


def _q_apply_diff(spark, sf_dir):
    """Changeset application (osmosis snapshot rules): base snapshot = all
    orders at version 1; delta = every 3rd order bumped to version 2, with
    every 6th a delete (visible=false) and every 15th order an id beyond
    the base (creates; NEGATED key — a namespaced fresh-id range that can
    never collide with real orderkeys at any SF, unlike a fixed offset). Latest visible version per entity survives."""
    from osm_hadoop_spark.operators.diff import apply_diff

    k = F.col("o_orderkey")
    base = _t(spark, sf_dir, "orders").select(
        k.alias("entity_id"),
        F.lit(1).alias("version"),
        F.lit(True).alias("visible"),
        F.col("o_orderpriority").alias("tag"),
    )
    delta_src = _t(spark, sf_dir, "orders").filter(k % 3 == 0)
    delta = delta_src.select(
        F.when(k % 15 == 0, -k).otherwise(k).alias("entity_id"),
        F.lit(2).alias("version"),
        (k % 6 != 0).alias("visible"),
        F.concat(F.lit("v2:"), F.col("o_orderpriority")).alias("tag"),
    )
    out = apply_diff(base, delta)
    return out.select(
        "entity_id",
        F.col("version").cast("bigint").alias("version"),
        "tag",
    )


_ORACLE_APPLY_DIFF = """
WITH base AS (
  SELECT o_orderkey AS entity_id, 1 AS version, TRUE AS visible,
         o_orderpriority AS tag, 0 AS src FROM orders
),
delta AS (
  SELECT CASE WHEN o_orderkey % 15 = 0 THEN -o_orderkey
              ELSE o_orderkey END AS entity_id,
         2 AS version, o_orderkey % 6 <> 0 AS visible,
         'v2:' || o_orderpriority AS tag, 1 AS src
  FROM orders WHERE o_orderkey % 3 = 0
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY entity_id
                               ORDER BY version DESC, src DESC) AS rn
  FROM u
)
SELECT entity_id, CAST(version AS BIGINT) AS version, tag
FROM latest WHERE rn = 1 AND visible
"""


def _q_derive_diff(spark, sf_dir):
    """Changeset DERIVATION (operators/diff.py::derive_diff), the
    osmosis derive-change inverse of osm_apply_diff: old = all orders
    at v1; new = every 6th dropped, every surviving 3rd modified to v2,
    every 15th duplicated as a fresh id (negated-key namespace,
    collision-free at every SF). The round-trip contract
    apply_diff(old, result) == new is pinned in tests."""
    from osm_hadoop_spark.operators.diff import derive_diff

    k = F.col("o_orderkey")
    orders = _t(spark, sf_dir, "orders")
    old = orders.select(
        k.alias("entity_id"), F.lit(1).alias("version"),
        F.col("o_orderpriority").alias("tag"),
    )
    new = (
        orders.filter(k % 6 != 0)
        .select(
            k.alias("entity_id"),
            F.when(k % 3 == 0, 2).otherwise(1).alias("version"),
            F.when(
                k % 3 == 0, F.concat(F.lit("v2:"), F.col("o_orderpriority"))
            ).otherwise(F.col("o_orderpriority")).alias("tag"),
        )
        .unionByName(
            orders.filter(k % 15 == 0).select(
                (-k).alias("entity_id"),
                F.lit(1).alias("version"), F.lit("new").alias("tag"),
            )
        )
    )
    out = derive_diff(old, new)
    return out.select(
        "entity_id", F.col("version").cast("bigint").alias("version"),
        "visible", "tag",
    )


_ORACLE_DERIVE_DIFF = """
WITH old AS (
  SELECT o_orderkey AS id, 1 AS version, o_orderpriority AS tag
  FROM orders),
new AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS version,
         CASE WHEN o_orderkey % 3 = 0 THEN 'v2:' || o_orderpriority
              ELSE o_orderpriority END AS tag
  FROM orders WHERE o_orderkey % 6 <> 0
  UNION ALL
  SELECT -o_orderkey, 1, 'new'
  FROM orders WHERE o_orderkey % 15 = 0)
SELECT coalesce(n.id, o.id) AS entity_id,
       CAST(CASE WHEN n.id IS NULL THEN o.version + 1
                 ELSE n.version END AS BIGINT) AS version,
       n.id IS NOT NULL AS visible,
       CASE WHEN n.id IS NULL THEN o.tag ELSE n.tag END AS tag
FROM old o FULL OUTER JOIN new n ON n.id = o.id
WHERE o.id IS NULL OR n.id IS NULL
   OR NOT (o.version IS NOT DISTINCT FROM n.version
           AND o.tag IS NOT DISTINCT FROM n.tag)
"""


def _q_tile_point_jvm(spark, sf_dir):
    """J5 through the shared JVM cell math (functions/tiles_sql — the exact
    columns the STREAMING tile counts use): same oracle as tile_point_z14,
    so the streaming path's cell assignment gets a value oracle via the
    batch contract."""
    from osm_hadoop_spark.functions.tiles_sql import sql_xtile, sql_ytile

    pts = _points(spark, sf_dir)
    cells = pts.select(
        sql_xtile(F.col("lon"), 14).alias("tx"),
        sql_ytile(F.col("lat"), 14).alias("ty"),
    )
    return cells.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )


def _q_cell_rollup(spark, sf_dir):
    """Hierarchical cell rollup (hypertable-rollup pattern on the quadkey
    index): z14 point-cell counts aggregated up to z10 and z7 parents via
    the pure-arithmetic cell_parent relation (x >> s, y >> s) — the parent
    key is computable, so each rollup level is one hash aggregate with NO
    join, and coarser levels can be derived from finer PARTIAL aggregates
    at scale (count is reaggregable)."""
    import pandas as pd

    pts = _points(spark, sf_dir)

    def assign(batches):
        from osm_hadoop_spark.functions.tiles import tile_for_point, unpack_tile

        for pdf in batches:
            t = tile_for_point(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 14)
            _z, x, y = unpack_tile(t)
            yield pd.DataFrame({"tx": x, "ty": y})

    cells = pts.mapInPandas(assign, schema="tx bigint, ty bigint")
    parts = []
    for z, s in ((14, 0), (10, 4), (7, 7)):
        parts.append(
            cells.groupBy(
                F.shiftright("tx", s).alias("tx"),
                F.shiftright("ty", s).alias("ty"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
            .select(F.lit(z).cast("bigint").alias("z"), "tx", "ty", "n_points")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _duck_rollup_level(z: int, s: int) -> str:
    return f"""
SELECT CAST({z} AS BIGINT) AS z, tx // {1 << s} AS tx, ty // {1 << s} AS ty,
       CAST(count(*) AS BIGINT) AS n_points
FROM c GROUP BY 2, 3"""


_ORACLE_CELL_ROLLUP = f"""
WITH p AS ({_POINTS_SQL}),
c AS (SELECT {_duck_xt('lon', 14)} AS tx, {_duck_yt('lat', 14)} AS ty FROM p)
{_duck_rollup_level(14, 0)}
UNION ALL
{_duck_rollup_level(10, 4)}
UNION ALL
{_duck_rollup_level(7, 7)}
"""


def _q_s2_cells(spark, sf_dir):
    """S2 cell-indexed point assignment (the north rule's 'H3/S2
    cell-indexed tile assignment'): nodes -> vectorized from-scratch S2
    kernel (functions/s2.py: cube face -> quadratic ST -> Hilbert curve)
    at level 12, with the level-8 ancestor derived by pure id arithmetic
    (cell_parent) — hierarchical rollup stays a computable-key hash
    aggregate, no join, exactly like the quadkey rollup. The oracle
    re-derives the Hilbert walk with a 12-step recursive CTE from the
    published base tables — a third independent implementation."""
    import pandas as pd

    nodes = _nodes(spark, sf_dir)

    def assign(batches):
        from osm_hadoop_spark.functions.s2 import cell_for_lonlat, cell_parent

        for pdf in batches:
            l12 = cell_for_lonlat(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 12)
            yield pd.DataFrame({"s2_l12": l12, "s2_l8": cell_parent(l12, 8)})

    cells = nodes.mapInPandas(assign, schema="s2_l12 bigint, s2_l8 bigint")
    return cells.groupBy("s2_l12", "s2_l8").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def _oracle_s2_cells() -> str:
    from osm_hadoop_spark.functions.s2 import _IJ_TO_POS

    ijpos_rows = ",".join(
        f"({o},{ij},{int(_IJ_TO_POS[o][ij])})" for o in range(4) for ij in range(4)
    )
    # id layout at level L: face<<61 | pos<<(61-2L) | 1<<(60-2L); pos at
    # level 8 is the level-12 pos with the low 4 levels (8 bits) dropped.
    # Verified bit-exact vs NumPy over the EXHAUSTIVE 54 400-point lattice
    # of every lon/lat the fixture can produce (tests/test_s2.py pins a
    # sampled version of the same cross-check).
    return f"""
WITH RECURSIVE
ijpos(orient, ij, pos) AS (VALUES {ijpos_rows}),
n AS ({_NODES_SQL}),
xyz AS (SELECT node_id, cos(radians(lat))*cos(radians(lon)) AS x,
               cos(radians(lat))*sin(radians(lon)) AS y, sin(radians(lat)) AS z FROM n),
fc AS (SELECT node_id, x, y, z,
        CASE WHEN abs(x) > abs(y)
             THEN (CASE WHEN abs(x) > abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
                        ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END)
             ELSE (CASE WHEN abs(y) > abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
                        ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END) END AS face
       FROM xyz),
uv AS (SELECT node_id, face,
   CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
             WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
   CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
             WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v FROM fc),
st AS (SELECT node_id, face,
   CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
   CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t FROM uv),
ij AS (SELECT node_id, face,
   CAST(least(greatest(floor(s*1073741824), 0), 1073741823) AS BIGINT) AS i,
   CAST(least(greatest(floor(t*1073741824), 0), 1073741823) AS BIGINT) AS j FROM st),
hil AS (
  SELECT node_id, face, i, j, 29 AS k, face % 2 AS orient, CAST(0 AS HUGEINT) AS pos
  FROM ij
  UNION ALL
  SELECT h.node_id, h.face, h.i, h.j, h.k - 1,
         xor(h.orient, CASE t.pos WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END),
         h.pos * 4 + t.pos
  FROM hil h JOIN ijpos t
    ON t.orient = h.orient AND t.ij = ((h.i >> h.k) & 1) * 2 + ((h.j >> h.k) & 1)
  WHERE h.k >= 18
),
fin AS (SELECT node_id,
   CAST(face AS HUGEINT) * 2305843009213693952 + pos * 137438953472
     + 68719476736 AS uid12,
   CAST(face AS HUGEINT) * 2305843009213693952 + (pos // 256) * 35184372088832
     + 17592186044416 AS uid8
   FROM hil WHERE k = 17),
ids AS (SELECT node_id,
   CAST(CASE WHEN uid12 >= 9223372036854775808
             THEN uid12 - 18446744073709551616 ELSE uid12 END AS BIGINT) AS s2_l12,
   CAST(CASE WHEN uid8 >= 9223372036854775808
             THEN uid8 - 18446744073709551616 ELSE uid8 END AS BIGINT) AS s2_l8
   FROM fin)
SELECT s2_l12, s2_l8, CAST(count(*) AS BIGINT) AS n_nodes FROM ids GROUP BY 1, 2
"""


def _q_s2_region_contain(spark, sf_dir):
    """S2 containment join (multi-level prefix equi-join, the 100 TB
    strategy): nodes at leaf level vs 25 nation-derived region cells at
    MIXED levels 2-4 — containment becomes one hash equi-join per
    distinct region level on the arithmetic parent key; no inequality
    predicates, no broadcast requirement. The oracle re-derives leaf and
    region ids through one shared level-aware Hilbert recursion and joins
    on the same parent arithmetic in HUGEINT space."""
    from osm_hadoop_spark.operators.s2_join import (
        regions_from_points,
        s2_containment_join,
        with_leaf_cell,
    )

    nodes = with_leaf_cell(_nodes(spark, sf_dir))
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("rid"),
        ((F.col("n_nationkey") * 77) % 340 - 170).cast("double").alias("lon"),
        ((F.col("n_nationkey") * 13) % 160 - 80).cast("double").alias("lat"),
        (F.lit(2) + F.col("n_nationkey") % 3).cast("int").alias("level"),
    )
    regions = regions_from_points(nat, "rid", "lon", "lat", "level")
    joined = s2_containment_join(nodes, regions)
    return joined.groupBy("region_id", "region_cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def _duck_s2_uid_cte(input_sql: str, levels: tuple[int, ...]) -> str:
    """Level-aware S2 id derivation shared by region/point sides: input
    (rid, lon, lat, level) -> s2u(rid, level, uid HUGEINT). The Hilbert
    recursion consumes exactly `level` bit-pairs per row."""
    from osm_hadoop_spark.functions.s2 import _IJ_TO_POS

    ijpos_rows = ",".join(
        f"({o},{ij},{int(_IJ_TO_POS[o][ij])})" for o in range(4) for ij in range(4)
    )
    shift_case = " ".join(
        f"WHEN {lv} THEN {1 << (61 - 2 * lv)}" for lv in levels
    )
    sent_case = " ".join(
        f"WHEN {lv} THEN {1 << (60 - 2 * lv)}" for lv in levels
    )
    return f"""
ijpos(orient, ij, pos) AS (VALUES {ijpos_rows}),
pts AS ({input_sql}),
xyz AS (SELECT rid, level, cos(radians(lat))*cos(radians(lon)) AS x,
               cos(radians(lat))*sin(radians(lon)) AS y, sin(radians(lat)) AS z FROM pts),
fc AS (SELECT rid, level, x, y, z,
        CASE WHEN abs(x) > abs(y)
             THEN (CASE WHEN abs(x) > abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
                        ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END)
             ELSE (CASE WHEN abs(y) > abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
                        ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END) END AS face
       FROM xyz),
uv AS (SELECT rid, level, face,
   CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
             WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
   CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
             WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v FROM fc),
st AS (SELECT rid, level, face,
   CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
   CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t FROM uv),
ij AS (SELECT rid, level, face,
   CAST(least(greatest(floor(s*1073741824), 0), 1073741823) AS BIGINT) AS i,
   CAST(least(greatest(floor(t*1073741824), 0), 1073741823) AS BIGINT) AS j FROM st),
hil AS (
  SELECT rid, level, face, i, j, 29 AS k, face % 2 AS orient,
         CAST(0 AS HUGEINT) AS pos
  FROM ij
  UNION ALL
  SELECT h.rid, h.level, h.face, h.i, h.j, h.k - 1,
         xor(h.orient, CASE t.pos WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END),
         h.pos * 4 + t.pos
  FROM hil h JOIN ijpos t
    ON t.orient = h.orient AND t.ij = ((h.i >> h.k) & 1) * 2 + ((h.j >> h.k) & 1)
  WHERE h.k >= 30 - h.level
),
s2u AS (SELECT rid, level,
   CAST(face AS HUGEINT) * 2305843009213693952
     + pos * (CASE level {shift_case} END)
     + (CASE level {sent_case} END) AS uid
   FROM hil WHERE k = 29 - level)"""


def _oracle_s2_region_contain() -> str:
    input_sql = (
        "SELECT p_partkey AS rid, CAST(p_partkey % 340 - 170 AS DOUBLE) AS lon, "
        "CAST((p_partkey*7) % 160 - 80 AS DOUBLE) AS lat, 30 AS level FROM part "
        "UNION ALL "
        "SELECT n_nationkey + 10000000, CAST((n_nationkey*77) % 340 - 170 AS DOUBLE), "
        "CAST((n_nationkey*13) % 160 - 80 AS DOUBLE), 2 + n_nationkey % 3 FROM nation"
    )
    parent_shift = "CASE r.level WHEN 2 THEN 144115188075855872 WHEN 3 THEN 36028797018963968 ELSE 9007199254740992 END"
    parent_sent = "CASE r.level WHEN 2 THEN 72057594037927936 WHEN 3 THEN 18014398509481984 ELSE 4503599627370496 END"
    return f"""
WITH RECURSIVE
{_duck_s2_uid_cte(input_sql, (2, 3, 4, 30))},
nodes AS (SELECT rid AS node_id, uid FROM s2u WHERE level = 30),
regs AS (SELECT rid - 10000000 AS region_id, level, uid FROM s2u WHERE level < 30),
matched AS (
  SELECT r.region_id, r.uid AS region_uid
  FROM nodes n JOIN regs r
    ON (n.uid // ({parent_shift})) * ({parent_shift}) + ({parent_sent}) = r.uid)
SELECT region_id,
       CAST(CASE WHEN region_uid >= 9223372036854775808
            THEN region_uid - 18446744073709551616 ELSE region_uid END AS BIGINT)
         AS region_cell,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM matched GROUP BY 1, 2
"""


# S2 cover algebra: exact region-overlap matrix |A ∩ B| in leaf units.
# A = nation-derived covers exploded to 3 of 4 children (multi-cell,
# hole-punched); B = supplier-derived single cells. Engine exploits
# laminarity (parent EQUI-joins); oracle = independent HUGEINT interval
# arithmetic over the same derived cells.
def _q_s2_overlap(spark, sf_dir):
    from osm_hadoop_spark.operators.s2_join import (
        regions_from_points,
        s2_cell_overlap_join,
    )

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("rid"),
        ((F.col("n_nationkey") * 77) % 340 - 170).cast("double").alias("lon"),
        ((F.col("n_nationkey") * 13) % 160 - 80).cast("double").alias("lat"),
        (F.lit(2) + F.col("n_nationkey") % 3).cast("int").alias("level"),
    )
    rega = regions_from_points(nat, "rid", "lon", "lat", "level").select(
        F.col("region_id").alias("rid_a"), F.col("region_cell").alias("pc")
    )
    # 3 of the 4 children (drop Hilbert child 0): multi-cell covers with a
    # hole, by pure JVM id arithmetic (cell_children's closed form)
    lsb = F.expr("pc & -pc")
    clsb = F.shiftright(lsb, 2)
    kids = F.array(
        *[(F.col("pc") - lsb + clsb * (1 + 2 * k)) for k in (1, 2, 3)]
    )
    a = rega.select("rid_a", F.explode(kids).alias("cell"))

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("rid"),
        ((F.col("s_suppkey") * 37) % 340 - 170).cast("double").alias("lon"),
        ((F.col("s_suppkey") * 11) % 160 - 80).cast("double").alias("lat"),
        (F.lit(2) + F.col("s_suppkey") % 3).cast("int").alias("level"),
    )
    b = regions_from_points(sup, "rid", "lon", "lat", "level").select(
        F.col("region_id").alias("rid_b"), F.col("region_cell").alias("cell")
    )
    return s2_cell_overlap_join(a, b)


def _oracle_s2_overlap() -> str:
    input_sql = (
        "SELECT n_nationkey AS rid, CAST((n_nationkey*77) % 340 - 170 AS DOUBLE) AS lon, "
        "CAST((n_nationkey*13) % 160 - 80 AS DOUBLE) AS lat, 2 + n_nationkey % 3 AS level "
        "FROM nation "
        "UNION ALL "
        "SELECT s_suppkey + 10000000, CAST((s_suppkey*37) % 340 - 170 AS DOUBLE), "
        "CAST((s_suppkey*11) % 160 - 80 AS DOUBLE), 2 + s_suppkey % 3 FROM supplier"
    )
    sent = (
        f"CASE level WHEN 2 THEN {1 << 56} WHEN 3 THEN {1 << 54} "
        f"ELSE {1 << 52} END"
    )
    return f"""
WITH RECURSIVE
{_duck_s2_uid_cte(input_sql, (2, 3, 4))},
asrc AS (SELECT rid AS rid_a, uid, CAST({sent} AS HUGEINT) AS lsb
         FROM s2u WHERE rid < 10000000),
akids AS (SELECT rid_a, uid - lsb + (lsb // 4) * (1 + 2 * k) AS uid,
                 lsb // 4 AS lsb
          FROM asrc, (SELECT unnest(generate_series(1, 3)) AS k)),
bsrc AS (SELECT rid - 10000000 AS rid_b, uid, CAST({sent} AS HUGEINT) AS lsb
         FROM s2u WHERE rid >= 10000000),
ar AS (SELECT rid_a, uid - lsb + 1 AS lo, uid + lsb - 1 AS hi FROM akids),
br AS (SELECT rid_b, uid - lsb + 1 AS lo, uid + lsb - 1 AS hi FROM bsrc),
ov AS (SELECT a.rid_a, b.rid_b,
         (least(a.hi, b.hi) - greatest(a.lo, b.lo)) // 2 + 1 AS leaves
       FROM ar a JOIN br b ON least(a.hi, b.hi) >= greatest(a.lo, b.lo))
SELECT rid_a, rid_b, CAST(sum(leaves) AS BIGINT) AS overlap_leaves
FROM ov GROUP BY 1, 2
"""


def _q_s2_cover(spark, sf_dir):
    """S2 envelope cover (E9's spherical twin): 80 supplier-derived
    planar rects -> all level-7 S2 cells whose conservative bound
    intersects each rect (functions/s2_cover.py BFS + interval
    arithmetic). The oracle replays the SAME subdivision in a recursive
    CTE — every interval op is a correctly-rounded IEEE primitive or
    atan2, written in the identical order, then the surviving frontier is
    pushed through the Hilbert recursion for ids."""
    import pandas as pd

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("env_id"),
        ((F.col("s_suppkey") * 37) % 300 - 150).cast("double").alias("lon0"),
        ((F.col("s_suppkey") * 11) % 140 - 70).cast("double").alias("lat0"),
        ((F.col("s_suppkey") * 37) % 300 - 150 + 2 + F.col("s_suppkey") % 5)
        .cast("double").alias("lon1"),
        ((F.col("s_suppkey") * 11) % 140 - 70 + 1 + F.col("s_suppkey") % 4)
        .cast("double").alias("lat1"),
    )

    def cover(batches):
        from osm_hadoop_spark.functions.s2_cover import cells_for_envelope_s2

        for b in batches:
            cells, env = cells_for_envelope_s2(
                b["lon0"].to_numpy(), b["lat0"].to_numpy(),
                b["lon1"].to_numpy(), b["lat1"].to_numpy(), 7,
            )
            yield pd.DataFrame(
                {"env_id": b["env_id"].to_numpy()[env], "s2_cell": cells}
            )

    return sup.mapInPandas(cover, schema="env_id bigint, s2_cell bigint")


def _oracle_s2_cover(level: int = 7, adaptive: bool = False) -> str:
    from osm_hadoop_spark.functions.s2 import _IJ_TO_POS
    from osm_hadoop_spark.functions.s2_cover import _FACE_XYZ

    # atom -> (lo, hi) SQL expressions
    atom_lo = ["1.0", "-1.0", "u0", "-u1", "v0", "-v1"]
    atom_hi = ["1.0", "-1.0", "u1", "-u0", "v1", "-v0"]

    def comp_case(comp: int, sel) -> str:
        arms = " ".join(
            f"WHEN {f} THEN {sel[int(_FACE_XYZ[f, comp])]}" for f in range(6)
        )
        return f"CASE face {arms} END"

    uv = (
        "CASE WHEN {s} >= 0.5 THEN (1.0/3.0)*(4*{s}*{s} - 1) "
        "ELSE (1.0/3.0)*(1 - 4*(1-{s})*(1-{s})) END"
    )

    def lvl_case(fn) -> str:
        arms = " ".join(f"WHEN {lv} THEN {fn(lv)}" for lv in range(level + 1))
        return f"(CASE lvl {arms} END)"

    def keep_pipeline(cand_sql: str) -> str:
        """Layered SELECTs: candidates -> st -> uv -> xyz intervals ->
        abs/hyp -> lat/lon bounds -> keep filter (+ the adaptive
        fully-inside flag). Mirrors _cell_latlon_bounds exactly."""
        return f"""
SELECT env_id, lon0, lat0, lon1, lat1, face, i, j, lvl,
       (lat_lo >= lat0 AND lat_hi <= lat1
        AND lon_lo >= lon0 AND lon_hi <= lon1) AS inside
FROM (
 SELECT *,
   atan2(zlo, CASE WHEN zlo >= 0 THEN hyp_hi ELSE hyp_lo END) AS lat_lo,
   atan2(zhi, CASE WHEN zhi >= 0 THEN hyp_lo ELSE hyp_hi END) AS lat_hi,
   CASE WHEN is_full THEN -pi() ELSE least(atan2(ylo,xlo), atan2(ylo,xhi),
        atan2(yhi,xlo), atan2(yhi,xhi)) END AS lon_lo,
   CASE WHEN is_full THEN pi() ELSE greatest(atan2(ylo,xlo), atan2(ylo,xhi),
        atan2(yhi,xlo), atan2(yhi,xhi)) END AS lon_hi
 FROM (
  SELECT *, sqrt(axlo*axlo + aylo*aylo) AS hyp_lo,
            sqrt(axhi*axhi + ayhi*ayhi) AS hyp_hi,
            (xlo <= 0 AND ylo <= 0 AND yhi >= 0) AS is_full
  FROM (
   SELECT *,
     CASE WHEN xlo <= 0 AND xhi >= 0 THEN 0 ELSE least(abs(xlo), abs(xhi)) END AS axlo,
     greatest(abs(xlo), abs(xhi)) AS axhi,
     CASE WHEN ylo <= 0 AND yhi >= 0 THEN 0 ELSE least(abs(ylo), abs(yhi)) END AS aylo,
     greatest(abs(ylo), abs(yhi)) AS ayhi
   FROM (
    SELECT *, {comp_case(0, atom_lo)} AS xlo, {comp_case(0, atom_hi)} AS xhi,
              {comp_case(1, atom_lo)} AS ylo, {comp_case(1, atom_hi)} AS yhi,
              {comp_case(2, atom_lo)} AS zlo, {comp_case(2, atom_hi)} AS zhi
    FROM (
     SELECT *, {uv.format(s='s0')} AS u0, {uv.format(s='s1')} AS u1,
               {uv.format(s='t0')} AS v0, {uv.format(s='t1')} AS v1
     FROM (
      SELECT *, i / power(2.0, lvl) AS s0, (i+1) / power(2.0, lvl) AS s1,
                j / power(2.0, lvl) AS t0, (j+1) / power(2.0, lvl) AS t1
      FROM ({cand_sql}) c0
     ) c1
    ) c2
   ) c3
  ) c4
 ) c5
) c6
WHERE lat_hi >= lat0 AND lat_lo <= lat1 AND lon_hi >= lon0 AND lon_lo <= lon1"""

    base_cand = """
SELECT env_id, lon0, lat0, lon1, lat1, fx.face AS face,
       CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS j, 0 AS lvl
FROM rects CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS face) fx"""
    stop = "AND NOT f.inside" if adaptive else ""
    step_cand = f"""
SELECT f.env_id, f.lon0, f.lat0, f.lon1, f.lat1, f.face,
       f.i * 2 + kid.di AS i, f.j * 2 + kid.dj AS j, f.lvl + 1 AS lvl
FROM frontier f CROSS JOIN (VALUES (0,0),(0,1),(1,0),(1,1)) kid(di, dj)
WHERE f.lvl < {level} {stop}"""

    emit = f"inside OR lvl = {level}" if adaptive else f"lvl = {level}"
    ijpos_rows = ",".join(
        f"({o},{ij},{int(_IJ_TO_POS[o][ij])})" for o in range(4) for ij in range(4)
    )
    return f"""
WITH RECURSIVE
rects AS (
  SELECT s_suppkey AS env_id,
    radians(CAST((s_suppkey*37) % 300 - 150 AS DOUBLE)) AS lon0,
    radians(CAST((s_suppkey*11) % 140 - 70 AS DOUBLE)) AS lat0,
    radians(CAST((s_suppkey*37) % 300 - 150 + 2 + s_suppkey % 5 AS DOUBLE)) AS lon1,
    radians(CAST((s_suppkey*11) % 140 - 70 + 1 + s_suppkey % 4 AS DOUBLE)) AS lat1
  FROM supplier),
frontier AS (
  {keep_pipeline(base_cand)}
  UNION ALL
  {keep_pipeline(step_cand)}
),
fin AS (SELECT env_id, lvl, face,
               i * {lvl_case(lambda lv: 1 << (30 - lv))} AS i,
               j * {lvl_case(lambda lv: 1 << (30 - lv))} AS j
        FROM frontier WHERE {emit}),
ijpos(orient, ij, pos) AS (VALUES {ijpos_rows}),
hil AS (
  SELECT env_id, lvl, face, i, j, 29 AS k, face % 2 AS orient,
         CAST(0 AS HUGEINT) AS pos
  FROM fin
  UNION ALL
  SELECT h.env_id, h.lvl, h.face, h.i, h.j, h.k - 1,
         xor(h.orient, CASE t.pos WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END),
         h.pos * 4 + t.pos
  FROM hil h JOIN ijpos t
    ON t.orient = h.orient AND t.ij = ((h.i >> h.k) & 1) * 2 + ((h.j >> h.k) & 1)
  WHERE h.k >= 30 - h.lvl
),
ids AS (SELECT env_id,
   CAST(face AS HUGEINT) * 2305843009213693952
     + pos * {lvl_case(lambda lv: 1 << (61 - 2 * lv))}
     + {lvl_case(lambda lv: 1 << (60 - 2 * lv))} AS uid
   FROM hil WHERE k = 29 - lvl)
SELECT CAST(env_id AS BIGINT) AS env_id,
       CAST(CASE WHEN uid >= 9223372036854775808
            THEN uid - 18446744073709551616 ELSE uid END AS BIGINT) AS s2_cell
FROM ids
"""


def _q_s2_cover_adaptive(spark, sf_dir):
    """Mixed-level adaptive cover (S2RegionCoverer shape): cells fully
    inside the rect emit at their coarse level; only boundary cells
    subdivide to level 9 — the compact cover the mixed-level containment
    join consumes. Same rects as s2_cover_l7; the oracle replays the
    adaptive recursion (early-emit rule included) bit-for-bit."""
    import pandas as pd

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("env_id"),
        ((F.col("s_suppkey") * 37) % 300 - 150).cast("double").alias("lon0"),
        ((F.col("s_suppkey") * 11) % 140 - 70).cast("double").alias("lat0"),
        ((F.col("s_suppkey") * 37) % 300 - 150 + 2 + F.col("s_suppkey") % 5)
        .cast("double").alias("lon1"),
        ((F.col("s_suppkey") * 11) % 140 - 70 + 1 + F.col("s_suppkey") % 4)
        .cast("double").alias("lat1"),
    )

    def cover(batches):
        from osm_hadoop_spark.functions.s2_cover import cells_for_envelope_s2

        for b in batches:
            cells, env = cells_for_envelope_s2(
                b["lon0"].to_numpy(), b["lat0"].to_numpy(),
                b["lon1"].to_numpy(), b["lat1"].to_numpy(), 9, adaptive=True,
            )
            yield pd.DataFrame(
                {"env_id": b["env_id"].to_numpy()[env], "s2_cell": cells}
            )

    return sup.mapInPandas(cover, schema="env_id bigint, s2_cell bigint")


def _q_s2_cover_join(spark, sf_dir):
    """Filter-and-refine spatial join ON THE S2 INDEX (the J3 pattern
    transplanted to the spherical index): 25 nation rects covered at
    level 9 (s2_cover BFS) -> equi-join against node parent cells ->
    exact lon/lat refine. Because the cover is a proven SUPERSET and the
    refine is exact, the oracle is simply the exact rect-containment
    join — any cover false-NEGATIVE (the corruption mode) would lose
    rows and fail the hash; false positives are discarded by refine."""
    import pandas as pd

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("region_id"),
        ((F.col("n_nationkey") * 53) % 320 - 160).cast("double").alias("lon0"),
        ((F.col("n_nationkey") * 19) % 150 - 75).cast("double").alias("lat0"),
        ((F.col("n_nationkey") * 53) % 320 - 160 + 4 + F.col("n_nationkey") % 7)
        .cast("double").alias("lon1"),
        ((F.col("n_nationkey") * 19) % 150 - 75 + 3 + F.col("n_nationkey") % 5)
        .cast("double").alias("lat1"),
    )

    def cover(batches):
        from osm_hadoop_spark.functions.s2_cover import cells_for_envelope_s2

        for b in batches:
            cells, env = cells_for_envelope_s2(
                b["lon0"].to_numpy(), b["lat0"].to_numpy(),
                b["lon1"].to_numpy(), b["lat1"].to_numpy(), 9,
            )
            yield pd.DataFrame(
                {"region_id": b["region_id"].to_numpy()[env], "s2_cell": cells}
            )

    cov = nat.mapInPandas(cover, schema="region_id bigint, s2_cell bigint")

    nodes = _nodes(spark, sf_dir)

    def assign(batches):
        from osm_hadoop_spark.functions.s2 import cell_for_lonlat

        for b in batches:
            b = b.copy()
            b["s2_cell"] = cell_for_lonlat(
                b["lon"].to_numpy(), b["lat"].to_numpy(), 9
            )
            yield b

    pts = nodes.mapInPandas(
        assign, schema="node_id bigint, lon double, lat double, s2_cell bigint"
    )
    cand = pts.join(cov, "s2_cell")  # filter stage: cell equi-join
    refined = cand.join(F.broadcast(nat), "region_id").filter(
        (F.col("lon") >= F.col("lon0")) & (F.col("lon") <= F.col("lon1"))
        & (F.col("lat") >= F.col("lat0")) & (F.col("lat") <= F.col("lat1"))
    )
    return refined.select("region_id", "node_id").distinct()


_ORACLE_S2_COVER_JOIN = f"""
WITH n AS ({_NODES_SQL}),
r AS (SELECT n_nationkey AS region_id,
        CAST((n_nationkey*53) % 320 - 160 AS DOUBLE) AS lon0,
        CAST((n_nationkey*19) % 150 - 75 AS DOUBLE) AS lat0,
        CAST((n_nationkey*53) % 320 - 160 + 4 + n_nationkey % 7 AS DOUBLE) AS lon1,
        CAST((n_nationkey*19) % 150 - 75 + 3 + n_nationkey % 5 AS DOUBLE) AS lat1
      FROM nation)
SELECT DISTINCT r.region_id, n.node_id
FROM r JOIN n ON n.lon BETWEEN r.lon0 AND r.lon1
             AND n.lat BETWEEN r.lat0 AND r.lat1
"""


def _ways_geom(spark, sf_dir):
    return _assembly_cached(spark, sf_dir, "global", _ways_geom_build)


def _ways_geom_build(spark, sf_dir):
    from osm_hadoop_spark.operators.way_assembly import (
        assemble_ways,
        join_node_coords,
    )

    return assemble_ways(
        _ways(spark, sf_dir),
        join_node_coords(_nodes(spark, sf_dir), _way_nodes(spark, sf_dir)),
    )


def _q_tile_cover(spark, sf_dir):
    # E9 candidate enumeration (filter stage of J3) at z5 — exercises the
    # big-envelope regime (world-spanning synthetic ways), so the zoom is
    # kept coarse to bound the cover
    from osm_hadoop_spark.operators.tile_join import assign_tiles

    assigned = assign_tiles(_ways_geom(spark, sf_dir), zoom=5, tms=False, refine=False)
    return assigned.groupBy("way_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_tiles"))


_ORACLE_TILE_COVER = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
j AS (SELECT wn.way_id, n.lon, n.lat FROM wn JOIN nodes n USING (node_id)),
env AS (SELECT way_id, min(lon) AS x0, max(lon) AS x1, min(lat) AS y0, max(lat) AS y1,
               count(*) AS np FROM j GROUP BY way_id HAVING count(*) > 1)
SELECT way_id,
  ({_duck_xt('x1', 5)} - {_duck_xt('x0', 5)} + 1)
  * ({_duck_yt('y0', 5)} - {_duck_yt('y1', 5)} + 1) AS n_tiles
FROM env
"""


def _q_tile_cover_jvm(spark, sf_dir):
    """Same cover as tile_cover_count_z5 through the whole-stage-codegen
    path (cover_impl='jvm': explode(sequence) x explode(sequence), no
    Arrow). Same oracle — the two queries pin the two physical strategies
    to identical values."""
    from osm_hadoop_spark.operators.tile_join import assign_tiles

    assigned = assign_tiles(
        _ways_geom(spark, sf_dir), zoom=5, tms=False, refine=False, cover_impl="jvm"
    )
    return assigned.groupBy("way_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tiles")
    )


def _q_tile_refine_jvm(spark, sf_dir):
    """Same filter-AND-refine join as tile_refine_z10 through the
    whole-stage-codegen path (cover_impl='jvm' now covers the exact
    refine too: tile bounds + separating-axis segment test as `exists()`
    over the coordinate arrays — zero Python workers). Same oracle — the
    two queries pin both physical strategies to identical values."""
    from osm_hadoop_spark.operators.tile_join import assign_tiles, tile_counts

    assigned = assign_tiles(
        _local_ways_geom(spark, sf_dir), zoom=10, tms=False, refine=True,
        cover_impl="jvm",
    )
    return tile_counts(assigned).select(
        "tile_id", F.col("n_ways").cast("bigint").alias("n_ways")
    )


def _q_tile_refine(spark, sf_dir):
    # J3 with exact segment-box refine at z10 over LOCAL ways; DuckDB twin
    # replicates cover enumeration + the separating-axis segment-box test
    from osm_hadoop_spark.operators.tile_join import assign_tiles, tile_counts

    assigned = assign_tiles(_local_ways_geom(spark, sf_dir), zoom=10, tms=False, refine=True)
    return tile_counts(assigned).select(
        "tile_id", F.col("n_ways").cast("bigint").alias("n_ways")
    )


def _duck_merc_lat(y_expr: str, z: int) -> str:
    """Inverse web-mercator tile row -> latitude, same op order as
    functions/tiles.py tile_bounds (sinh via exp since DuckDB lacks sinh;
    ulp-level agreement verified empirically on the driver tables)."""
    n = 1 << z
    a = f"pi()*(1.0 - 2.0*({y_expr})/{n})"
    return f"degrees(atan((exp({a}) - exp(-({a})))/2))"


def _build_tile_refine_oracle(z: int = 10, pts_sql: str | None = None,
                              max_length_deg: float | None = None) -> str:
    n = 1 << z
    # cross(d, corner - p1) signs — identical arithmetic order to
    # functions/spatial.py segment_box_intersects
    def c(bx_c: str, by_c: str) -> str:
        return f"((bx-ax)*({by_c}-ay) - (by2-ay)*({bx_c}-ax))"

    corners = [c("bxmin", "bymin"), c("bxmax", "bymin"), c("bxmin", "bymax"), c("bxmax", "bymax")]
    all_pos = " AND ".join(f"{e} > 0" for e in corners)
    all_neg = " AND ".join(f"{e} < 0" for e in corners)
    hit = f"""(
      least(ax, bx) <= bxmax AND greatest(ax, bx) >= bxmin
      AND least(ay, by2) <= bymax AND greatest(ay, by2) >= bymin
    ) AND (
      (ax >= bxmin AND ax <= bxmax AND ay >= bymin AND ay <= bymax)
      OR (bx >= bxmin AND bx <= bxmax AND by2 >= bymin AND by2 <= bymax)
      OR NOT (({all_pos}) OR ({all_neg}))
    )"""
    # F6 guard twin: planar polyline length (sum of segment lengths over the
    # SAME lead()-ordered segments the refine uses) <= max_length_deg.
    len_filter = ""
    if max_length_deg is not None:
        len_filter = f"""AND way_id IN (
    SELECT way_id FROM pre_seg
    GROUP BY 1
    HAVING sum(sqrt((bx-ax)*(bx-ax)+(by2-ay)*(by2-ay))) <= {max_length_deg!r}
  )"""
    return f"""
WITH p AS ({pts_sql or _LOCAL_WAY_PTS_SQL}),
pre_seg AS (
  SELECT way_id, lon AS ax, lat AS ay,
    lead(lon) OVER (PARTITION BY way_id ORDER BY ordinal, lon, lat) AS bx,
    lead(lat) OVER (PARTITION BY way_id ORDER BY ordinal, lon, lat) AS by2
  FROM p
  QUALIFY bx IS NOT NULL
),
env AS (
  SELECT way_id, min(lon) AS x0, max(lon) AS x1, min(lat) AS y0, max(lat) AS y1
  FROM p GROUP BY way_id HAVING count(*) > 1 {len_filter}
),
rng AS (
  SELECT way_id, {_duck_xt('x0', z)} AS xt0, {_duck_xt('x1', z)} AS xt1,
         {_duck_yt('y1', z)} AS yt0, {_duck_yt('y0', z)} AS yt1
  FROM env
),
cx AS (SELECT way_id, yt0, yt1, unnest(generate_series(xt0, xt1)) AS xt FROM rng),
cand AS (SELECT way_id, xt, unnest(generate_series(yt0, yt1)) AS yt FROM cx),
bounds AS (
  SELECT way_id, xt, yt,
    CAST(xt AS DOUBLE)/{n}*360.0 - 180.0 AS bxmin,
    CAST(xt+1 AS DOUBLE)/{n}*360.0 - 180.0 AS bxmax,
    {_duck_merc_lat('yt+1', z)} AS bymin,
    {_duck_merc_lat('yt', z)} AS bymax
  FROM cand
),
seg AS (SELECT * FROM pre_seg),
hits AS (
  SELECT b.way_id, b.xt, b.yt
  FROM bounds b JOIN seg s USING (way_id)
  GROUP BY b.way_id, b.xt, b.yt
  HAVING bool_or({hit})
)
SELECT (CAST({z} AS BIGINT) << 58) | (xt << 29) | yt AS tile_id,
       CAST(count(*) AS BIGINT) AS n_ways
FROM hits GROUP BY 1
"""


_ORACLE_TILE_REFINE = _build_tile_refine_oracle(10)


def _q_planet_e2e(spark, sf_dir):
    """End-to-end composition oracle (round-2 verdict item 3): synthesize
    span-format documents from the driver tables (JVM to_json — nodes from
    part, ways+nds from orders x lineitem), run the CHECKPOINTED
    plans/pipeline.planet_pipeline (parse S2 -> F1 tag filter -> J1 node
    join -> J2 assembly -> J3 z4 cover+refine -> A4 per-tile counts) through
    a temp SnapshotCatalog with real per-stage snapshots, and return the
    final tile_counts snapshot. The DuckDB twin replicates the WHOLE chain
    relationally (tag filter -> join -> envelope -> cover -> separating-axis
    refine -> count), proving the composition, not just the pieces."""
    import tempfile

    from osm_hadoop_spark.plans.pipeline import planet_pipeline
    from osm_hadoop_spark.sources.catalog import SnapshotCatalog

    node_docs = _nodes(spark, sf_dir).select(
        F.concat(F.lit("n"), F.col("node_id")).alias("doc_id"),
        F.array(F.struct(
            F.lit("osm.node").alias("kind"),
            F.to_json(F.struct(
                F.col("node_id").alias("id"), "lon", "lat"
            )).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("spans"),
    )
    li = _t(spark, sf_dir, "lineitem")
    nds = (
        li.select(
            F.col("l_orderkey").alias("way_id"),
            F.col("l_linenumber").cast("int").alias("ordinal"),
            F.col("l_partkey").alias("node_id"),
        )
        .groupBy("way_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("ordinal", "node_id"))),
            lambda s: s["node_id"],
        ).alias("nds"))
    )
    way_docs = _ways(spark, sf_dir).join(nds, "way_id").select(
        F.concat(F.lit("w"), F.col("way_id")).alias("doc_id"),
        F.array(F.struct(
            F.lit("osm.way").alias("kind"),
            F.to_json(F.struct(
                F.col("way_id").alias("id"), "tags", "nds"
            )).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("spans"),
    )
    # persist: the nodes and ways stages each scan `documents`; without the
    # cache the lineitem groupBy + to_json synthesis runs twice. Bounded
    # (one JSON doc per part/order row), unpersisted before returning.
    docs = node_docs.unionByName(way_docs).persist()
    cat = SnapshotCatalog(
        spark, tempfile.mkdtemp(prefix="planet_e2e_"), use_iceberg=False
    )
    p = planet_pipeline(spark, cat, docs, tag_keys=["highway"], zoom=4,
                        max_length_deg=50.0)  # F6 guard, reference-faithful
    try:
        p.run(resume=False)
    finally:
        docs.unpersist()
    return p.table("tile_counts").select(
        F.col("tile_id").cast("bigint").alias("tile_id"),
        F.col("n_ways").cast("bigint").alias("n_ways"),
    )


# ordinal = row_number over (l_linenumber, l_partkey): the EXACT position
# the Spark path assigns in the nds array (doc synthesis sorts
# struct(linenumber, node_id); lineitem carries duplicate linenumbers, so
# a (lon, lat) tie-break would order vertices differently)
_E2E_PTS_SQL = f"""
SELECT wn.way_id, wn.ordinal, n.lon, n.lat
FROM (SELECT l_orderkey AS way_id,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey) AS ordinal,
             l_partkey AS node_id FROM lineitem) wn
JOIN ({_NODES_SQL}) n USING (node_id)
WHERE wn.way_id IN
  (SELECT o_orderkey FROM orders WHERE o_orderpriority <> '5-LOW')
"""
_ORACLE_PLANET_E2E = _build_tile_refine_oracle(
    4, pts_sql=_E2E_PTS_SQL, max_length_deg=50.0
)


_TRI_SQL = (
    "SELECT n_nationkey AS boundary_id, "
    "CAST((n_nationkey*13) % 340 - 170 AS DOUBLE) AS cx, "
    "CAST((n_nationkey*7) % 160 - 80 AS DOUBLE) AS cy FROM nation"
)


def _q_pip(spark, sf_dir):
    # E8/J3 refine: ray-casting PIP of points against triangle boundaries
    import numpy as np
    import pandas as pd

    tri = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("boundary_id"),
        ((F.col("n_nationkey") * 13) % 340 - 170).cast("double").alias("cx"),
        ((F.col("n_nationkey") * 7) % 160 - 80).cast("double").alias("cy"),
    )
    pts = _points(spark, sf_dir).select(
        "point_id",
        (F.col("lon") + 0.25).alias("px"),
        (F.col("lat") + 0.125).alias("py"),
    )
    pairs = pts.crossJoin(F.broadcast(tri))

    def refine(batches):
        from osm_hadoop_spark.functions.spatial import point_in_polygon_pairs

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            n = pdf.shape[0]
            cx = pdf["cx"].to_numpy()
            cy = pdf["cy"].to_numpy()
            # triangle (cx, cy+12), (cx-16, cy-8), (cx+20, cy-4)
            poly_xs = np.column_stack([cx, cx - 16, cx + 20]).ravel()
            poly_ys = np.column_stack([cy + 12, cy - 8, cy - 4]).ravel()
            inside = point_in_polygon_pairs(
                pdf["px"].to_numpy(), pdf["py"].to_numpy(),
                poly_xs, poly_ys, np.full(n, 3, dtype=np.int64),
            )
            out = pdf.loc[inside, ["point_id", "boundary_id"]]
            yield out

    return pairs.mapInPandas(refine, schema="point_id bigint, boundary_id bigint")


def _q_polygon_fill(spark, sf_dir):
    """Scanline fill of the 25 nation triangles (pip_triangles geometry)
    at 0.25-unit pixels — RLE spans per pixel row. The twin replicates
    the same even-odd pairing in SQL (operators/polygon_fill.py); the
    pytest independently checks fill == ray-casting PIP at pixel centers.
    """
    from osm_hadoop_spark.operators.polygon_fill import scanline_fill_spans

    cx = ((F.col("n_nationkey") * 13) % 340 - 170).cast("double")
    cy = ((F.col("n_nationkey") * 7) % 160 - 80).cast("double")
    # triangle (cx, cy+12), (cx-16, cy-8), (cx+20, cy-4) in 0.25-unit
    # pixels: multiply by 4 (exact — power of two on integral coords)
    polys = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("poly_id"),
        F.array(cx * 4, cx * 4 - 64, cx * 4 + 80).alias("xs"),
        F.array(cy * 4 + 48, cy * 4 - 32, cy * 4 - 16).alias("ys"),
    )
    return scanline_fill_spans(polys)


def _q_polylabel(spark, sf_dir):
    """Grid pole-of-inaccessibility (operators/polylabel.py) of the 25
    nation triangles in polygon_fill's 0.25-unit pixel coordinates: the
    interior lattice cell farthest from the boundary, even-odd interior
    test and point-segment distances both exact in doubled integers."""
    from osm_hadoop_spark.operators.polylabel import grid_polylabel

    cx = ((F.col("n_nationkey") * 13) % 340 - 170).cast("bigint")
    cy = ((F.col("n_nationkey") * 7) % 160 - 80).cast("bigint")
    polys = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("poly_id"),
        F.array(cx * 4, cx * 4 - 64, cx * 4 + 80).alias("xs"),
        F.array(cy * 4 + 48, cy * 4 - 32, cy * 4 - 16).alias("ys"),
    )
    return grid_polylabel(polys)


_POLYLABEL_D2Q = """CASE
  WHEN (qx-x1)*(x2-x1)+(qy-y1)*(y2-y1) <= 0
    THEN ((qx-x1)*(qx-x1)+(qy-y1)*(qy-y1)) * 1048576
  WHEN (qx-x1)*(x2-x1)+(qy-y1)*(y2-y1) >= (x2-x1)*(x2-x1)+(y2-y1)*(y2-y1)
    THEN ((qx-x2)*(qx-x2)+(qy-y2)*(qy-y2)) * 1048576
  ELSE ((qx-x1)*(qx-x1)+(qy-y1)*(qy-y1)) * 1048576
       - (((qx-x1)*(x2-x1)+(qy-y1)*(y2-y1))
          * ((qx-x1)*(x2-x1)+(qy-y1)*(y2-y1)) * 1048576)
         // ((x2-x1)*(x2-x1)+(y2-y1)*(y2-y1))
END"""

_ORACLE_POLYLABEL = f"""
WITH tri AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         CAST((n_nationkey * 13) % 340 - 170 AS BIGINT) AS cx,
         CAST((n_nationkey * 7) % 160 - 80 AS BIGINT) AS cy
  FROM nation),
v AS (SELECT poly_id,
        [cx * 4, cx * 4 - 64, cx * 4 + 80] AS xs,
        [cy * 4 + 48, cy * 4 - 32, cy * 4 - 16] AS ys FROM tri),
e AS (
  SELECT poly_id, xs[i] * 2 AS x1, ys[i] * 2 AS y1,
         xs[(i % 3) + 1] * 2 AS x2, ys[(i % 3) + 1] * 2 AS y2
  FROM v CROSS JOIN (SELECT unnest([1, 2, 3]) AS i)),
bb AS (SELECT poly_id, list_min(xs) AS xlo, list_max(xs) AS xhi,
              list_min(ys) AS ylo, list_max(ys) AS yhi FROM v),
c AS (SELECT poly_id, x.px, y.py, x.px * 2 + 1 AS qx, y.py * 2 + 1 AS qy
      FROM bb, UNNEST(generate_series(xlo, xhi)) AS x(px),
           UNNEST(generate_series(ylo, yhi)) AS y(py)),
ce AS (
  SELECT c.poly_id, px, py,
    CASE WHEN least(y1, y2) < qy AND qy < greatest(y1, y2)
          AND (((y2 - y1) > 0 AND (qy-y1)*(x2-x1) - (qx-x1)*(y2-y1) > 0)
            OR ((y2 - y1) < 0 AND (qy-y1)*(x2-x1) - (qx-x1)*(y2-y1) < 0))
      THEN 1 ELSE 0 END AS crossing,
    {_POLYLABEL_D2Q} AS d2q
  FROM c JOIN e ON e.poly_id = c.poly_id),
agg AS (SELECT poly_id, px, py,
               sum(crossing) % 2 = 1 AS interior,
               min(d2q) AS d2q
        FROM ce GROUP BY 1, 2, 3),
r AS (SELECT poly_id, px, py, d2q,
             row_number() OVER (PARTITION BY poly_id
                                ORDER BY d2q DESC, px, py) AS rn
      FROM agg WHERE interior)
SELECT poly_id, px, py, CAST(d2q AS BIGINT) AS d2q FROM r WHERE rn = 1
"""


_ORACLE_POLYGON_FILL = """
WITH tri AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         CAST((n_nationkey * 13) % 340 - 170 AS DOUBLE) AS cx,
         CAST((n_nationkey * 7) % 160 - 80 AS DOUBLE) AS cy
  FROM nation
), v AS (
  SELECT poly_id,
         [cx * 4, cx * 4 - 64, cx * 4 + 80] AS xs,
         [cy * 4 + 48, cy * 4 - 32, cy * 4 - 16] AS ys
  FROM tri
), e AS (
  SELECT poly_id, xs[i] AS x1, ys[i] AS y1,
         xs[(i % 3) + 1] AS x2, ys[(i % 3) + 1] AS y2
  FROM v CROSS JOIN (SELECT unnest([1, 2, 3]) AS i)
  WHERE ys[i] <> ys[(i % 3) + 1]
), cr AS (
  SELECT poly_id, row,
         x1 + ((CAST(row AS DOUBLE) + 0.5) - y1) * (x2 - x1) / (y2 - y1) AS cx
  FROM e, unnest(generate_series(
         CAST(ceil(least(y1, y2) - 0.5) AS BIGINT),
         CAST(ceil(greatest(y1, y2) - 0.5) AS BIGINT) - 1)) AS s(row)
), grp AS (
  SELECT poly_id, row, list(cx ORDER BY cx) AS cxs
  FROM cr GROUP BY poly_id, row HAVING count(*) >= 2
), spans AS (
  SELECT poly_id, row, CAST(i - 1 AS BIGINT) AS span,
         CAST(ceil(cxs[2 * i - 1] - 0.5) AS BIGINT) AS x_px,
         CAST(ceil(cxs[2 * i] - 0.5) AS BIGINT)
           - CAST(ceil(cxs[2 * i - 1] - 0.5) AS BIGINT) AS n_px
  FROM grp, unnest(generate_series(1, len(cxs) // 2)) AS s(i)
)
SELECT poly_id, CAST(row AS BIGINT) AS row, span, x_px, n_px
FROM spans WHERE n_px > 0
"""


def _q_geohash_points(spark, sf_dir):
    """Geohash encode (functions/geohash.py) of the point fixture at
    precision 7 plus the precision-3 prefix rollup — cell-prefix
    containment is the hierarchy. The twin is built from the same bit
    layout by geohash_sql()."""
    from osm_hadoop_spark.functions.geohash import geohash_col

    pts = _points(spark, sf_dir)
    gh = geohash_col(F.col("lon"), F.col("lat"), 7)
    return pts.select(
        "point_id",
        gh.alias("gh7"),
        F.substring(gh, 1, 3).alias("gh3"),
    )


def _oracle_geohash_points() -> str:
    from osm_hadoop_spark.functions.geohash import geohash_sql

    gh = geohash_sql("lon", "lat", 7)
    return (
        f"WITH p AS ({_POINTS_SQL}) "
        f"SELECT point_id, {gh} AS gh7, substr({gh}, 1, 3) AS gh3 FROM p"
    )


def _dp_ways(spark, sf_dir):
    """25 synthetic ways for the simplification family: x = vertex
    ordinal, y = parabola + integer zigzag (every value an exact double
    in both engines)."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    w = Window.partitionBy("way_id").orderBy("c_custkey")
    pts = (
        c.withColumn("way_id", (F.col("c_custkey") % 25).cast("long"))
        .withColumn("t", F.row_number().over(w) - 1)
        .select(
            "way_id",
            F.col("t").cast("double").alias("x"),
            (
                (F.col("t") * F.col("t")).cast("double") / F.lit(8.0)
                + ((F.col("c_custkey") * 7) % 5).cast("double")
            ).alias("y"),
            "t",
        )
    )
    return pts.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("t", "x", "y"))).alias("arr")
    ).select(
        "way_id",
        F.transform("arr", lambda s: s["x"]).alias("xs"),
        F.transform("arr", lambda s: s["y"]).alias("ys"),
    )


def _q_simplify_dp(spark, sf_dir):
    """Douglas-Peucker simplification (operators/simplify.py) of the 25
    `_dp_ways` polylines, eps = 3.0. The oracle REPLAYS the same
    recursion as a recursive CTE — split at the first-max cr^2 interior
    point while cr^2 > 9.0 * len2 — so the kept vertex set is compared
    exactly, not approximately."""
    from osm_hadoop_spark.operators.simplify import simplify_ways

    return simplify_ways(_dp_ways(spark, sf_dir), eps=3.0)


# shared DP-replay CTE (pts/ways/spans/kept) — the simplify oracle reads
# the kept vertices; the Hausdorff oracle measures dropped-vertex error
# against them.
_DUCK_DP_CTE = """
WITH RECURSIVE pts AS (
  SELECT CAST(c_custkey % 25 AS BIGINT) AS way_id,
         CAST(row_number() OVER (PARTITION BY c_custkey % 25 ORDER BY c_custkey) - 1 AS BIGINT) AS idx,
         CAST(row_number() OVER (PARTITION BY c_custkey % 25 ORDER BY c_custkey) - 1 AS DOUBLE) AS x,
         CAST((row_number() OVER (PARTITION BY c_custkey % 25 ORDER BY c_custkey) - 1)
              * (row_number() OVER (PARTITION BY c_custkey % 25 ORDER BY c_custkey) - 1) AS DOUBLE) / 8.0
           + CAST((c_custkey * 7) % 5 AS DOUBLE) AS y
  FROM customer
), ways AS (
  SELECT way_id, max(idx) AS last FROM pts GROUP BY way_id
), spans AS (
  SELECT way_id, CAST(0 AS BIGINT) AS i0, last AS i1 FROM ways
  UNION ALL
  SELECT u.way_id, u.ci0, u.ci1
  FROM (
    SELECT s.way_id, am.j,
           unnest([struct_pack(ci0 := s.i0, ci1 := am.j),
                   struct_pack(ci0 := am.j, ci1 := s.i1)], recursive := true)
    FROM spans s
    JOIN LATERAL (
      SELECT p.idx AS j,
             (CASE WHEN len2 = 0 THEN d2 ELSE cr * cr END) AS c2,
             (CASE WHEN len2 = 0 THEN 9.0 ELSE 9.0 * len2 END) AS rhs
      FROM (
        SELECT p.idx,
               ((p1.x - p0.x) * (p.y - p0.y) - (p.x - p0.x) * (p1.y - p0.y)) AS cr,
               ((p1.x - p0.x) * (p1.x - p0.x) + (p1.y - p0.y) * (p1.y - p0.y)) AS len2,
               ((p.x - p0.x) * (p.x - p0.x) + (p.y - p0.y) * (p.y - p0.y)) AS d2
        FROM pts p
        JOIN pts p0 ON p0.way_id = s.way_id AND p0.idx = s.i0
        JOIN pts p1 ON p1.way_id = s.way_id AND p1.idx = s.i1
        WHERE p.way_id = s.way_id AND p.idx > s.i0 AND p.idx < s.i1
      ) p
      ORDER BY c2 DESC, p.idx ASC LIMIT 1
    ) am ON am.c2 > am.rhs
  ) u(way_id, j, ci0, ci1)
), kept AS (
  SELECT DISTINCT way_id, idx FROM (
    SELECT way_id, i0 AS idx FROM spans
    UNION ALL
    SELECT way_id, i1 AS idx FROM spans
  )
)
"""

_ORACLE_SIMPLIFY_DP = _DUCK_DP_CTE + """
SELECT k.way_id,
       CAST(row_number() OVER (PARTITION BY k.way_id ORDER BY k.idx) - 1 AS BIGINT) AS ord,
       p.x, p.y
FROM kept k JOIN pts p ON p.way_id = k.way_id AND p.idx = k.idx
"""


# --- directed Hausdorff simplification error (functions/geodesic.py) -------
# h2 = max over ORIGINAL vertices of min squared distance to a KEPT
# vertex — the standard (squared) error bound of the simplification.
# Engine = one nested higher-order array expression per way row (no
# Python, no extra shuffle beyond the kept-vertex regroup); oracle =
# relational min/max over the exploded point sets, a different
# evaluation order with identical exact-double results.
def _q_simplify_hausdorff(spark, sf_dir):
    from osm_hadoop_spark.functions.geodesic import directed_hausdorff2
    from osm_hadoop_spark.operators.simplify import simplify_ways

    ways = _dp_ways(spark, sf_dir)
    kept = (
        simplify_ways(ways, eps=3.0)
        .groupBy("way_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("ord", "x", "y"))).alias("ka")
        )
        .select(
            "way_id",
            F.size("ka").cast("bigint").alias("n_kept"),
            F.transform("ka", lambda s: s["x"]).alias("kxs"),
            F.transform("ka", lambda s: s["y"]).alias("kys"),
        )
    )
    return ways.join(kept, "way_id").select(
        "way_id",
        F.size("xs").cast("bigint").alias("n_orig"),
        "n_kept",
        directed_hausdorff2("xs", "ys", "kxs", "kys").alias("h2"),
    )


_ORACLE_HAUSDORFF = _DUCK_DP_CTE + """
, mind AS (
  SELECT p.way_id, p.idx,
         min((p.x - kp.x) * (p.x - kp.x) + (p.y - kp.y) * (p.y - kp.y)) AS md2
  FROM pts p
  JOIN kept k ON k.way_id = p.way_id
  JOIN pts kp ON kp.way_id = k.way_id AND kp.idx = k.idx
  GROUP BY p.way_id, p.idx)
SELECT m.way_id,
       CAST(count(*) AS BIGINT) AS n_orig,
       CAST(any_value(nk) AS BIGINT) AS n_kept,
       max(m.md2) AS h2
FROM mind m
JOIN (SELECT way_id, count(*) AS nk FROM kept GROUP BY way_id) c
  ON c.way_id = m.way_id
GROUP BY m.way_id
"""


def _duck_edge_cross(x1, y1, x2, y2):
    return (
        f"(CASE WHEN (({y1}) > py) != (({y2}) > py) "
        f"AND ({x1}) + (py - ({y1})) * (({x2}) - ({x1})) / (({y2}) - ({y1})) > px "
        f"THEN 1 ELSE 0 END)"
    )


_ORACLE_PIP = f"""
WITH tri AS ({_TRI_SQL}),
p AS (SELECT point_id, lon + 0.25 AS px, lat + 0.125 AS py FROM ({_POINTS_SQL}))
SELECT point_id, boundary_id FROM p, tri
WHERE (
  {_duck_edge_cross('cx', 'cy+12', 'cx-16', 'cy-8')}
  + {_duck_edge_cross('cx-16', 'cy-8', 'cx+20', 'cy-4')}
  + {_duck_edge_cross('cx+20', 'cy-4', 'cx', 'cy+12')}
) % 2 = 1
"""


def _q_way_polygon(spark, sf_dir):
    """Way x boundary-polygon intersection join (north-rule containment of
    WAY geometries against boundary polygons; nodes covered by
    pip_triangles). Same triangle boundaries as the PIP query; local
    assembled ways; engine kernel = any-vertex-inside OR proper
    segment-edge crossing, both replicated bit-exactly in the oracle."""
    from osm_hadoop_spark.operators.polygon_join import way_polygon_join

    tri = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("boundary_id"),
        ((F.col("n_nationkey") * 13) % 340 - 170).cast("double").alias("cx"),
        ((F.col("n_nationkey") * 7) % 160 - 80).cast("double").alias("cy"),
    ).select(
        "boundary_id",
        F.array(F.col("cx"), F.col("cx") - 16, F.col("cx") + 20).alias("pxs"),
        F.array(F.col("cy") + 12, F.col("cy") - 8, F.col("cy") - 4).alias("pys"),
    )
    return way_polygon_join(_local_ways_geom(spark, sf_dir), tri).select(
        "way_id", "boundary_id"
    )


def _duck_d(bx1, by1, bx2, by2, ax, ay):
    return f"(({bx2})-({bx1}))*(({ay})-({by1})) - (({by2})-({by1}))*(({ax})-({bx1}))"


_ORACLE_WAY_POLYGON = f"""
WITH raw AS ({_LOCAL_WAY_PTS_SQL}),
seq AS (SELECT way_id, lon, lat,
        row_number() OVER (PARTITION BY way_id ORDER BY ordinal, lon, lat) AS seq,
        count(*) OVER (PARTITION BY way_id) AS npts
        FROM raw),
pts AS (SELECT * FROM seq WHERE npts > 1),
tri AS (SELECT n_nationkey AS boundary_id,
        CAST(n_nationkey*13 % 340 - 170 AS DOUBLE) AS cx,
        CAST(n_nationkey*7 % 160 - 80 AS DOUBLE) AS cy FROM nation),
vin AS (
  SELECT DISTINCT p.way_id, t.boundary_id
  FROM (SELECT way_id, lon AS px, lat AS py FROM pts) p, tri t
  WHERE ({_duck_edge_cross('cx', 'cy+12', 'cx-16', 'cy-8')}
       + {_duck_edge_cross('cx-16', 'cy-8', 'cx+20', 'cy-4')}
       + {_duck_edge_cross('cx+20', 'cy-4', 'cx', 'cy+12')}) % 2 = 1),
segs AS (SELECT a.way_id, a.lon AS ax1, a.lat AS ay1, b.lon AS ax2, b.lat AS ay2
         FROM pts a JOIN pts b ON a.way_id = b.way_id AND b.seq = a.seq + 1),
edges AS (
  SELECT boundary_id, cx AS bx1, cy+12 AS by1, cx-16 AS bx2, cy-8 AS by2 FROM tri
  UNION ALL SELECT boundary_id, cx-16, cy-8, cx+20, cy-4 FROM tri
  UNION ALL SELECT boundary_id, cx+20, cy-4, cx, cy+12 FROM tri),
xpairs AS (
  SELECT DISTINCT s.way_id, e.boundary_id
  FROM segs s, edges e
  WHERE (({_duck_d('e.bx1','e.by1','e.bx2','e.by2','s.ax1','s.ay1')} > 0)
         != ({_duck_d('e.bx1','e.by1','e.bx2','e.by2','s.ax2','s.ay2')} > 0))
    AND (({_duck_d('s.ax1','s.ay1','s.ax2','s.ay2','e.bx1','e.by1')} > 0)
         != ({_duck_d('s.ax1','s.ay1','s.ax2','s.ay2','e.bx2','e.by2')} > 0))
)
SELECT way_id, boundary_id FROM (SELECT * FROM vin UNION SELECT * FROM xpairs)
"""


def _q_knn(spark, sf_dir):
    from osm_hadoop_spark.operators.knn import knn_join

    qpts = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("point_id"),
        ((F.col("n_nationkey") * 19) % 340 - 170 + 0.25).cast("double").alias("lon"),
        ((F.col("n_nationkey") * 23) % 160 - 80 + 0.125).cast("double").alias("lat"),
    )
    feats = _nodes(spark, sf_dir).select(
        F.col("node_id").alias("feature_id"),
        F.array("lon").alias("xs"),
        F.array("lat").alias("ys"),
    )
    out = knn_join(qpts, feats, k=3, r0=2.0)
    return out.select(
        "point_id", "feature_id", "dist", F.col("rank").cast("bigint").alias("rank")
    )


_ORACLE_KNN = f"""
WITH q AS (SELECT n_nationkey AS point_id,
             CAST((n_nationkey*19) % 340 - 170 AS DOUBLE) + 0.25 AS qx,
             CAST((n_nationkey*23) % 160 - 80 AS DOUBLE) + 0.125 AS qy FROM nation),
n AS ({_NODES_SQL}),
d AS (SELECT q.point_id, n.node_id AS feature_id,
        sqrt((qx - lon)*(qx - lon) + (qy - lat)*(qy - lat)) AS dist
      FROM q, n),
r AS (SELECT point_id, feature_id, dist,
        row_number() OVER (PARTITION BY point_id ORDER BY dist, feature_id) AS rank
      FROM d)
SELECT point_id, feature_id, dist, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3
"""


def _q_zonal(spark, sf_dir):
    # A5 zonal histogram over point-sampled raster values (events table)
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        ((F.col("event_id") * 11) % 2720 / 8.0 - 170.0).alias("lon"),
        ((F.col("event_id") * 13) % 1280 / 8.0 - 80.0).alias("lat"),
        (F.col("event_id") % 110).cast("int").alias("val"),
    )

    def assign(batches):
        from osm_hadoop_spark.functions.tiles import tile_for_point, unpack_tile

        for pdf in batches:
            t = tile_for_point(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 14)
            _z, x, y = unpack_tile(t)
            yield pd.DataFrame({"tx": x, "ty": y, "val": pdf["val"]})

    cells = ev.mapInPandas(assign, schema="tx bigint, ty bigint, val int")
    return cells.groupBy("tx", "ty", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).select("tx", "ty", F.col("val").cast("bigint").alias("val"), "cnt")


_ORACLE_ZONAL = f"""
WITH ev AS (SELECT CAST((event_id*11) % 2720 AS DOUBLE)/8.0 - 170.0 AS lon,
                   CAST((event_id*13) % 1280 AS DOUBLE)/8.0 - 80.0 AS lat,
                   event_id % 110 AS val FROM events)
SELECT {_duck_xt('lon', 14)} AS tx, {_duck_yt('lat', 14)} AS ty,
       CAST(val AS BIGINT) AS val, CAST(count(*) AS BIGINT) AS cnt
FROM ev GROUP BY 1, 2, 3
"""


def _q_tag_filter(spark, sf_dir):
    from osm_hadoop_spark.sources.spans import filter_ways_by_tags

    ways = _ways(spark, sf_dir)
    return filter_ways_by_tags(ways, ["highway"]).select(
        "way_id", F.col("tags")["highway"].alias("highway")
    )


_ORACLE_TAG_FILTER = f"""
SELECT o_orderkey AS way_id, {_HW_CASE} AS highway
FROM orders WHERE o_orderpriority != '5-LOW'
"""


def _q_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
            F.min("l_quantity").cast("bigint").alias("min_qty"),
            F.max("l_quantity").cast("bigint").alias("max_qty"),
        )
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
  CAST(count(*) AS BIGINT) AS count_order,
  CAST(min(l_quantity) AS BIGINT) AS min_qty,
  CAST(max(l_quantity) AS BIGINT) AS max_qty
FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag, l_linestatus
"""


def _q_dim_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
    )


_ORACLE_DIM_JOIN = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


def _q_window_topk(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_ORACLE_WINDOW_TOPK = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey, CAST(rank AS BIGINT) AS rank
FROM (SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders) WHERE rank <= 3
"""


def _q_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))  # parquet ts is NTZ; session tz = UTC
    gap = ms - F.lag(ms).over(w)
    return (
        ev.withColumn("new_session", F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


_ORACLE_SESSIONIZE = """
WITH g AS (SELECT user_id,
    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 1800000
         OR lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id
"""


def _q_asof_join(spark, sf_dir):
    """As-of join: for every `error` event, the most recent `view` event
    by the same user at or before it (inclusive), plus the gap in
    microseconds; NULL when the user had no prior view.

    Operator: operators/asof.py (union + ordered-window scan — ONE key
    shuffle, no per-key join product). The oracle is DuckDB's native
    ASOF LEFT JOIN, i.e. a genuinely independent algorithm for the same
    semantics, not a replica of this plan. The right side is deduped per
    (user_id, ts) first so equal-timestamp winners are well-defined in
    both engines.
    """
    from osm_hadoop_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event"))
    )
    # no-match rows coalesce to -1 sentinels: the operator's left-outer
    # NULLs are exercised in tests/test_asof.py, while the driver's
    # value-hash comparison stays on NULL-free columns
    return asof_join(
        err, views, on=["user_id"], left_ts="ts", right_ts="ts",
        right_payload=["view_event"],
    ).select(
        "event_id",
        "user_id",
        F.coalesce(F.col("asof_view_event"), F.lit(-1)).alias("view_event"),
        F.coalesce(
            F.unix_micros(F.col("ts").cast("timestamp")) - F.col("asof_ts_us"),
            F.lit(-1),
        ).alias("gap_us"),
    )


_ORACLE_ASOF_JOIN = """
WITH v AS (SELECT user_id, ts, max(event_id) AS view_event
           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
     e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
SELECT e.event_id, e.user_id,
       coalesce(v.view_event, -1) AS view_event,
       coalesce(epoch_us(e.ts) - epoch_us(v.ts), -1) AS gap_us
FROM e ASOF LEFT JOIN v ON e.user_id = v.user_id AND e.ts >= v.ts
"""


def _q_interval_join(spark, sf_dir):
    """Interval overlap join (bucketized filter-and-refine,
    operators/interval_join.py): 2-hour windows after each error event vs
    30-minute windows after each view event, same user. The oracle is the
    plain inequality join — DuckDB's optimizer handles the theta join at
    this scale, while the Spark plan is the hour-bucketed equi-join that
    survives 100 TB. overlap_us is exact integer arithmetic."""
    from osm_hadoop_spark.operators.interval_join import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    a = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("a_event"),
        us.alias("a_start"),
        (us + F.lit(7_200_000_000)).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("b_event"),
        us.alias("b_start"),
        (us + F.lit(1_800_000_000)).alias("b_end"),
    )
    return interval_overlap_join(a, b, on="user_id").select(
        "user_id",
        "a_event",
        "b_event",
        (
            F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
        ).alias("overlap_us"),
    )


_ORACLE_INTERVAL_JOIN = """
WITH a AS (
  SELECT user_id, event_id AS a_event,
         epoch_us(ts) AS a_start, epoch_us(ts) + 7200000000 AS a_end
  FROM events WHERE event_type = 'error'
), b AS (
  SELECT user_id, event_id AS b_event,
         epoch_us(ts) AS b_start, epoch_us(ts) + 1800000000 AS b_end
  FROM events WHERE event_type = 'view'
)
SELECT a.user_id, a_event, b_event,
       least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us
FROM a JOIN b ON a.user_id = b.user_id
             AND a_start < b_end AND b_start < a_end
"""


def _q_semi_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
    big = o.filter(F.col("o_totalprice") > 450000).select("o_custkey")
    return with_orders.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select(F.col("c_custkey").alias("custkey"))


_ORACLE_SEMI_ANTI = """
SELECT c_custkey AS custkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
"""


def _q_running_total(spark, sf_dir):
    """Cumulative window aggregate (running total per customer). Prices
    convert to integer cents (floor(x*100+0.5), identical in both
    engines) so the running sum is exact integer arithmetic — immune to
    each engine's window-sum evaluation order (DuckDB may use a segment
    tree, Spark accumulates sequentially; double sums would differ)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(w).alias("running_cents"),
    )


_ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cents
FROM orders
"""


def _q_cube_lineitem(spark, sf_dir):
    """OLAP CUBE over (l_returnflag, l_linestatus): all four grouping
    sets in ONE pass (Spark expands to a single Expand + hash aggregate
    — map-side partial per set, no per-set rescan, which is the point
    of CUBE at 100 TB vs four UNION'd aggregates). grouping_id
    disambiguates subtotal NULLs from data NULLs; both engines build it
    with the first cube column as the high bit."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).alias("sum_cents"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            F.col("gid").cast("bigint").alias("gid"),
            "n_rows",
            "sum_cents",
        )
    )


_ORACLE_CUBE = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       CAST(2 * GROUPING(l_returnflag)
            + GROUPING(l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _q_exact_quantiles(spark, sf_dir):
    """Exact linear-interpolation percentiles per group. Spark
    `percentile` and DuckDB `quantile_cont` share the (n-1)*p definition
    and match bit-exactly (probed). Scale note: exact percentiles buffer
    each group's values — the 100 TB path is percentile_approx (t-digest,
    mergeable partial agg); this query pins the exact baseline the
    approximation is judged against."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("q50"),
        F.expr("percentile(value, 0.9)").alias("q90"),
        F.expr("percentile(value, 0.99)").alias("q99"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


_ORACLE_EXACT_QUANTILES = """
SELECT event_type,
       quantile_cont(value, 0.5) AS q50,
       quantile_cont(value, 0.9) AS q90,
       quantile_cont(value, 0.99) AS q99,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""

_EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]


def _q_pivot_events(spark, sf_dir):
    """Pivot (long -> wide) with an explicit value list (no extra
    distinct job); missing combinations coalesce to 0."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


_ORACLE_PIVOT_EVENTS = """
SELECT user_id,
  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup
FROM events GROUP BY user_id
"""


def _q_rollup_orders(spark, sf_dir):
    """ROLLUP grouping sets with grouping_id disambiguation (a real
    NULL key vs a rolled-up one). min/max instead of sum(double): they
    are order-independent, so the comparison stays exact."""
    o = _t(spark, sf_dir, "orders")
    # rolled-up keys label as '(all)' (gid already disambiguates a
    # hypothetical real NULL) so the driver hash sees NULL-free columns
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            "n", "min_price", "max_price", "gid",
        )
    )


_ORACLE_ROLLUP_ORDERS = """
SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
       coalesce(o_orderpriority, '(all)') AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


# --- training-data pipeline ops over documents/embeddings ------------------


def _q_dedup_exact(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import exact_clusters

    return exact_clusters(_t(spark, sf_dir, "documents")).select(
        "text_md5", F.col("n_docs").cast("bigint").alias("n_docs"), "rep_doc"
    )


_ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS rep_doc
FROM documents GROUP BY md5(text)
"""

_GRAM3 = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
_DUCK_SHINGLES = (
    "list_sort(list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 2, 0)), "
    f"i -> {_duck_h60(_GRAM3)})))"
)


def _duck_shingles_k(k: int) -> str:
    """The _DUCK_SHINGLES twin of dedup.shingles_col for arbitrary k."""
    gram = " || ' ' || ".join(
        "toks[i]" if j == 0 else f"toks[i+{j}]" for j in range(k)
    )
    return (
        "list_sort(list_distinct(list_transform("
        f"generate_series(1, greatest(len(toks) - {k - 1}, 0)), "
        f"i -> {_duck_h60(gram)})))"
    )


def _q_dedup_jaccard(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), t_num=3, t_den=10
    ).select(
        "doc_a", "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("uni").cast("bigint").alias("uni"),
    )


_ORACLE_DEDUP_JACCARD = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM toks),
shf AS (SELECT doc_id, sh, sh[1] AS block FROM sh WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
  FROM shf a JOIN shf b ON a.block = b.block AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, inter, uni FROM pairs WHERE inter * 10 >= uni * 3
"""


# EXACT set-similarity self-join (PPJoin-family prefix filter): complete
# recall by the smallest-common-shingle lemma (proof in
# operators/dedup.py::prefix_jaccard_pairs). Oracle = the FULL quadratic
# ground truth with NO pruning at all — the green row certifies that the
# prefix filter drops nothing.
def _q_jaccard_join_exact(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _t(spark, sf_dir, "documents"), t_num=3, t_den=10
    ).select(
        "doc_a", "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("uni").cast("bigint").alias("uni"),
    )


_ORACLE_JACCARD_EXACT = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM toks),
shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
  FROM shf a JOIN shf b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, inter, uni FROM pairs WHERE inter * 10 >= uni * 3
"""


# asymmetric containment join: C(a->b) = |A n B| / |A| >= 0.8 — the
# lifted-paragraph near-dup class symmetric Jaccard misses. One-sided
# PPJoin prefix on A, full shingle probe on B, exact integer verify.
def _q_containment_join(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), t_num=8, t_den=10
    )


_ORACLE_CONTAINMENT = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM toks),
shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         CAST(len(a.sh) AS BIGINT) AS n_a
  FROM shf a JOIN shf b ON a.doc_id <> b.doc_id)
SELECT doc_a, doc_b, inter, n_a FROM pairs WHERE inter * 10 >= n_a * 8
"""


# substring-level dedup: cross-document repeated k-grams merged into
# maximal duplicated spans (the Lee et al. 2022 shape, relationally).
def _q_dup_substrings(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import dup_substring_spans

    return dup_substring_spans(_t(spark, sf_dir, "documents"), k=3, min_docs=2)


_ORACLE_DUP_SUBSTRINGS = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id, i AS pos, {_duck_h60(_GRAM3)} AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
isl AS (SELECT doc_id, pos,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM hits)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) + 2 AS BIGINT) AS end_tok,
       CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, isl
"""


# word co-occurrence with exact PMI sufficient statistics (the
# word2vec/GloVe preprocessing matrix): shifted-self EQUI-join pairing,
# canonical (least, greatest) pair keys, unigram + total censuses joined
# back. PMI is monotone in n_ab*n_tot/(n_a*n_b), so the integer stats are
# the engine-reproducible form of the score.
def _q_cooccurrence(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import cooccurrence_pairs

    return cooccurrence_pairs(
        _t(spark, sf_dir, "documents"), window=2, min_count=5
    )


_ORACLE_COOCCURRENCE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
tp AS (SELECT doc_id, i AS pos, {_duck_h60('toks[i]')} AS term
       FROM toks, UNNEST(generate_series(1, len(toks))) AS t(i)),
pairs AS (
  SELECT least(a.term, b.term) AS a, greatest(a.term, b.term) AS b
  FROM tp a JOIN tp b
    ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 2),
cnt AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
uni AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tp GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM tp)
SELECT c.a, c.b, c.n_ab, ua.n AS n_a, ub.n AS n_b, tot.n_tot
FROM cnt c JOIN uni ua ON ua.term = c.a JOIN uni ub ON ub.term = c.b, tot
"""


# full-text inverted index with sharded posting lists (the skew guard for
# stopword terms) and a term-level min_df gate applied across shards.
def _q_inverted_index(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import inverted_index

    return inverted_index(
        _t(spark, sf_dir, "documents"), min_df=2, shard_bits=2
    )


_ORACLE_INVERTED_INDEX = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
tp AS (SELECT doc_id, i AS pos, {_duck_h60('toks[i]')} AS term
       FROM toks, UNNEST(generate_series(1, len(toks))) AS t(i)),
perdoc AS (SELECT term, doc_id, doc_id % 4 AS shard, count(*) AS tf,
           concat(doc_id, ':', array_to_string(list_sort(list(pos)), ',')) AS entry
           FROM tp GROUP BY term, doc_id)
SELECT term, CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS ctf,
       string_agg(entry, ';' ORDER BY doc_id) AS postings
FROM perdoc GROUP BY term, shard
QUALIFY sum(df) OVER (PARTITION BY term) >= 2
"""


def _q_dedup_minhash(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), m=8, bands=4, t_num=3, t_den=10,
        bucket_cap=None,
    ).select(
        "doc_a", "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("uni").cast("bigint").alias("uni"),
    )


def _duck_minhash(i: int) -> str:
    # same affine universal-hash family (and literal coefficients) as
    # osm_hadoop_spark.operators.dedup.minhash_from
    from osm_hadoop_spark.operators.dedup import MINHASH_P, minhash_params

    a, b = minhash_params(8)[i]
    return (
        f"list_min(list_transform(sh, s -> "
        f"({a} * (s % {MINHASH_P}) + {b}) % {MINHASH_P}))"
    )


_MINHASH_CTES = f"""toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh0 AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM toks),
sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
mh AS (SELECT doc_id, sh, [{', '.join(_duck_minhash(i) for i in range(8))}] AS mh FROM sh),
banded AS (
  SELECT doc_id, sh,
         CAST(b AS VARCHAR) || '-' || array_to_string(mh[b*2+1:b*2+2], ',') AS bucket
  FROM mh, (SELECT unnest(generate_series(0, 3)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
j AS (SELECT doc_a, doc_b,
        CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
        CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS uni
      FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)"""

_ORACLE_DEDUP_MINHASH = f"""
WITH {_MINHASH_CTES}
SELECT doc_a, doc_b, inter, uni FROM j WHERE inter * 10 >= uni * 3
"""


def _q_dedup_clusters(spark, sf_dir):
    """Dedup pipeline tail: MinHash-LSH pairs -> connected components ->
    (doc_id, cluster_id = min doc_id of the duplicate cluster). The
    large-star/small-star labels are oracled against a DuckDB recursive
    transitive closure over the identical pair set — proving the
    distributed iterative algorithm, not just the pair generation."""
    from osm_hadoop_spark.operators.cc import connected_components
    from osm_hadoop_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), m=8, bands=4, t_num=3, t_den=10,
        bucket_cap=None,
    ).select("doc_a", "doc_b")
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_CTES},
pr AS (SELECT doc_a, doc_b FROM j WHERE inter * 10 >= uni * 3),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
          UNION SELECT doc_b, doc_a FROM pr),
reach(src, dst) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


# --- grid DBSCAN (operators/clustering.py) -------------------------------
# deterministic clustered integer points: 40 h60-placed cluster centers on
# a 10000^2 grid, +-80 box jitter per point, 10% uniform noise. eps=40,
# min_pts=5 yields all three roles at sf0.01 (1607 core / 153 border /
# 240 noise, 43 clusters). All-integer squared-distance math -> the DuckDB
# twin (O(n^2) pair join + recursive-CTE transitive closure, an
# INDEPENDENT algorithm from the operator's grid join + large/small-star
# CC) reproduces every label bit-for-bit.
_DBSCAN_SPREAD, _DBSCAN_EPS, _DBSCAN_MINPTS = 80, 40, 5


def _dbscan_points(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = F.col("p_partkey")
    s = pk.cast("string")
    k = (pk % 40).cast("string")
    noise = h60(F.concat(F.lit("pt"), s)) % 10 == 0
    sp = _DBSCAN_SPREAD

    def coord(uax, cax, jax):
        return F.when(noise, h60(F.concat(F.lit(uax), s)) % 10000).otherwise(
            h60(F.concat(F.lit(cax), k)) % 10000
            + h60(F.concat(F.lit(jax), s)) % (2 * sp + 1)
            - sp
        )

    return _t(spark, sf_dir, "part").select(
        pk.alias("id"),
        coord("nx", "cx", "dx").alias("x"),
        coord("ny", "cy", "dy").alias("y"),
    )


def _q_emst_blocks(spark, sf_dir):
    """Euclidean minimum spanning forest (operators/mst.py::boruvka_msf,
    distributed Borůvka) over 12-point id-blocks of the shared synthetic
    point set — bounded blocks keep the all-pairs candidate build and the
    recursive oracle tractable; the operator itself is unbounded. The
    twin does NOT replay Borůvka: it verifies the cycle property (edge in
    the unique MSF iff endpoints not connected by strictly lighter
    edges) with a recursive lighter-reach CTE — algorithm-independent.
    The forest frame is session-cached (_assembly_cached) and shared
    with single_linkage_cut's dendrogram cut."""
    return _assembly_cached(spark, sf_dir, "emst_msf", _emst_msf_build)


def _emst_points(spark, sf_dir):
    return _dbscan_points(spark, sf_dir).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("x").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
        F.expr("id DIV 12").alias("gid"),
    )


def _emst_cand_edges(spark, sf_dir):
    pts = _emst_points(spark, sf_dir)
    a = pts.select("gid", F.col("id").alias("u"),
                   F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select("gid", F.col("id").alias("v"),
                   F.col("x").alias("xb"), F.col("y").alias("yb"))
    return a.join(b, "gid").filter(F.col("u") < F.col("v")).select(
        "u", "v",
        (
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
        ).alias("w"),
    )


def _emst_msf_build(spark, sf_dir):
    from osm_hadoop_spark.operators.mst import boruvka_msf

    return boruvka_msf(_emst_cand_edges(spark, sf_dir))


def _emst_cand_ctes() -> str:
    return f"""pts AS (
  SELECT CAST(p_partkey AS BIGINT) AS id,
         CAST({_duck_dbscan_coord('nx', 'cx', 'dx')} AS BIGINT) AS x,
         CAST({_duck_dbscan_coord('ny', 'cy', 'dy')} AS BIGINT) AS y
  FROM part),
p2 AS (SELECT id, x, y, id // 12 AS gid FROM pts),
cand AS (
  SELECT a.gid, a.id AS u, b.id AS v,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS w
  FROM p2 a JOIN p2 b ON a.gid = b.gid AND a.id < b.id)"""


def _oracle_emst_blocks() -> str:
    return f"""
WITH RECURSIVE {_emst_cand_ctes()},
e AS (SELECT row_number() OVER (ORDER BY gid, u, v) AS eid, * FROM cand),
reach(eid, node) AS (
  SELECT eid, u FROM e
  UNION
  SELECT r.eid, CASE WHEN c.u = r.node THEN c.v ELSE c.u END
  FROM reach r
  JOIN e pe ON pe.eid = r.eid
  JOIN cand c ON c.gid = pe.gid AND (c.u = r.node OR c.v = r.node)
  WHERE (c.w, c.u, c.v) < (pe.w, pe.u, pe.v))
SELECT u, v, w FROM e
WHERE NOT EXISTS (SELECT 1 FROM reach r WHERE r.eid = e.eid AND r.node = e.v)
"""


_SL_CUT_T = 4_000_000  # squared-distance cut near the MSF weight median


def _q_single_linkage(spark, sf_dir):
    """Flat single-linkage clustering (operators/linkage.py::
    single_linkage_cut) of the EMST fixture at the median-weight
    threshold — the dendrogram cut over the Borůvka forest. The twin is
    the OPPOSITE mechanism: components of the thresholded CANDIDATE
    graph (never building a forest), so agreement proves the cut
    property end-to-end. Reuses the session-cached Borůvka forest the
    emst_blocks_b12 query builds — the dendrogram-sweep posture (one
    forest, many thresholds) made literal."""
    from osm_hadoop_spark.operators.linkage import single_linkage_cut

    msf = _assembly_cached(spark, sf_dir, "emst_msf", _emst_msf_build)
    return single_linkage_cut(
        _emst_cand_edges(spark, sf_dir),
        _emst_points(spark, sf_dir).select("id"),
        _SL_CUT_T,
        msf=msf,
    )


def _oracle_single_linkage() -> str:
    return f"""
WITH RECURSIVE {_emst_cand_ctes()},
keep AS (SELECT u, v FROM cand WHERE w <= {_SL_CUT_T}),
kadj AS (SELECT u, v FROM keep UNION ALL SELECT v AS u, u AS v FROM keep),
r(n0, n) AS (
  SELECT id, id FROM p2
  UNION
  SELECT r.n0, a.v FROM r JOIN kadj a ON a.u = r.n)
SELECT n0 AS id, CAST(min(n) AS BIGINT) AS cluster FROM r GROUP BY n0
"""


_SL_LADDER_TS = (1_000_000, 4_000_000, 16_000_000, 64_000_000)


def _q_linkage_ladder(spark, sf_dir):
    """Dendrogram profile: cluster census at a 4-threshold ladder over
    the SAME session-cached Borůvka forest (the sweep posture
    single_linkage_cut documents, made literal — the candidate edges
    are never rescanned). Per threshold: cluster count, singleton
    count, and largest cluster size — the merge curve a dedup pipeline
    reads to pick its operating point."""
    from osm_hadoop_spark.operators.linkage import single_linkage_cut

    msf = _assembly_cached(spark, sf_dir, "emst_msf", _emst_msf_build)
    nodes = _emst_points(spark, sf_dir).select("id")
    out = None
    for t in _SL_LADDER_TS:
        labels = single_linkage_cut(
            _emst_cand_edges(spark, sf_dir), nodes, t, msf=msf
        )
        sizes = labels.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("sz")
        )
        row = sizes.agg(
            F.lit(t).cast("bigint").alias("t"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
            .cast("long").alias("n_singletons"),
            F.max("sz").cast("long").alias("max_cluster"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _oracle_linkage_ladder() -> str:
    parts = []
    for t in _SL_LADDER_TS:
        parts.append(f"""
SELECT * FROM (
WITH RECURSIVE {_emst_cand_ctes()},
keep AS (SELECT u, v FROM cand WHERE w <= {t}),
kadj AS (SELECT u, v FROM keep UNION ALL SELECT v AS u, u AS v FROM keep),
r(n0, n) AS (
  SELECT id, id FROM p2
  UNION
  SELECT r.n0, a.v FROM r JOIN kadj a ON a.u = r.n),
lab AS (SELECT n0 AS id, min(n) AS cluster FROM r GROUP BY n0),
sz AS (SELECT cluster, count(*) AS sz FROM lab GROUP BY cluster)
SELECT CAST({t} AS BIGINT) AS t,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons,
       CAST(max(sz) AS BIGINT) AS max_cluster
FROM sz)""")
    return " UNION ALL ".join(parts)


def _q_dbscan_clusters(spark, sf_dir):
    from osm_hadoop_spark.operators.clustering import dbscan

    return dbscan(
        _dbscan_points(spark, sf_dir), eps=_DBSCAN_EPS, min_pts=_DBSCAN_MINPTS
    )


def _duck_dbscan_coord(uax, cax, jax):
    sp = _DBSCAN_SPREAD
    pk = "CAST(p_partkey AS VARCHAR)"
    kk = "CAST(p_partkey % 40 AS VARCHAR)"
    tag = _duck_h60("'pt' || " + pk)
    uni = _duck_h60(f"'{uax}' || " + pk)
    ctr = _duck_h60(f"'{cax}' || " + kk)
    jit = _duck_h60(f"'{jax}' || " + pk)
    return (
        f"CASE WHEN {tag} % 10 = 0 THEN {uni} % 10000 "
        f"ELSE {ctr} % 10000 + {jit} % {2 * sp + 1} - {sp} END"
    )


_ORACLE_DBSCAN = f"""
WITH RECURSIVE pts AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
nbr AS (
  SELECT a.id AS ida, b.id AS idb
  FROM pts a JOIN pts b
    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {_DBSCAN_EPS**2}),
core AS (SELECT ida AS id FROM nbr GROUP BY ida
         HAVING count(*) >= {_DBSCAN_MINPTS}),
ce AS (SELECT n.ida AS u, n.idb AS v FROM nbr n
       JOIN core ca ON n.ida = ca.id JOIN core cb ON n.idb = cb.id
       WHERE n.ida <> n.idb),
reach(src, dst) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.src, e.v FROM reach r JOIN ce e ON r.dst = e.u),
comp AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
bord AS (
  SELECT n.ida AS id, min(c.cluster) AS cluster
  FROM nbr n JOIN comp c ON n.idb = c.id
  WHERE n.ida NOT IN (SELECT id FROM core)
  GROUP BY n.ida)
SELECT p.id, p.x, p.y,
  CASE WHEN cm.cluster IS NOT NULL THEN 'core'
       WHEN b.cluster IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
  coalesce(cm.cluster, b.cluster) AS cluster
FROM pts p LEFT JOIN comp cm ON p.id = cm.id LEFT JOIN bord b ON p.id = b.id
"""


# --- KDE heatmap (operators/kde.py) ---------------------------------------
# same clustered point derivation as dbscan_hotspots; integer triangular
# kernel -> every density is an exact integer, so the DuckDB twin (direct
# (2r+1)^2 product — a DIFFERENT evaluation order than the separable
# two-pass the operator runs) matches bit-for-bit.
_KDE_CELL, _KDE_R = 25, 3


def _q_kde_hotspots(spark, sf_dir):
    from osm_hadoop_spark.operators.kde import kde_grid

    return kde_grid(
        _dbscan_points(spark, sf_dir), cell_size=_KDE_CELL, radius=_KDE_R
    )


_ORACLE_KDE = f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
cnt AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cy,
         count(*) AS n
  FROM pts GROUP BY 1, 2),
offs AS (SELECT unnest(generate_series(-{_KDE_R}, {_KDE_R})) AS d)
SELECT c.cx + ox.d AS cx, c.cy + oy.d AS cy,
       CAST(sum(c.n * ({_KDE_R + 1} - abs(ox.d)) * ({_KDE_R + 1} - abs(oy.d)))
            AS BIGINT) AS density
FROM cnt c, offs ox, offs oy
GROUP BY 1, 2
"""


# --- distance-band join (operators/distance_join.py) ----------------------
# J7: all unordered point pairs within r=40 of each other, with the exact
# integer squared distance. Oracle = O(n^2) inequality join (no grid) —
# an independent algorithm for the same answer.
def _q_distance_pairs(spark, sf_dir):
    from osm_hadoop_spark.operators.distance_join import distance_join

    return distance_join(_dbscan_points(spark, sf_dir), None, radius=40)


_ORACLE_DISTANCE_PAIRS = f"""
WITH pts AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part)
SELECT a.id AS id_a, b.id AS id_b,
       (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
FROM pts a JOIN pts b
  ON a.id < b.id
 AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 1600
"""


# --- co-location pattern mining (operators/colocation.py) --------------------
# Shekhar participation counts per ordered class pair over the SAME
# dbscan point cloud (classes = h60 % 3): candidates from the shared
# grid-blocked distance join, both endpoints vote, distinct + per-pair
# aggregate, broadcast class totals. Oracle = all-pairs SQL twin.
def _q_colocation(spark, sf_dir):
    from osm_hadoop_spark.operators.colocation import colocation_participation
    from osm_hadoop_spark.operators.textstats import h60

    pts = _dbscan_points(spark, sf_dir).withColumn(
        "cls", h60(F.concat(F.lit("cl"), F.col("id").cast("string"))) % 3
    )
    return colocation_participation(pts, radius=40)


_ORACLE_COLOCATION = f"""
WITH pts AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y,
         {_duck_h60("'cl' || p_partkey")} % 3 AS c
  FROM part),
pr AS (
  SELECT a.id AS id_a, a.c AS ca, b.id AS id_b, b.c AS cb
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 1600),
votes AS (
  SELECT ca AS cls, cb AS other_cls, id_a AS pid FROM pr
  UNION
  SELECT cb AS cls, ca AS other_cls, id_b AS pid FROM pr),
pc AS (SELECT cls, other_cls, CAST(count(*) AS BIGINT) AS n_participating
       FROM votes GROUP BY 1, 2),
tot AS (SELECT c AS cls, CAST(count(*) AS BIGINT) AS n_total
        FROM pts GROUP BY 1)
SELECT pc.cls, pc.other_cls, pc.n_participating, tot.n_total
FROM pc JOIN tot ON tot.cls = pc.cls
"""


# --- join-count spatial autocorrelation (operators/autocorr.py) ------------
# Cliff & Ord join counts over the same clustered point derivation: rook
# adjacency on the occupied-cell census, observed BB/WW/BW counts + exact
# rational CSR expectations (bigint num/den — no float anywhere).
def _q_join_counts(spark, sf_dir):
    from osm_hadoop_spark.operators.autocorr import join_count_stats

    return join_count_stats(
        _dbscan_points(spark, sf_dir), cell_size=25, black_min=2
    )


_ORACLE_JOIN_COUNTS = f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
cls AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / 25) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / 25) AS BIGINT) AS cy,
         count(*) >= 2 AS black
  FROM pts GROUP BY 1, 2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(CASE WHEN black THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM cls),
edges AS (
  SELECT a.black AS ba, b.black AS bb
  FROM cls a JOIN cls b ON b.cx = a.cx + 1 AND b.cy = a.cy
  UNION ALL
  SELECT a.black, b.black
  FROM cls a JOIN cls b ON b.cx = a.cx AND b.cy = a.cy + 1),
counts AS (
  SELECT CASE WHEN ba AND bb THEN 'BB'
              WHEN NOT ba AND NOT bb THEN 'WW' ELSE 'BW' END AS pair_cls,
         CAST(count(*) AS BIGINT) AS observed
  FROM edges GROUP BY 1),
jt AS (SELECT CAST(sum(observed) AS BIGINT) AS j FROM counts)
SELECT pair_cls, observed,
       CAST(jt.j * CASE pair_cls
              WHEN 'BB' THEN t.nb * (t.nb - 1)
              WHEN 'WW' THEN (t.n_cells - t.nb) * (t.n_cells - t.nb - 1)
              ELSE 2 * t.nb * (t.n_cells - t.nb) END AS BIGINT) AS expect_num,
       CAST(t.n_cells * (t.n_cells - 1) AS BIGINT) AS expect_den
FROM counts, tot t, jt
"""


# --- morphological closing of the hotspot raster (operators/morphology.py) --
# close = erode(dilate(S)) with the radius-1 Chebyshev SE: fills 1-cell
# holes/gaps in the Black-cell set. Output marks which closed cells were
# original vs gap-filled. Two scatter-aggregate stages, no join in the
# morphology itself.
def _q_morph_close(spark, sf_dir):
    from osm_hadoop_spark.operators.autocorr import cell_census
    from osm_hadoop_spark.operators.morphology import close_cells

    cells = cell_census(_dbscan_points(spark, sf_dir), 25).filter(
        F.col("n") >= 2
    ).select("cx", "cy")
    closed = close_cells(cells, radius=1)
    return closed.join(
        cells.withColumn("was_original", F.lit(True)), ["cx", "cy"], "left"
    ).select(
        F.col("cx").cast("bigint").alias("cx"),
        F.col("cy").cast("bigint").alias("cy"),
        F.coalesce("was_original", F.lit(False)).alias("was_original"),
    )


_ORACLE_MORPH_CLOSE = f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
blk AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / 25) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / 25) AS BIGINT) AS cy
  FROM pts GROUP BY 1, 2 HAVING count(*) >= 2),
offs AS (SELECT unnest(generate_series(-1, 1)) AS d),
dil AS (
  SELECT DISTINCT b.cx + ox.d AS cx, b.cy + oy.d AS cy
  FROM blk b, offs ox, offs oy),
ero AS (
  SELECT d.cx - ox.d AS cx, d.cy - oy.d AS cy
  FROM dil d, offs ox, offs oy),
closed AS (
  SELECT cx, cy FROM ero GROUP BY cx, cy HAVING count(*) = 9)
SELECT c.cx, c.cy, (b.cx IS NOT NULL) AS was_original
FROM closed c LEFT JOIN blk b ON b.cx = c.cx AND b.cy = c.cy
"""


# --- hot-region labeling (operators/autocorr.py + cc.py) --------------------
# 4-connected components of Black cells rolled up per region (raster
# polygonization stage 1). Engine = large/small-star CC; oracle = an
# independent recursive-CTE transitive closure over the same adjacency.
def _q_hot_regions(spark, sf_dir):
    from osm_hadoop_spark.operators.autocorr import label_hot_regions

    return label_hot_regions(
        _dbscan_points(spark, sf_dir), cell_size=25, black_min=2
    )


_ORACLE_HOT_REGIONS = f"""
WITH RECURSIVE pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
blk AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / 25) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / 25) AS BIGINT) AS cy,
         CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2 HAVING count(*) >= 2),
keyed AS (SELECT cx, cy, n, (cx + 1048576) * 2097152 + (cy + 1048576) AS k
          FROM blk),
adj AS (
  SELECT a.k AS u, b.k AS v FROM keyed a
  JOIN keyed b ON b.cx = a.cx + 1 AND b.cy = a.cy
  UNION ALL
  SELECT a.k, b.k FROM keyed a
  JOIN keyed b ON b.cx = a.cx AND b.cy = a.cy + 1),
edges AS (SELECT u, v FROM adj UNION SELECT v, u FROM adj),
reach(src, dst) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
lab AS (
  SELECT k.k, coalesce(least(k.k, m.mn), k.k) AS region, k.cx, k.cy, k.n
  FROM keyed k LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
    ON k.k = m.src)
SELECT region, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n) AS BIGINT) AS n_points,
       CAST(min(cx) AS BIGINT) AS min_cx, CAST(max(cx) AS BIGINT) AS max_cx,
       CAST(min(cy) AS BIGINT) AS min_cy, CAST(max(cy) AS BIGINT) AS max_cy
FROM lab GROUP BY region
"""


# --- trip segmentation (operators/trajectory.py) ---------------------------
# T3: deterministic random-walk trajectory per user derived from events
# (integer steps, h60-gated teleports), split on 6h gaps OR >200-unit
# jumps, rolled up per trip. All-integer window math -> exact twin.
_TRIP_GAP_US, _TRIP_JUMP = 21_600_000_000, 200


def _trip_step(axis_jump: str, axis_step: str):
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    return F.when(
        h60(F.concat(F.lit("tp"), s)) % 12 == 0,
        h60(F.concat(F.lit(axis_jump), s)) % 2001 - 1000,
    ).otherwise(h60(F.concat(F.lit(axis_step), s)) % 21 - 10)


def _trip_pings(spark, sf_dir):
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("ping_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        _trip_step("jx", "sx").alias("_sx"),
        _trip_step("jy", "sy").alias("_sy"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "ping_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return p.select(
        "user_id",
        "ping_id",
        "ts_us",
        F.sum("_sx").over(w).alias("x"),
        F.sum("_sy").over(w).alias("y"),
    )


def _q_trip_segments(spark, sf_dir):
    from osm_hadoop_spark.operators.trajectory import segment_trips

    return segment_trips(
        _trip_pings(spark, sf_dir), gap_us=_TRIP_GAP_US, jump=_TRIP_JUMP
    )


def _duck_trip_step(axis_jump: str, axis_step: str) -> str:
    s = "CAST(event_id AS VARCHAR)"
    return (
        f"CASE WHEN {_duck_h60(chr(39) + 'tp' + chr(39) + ' || ' + s)} % 12 = 0 "
        f"THEN {_duck_h60(chr(39) + axis_jump + chr(39) + ' || ' + s)} % 2001 - 1000 "
        f"ELSE {_duck_h60(chr(39) + axis_step + chr(39) + ' || ' + s)} % 21 - 10 END"
    )


_ORACLE_TRIPS = f"""
WITH p AS (
  SELECT user_id, event_id AS ping_id, epoch_us(ts) AS ts_us,
         {_duck_trip_step('jx', 'sx')} AS sx,
         {_duck_trip_step('jy', 'sy')} AS sy
  FROM events),
pos AS (
  SELECT user_id, ping_id, ts_us,
         sum(sx) OVER w AS x, sum(sy) OVER w AS y
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, ping_id
               ROWS UNBOUNDED PRECEDING)),
lagd AS (
  SELECT user_id, ping_id, ts_us, x, y,
         lag(ts_us) OVER w AS pt, lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM pos
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, ping_id)),
b AS (
  SELECT user_id, ping_id, ts_us,
         CASE WHEN pt IS NULL OR ts_us - pt > {_TRIP_GAP_US}
                   OR (x-px)*(x-px) + (y-py)*(y-py) > {_TRIP_JUMP**2}
              THEN 1 ELSE 0 END AS brk,
         CASE WHEN pt IS NULL OR ts_us - pt > {_TRIP_GAP_US}
                   OR (x-px)*(x-px) + (y-py)*(y-py) > {_TRIP_JUMP**2}
              THEN 0 ELSE abs(x-px) + abs(y-py) END AS move
  FROM lagd),
t AS (
  SELECT user_id, ts_us, move,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, ping_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS trip
  FROM b)
SELECT user_id, trip, count(*) AS n_pings,
       min(ts_us) AS start_us, max(ts_us) AS end_us,
       CAST(sum(move) AS BIGINT) AS manhattan_len
FROM t GROUP BY user_id, trip
"""


# --- polygon dissolve (operators/dissolve.py) ------------------------------
# E23/J8: unit-cell parcels on a 60x60 grid (deterministic h60 placement,
# deduped), dissolved into edge-connected regions with outer-boundary
# edge counts. Oracle = recursive-CTE transitive closure over shared
# edges — independent of the operator's large/small-star labeling.
_DISSOLVE_W = 200
_VPACK_SQL = 1 << 31


def _q_dissolve_regions(spark, sf_dir):
    from osm_hadoop_spark.operators.dissolve import dissolve
    from osm_hadoop_spark.operators.textstats import h60

    pk = F.col("p_partkey").cast("string")
    w = _DISSOLVE_W
    cells = (
        _t(spark, sf_dir, "part")
        .select(
            (h60(F.concat(F.lit("bx"), pk)) % w).alias("cx"),
            (h60(F.concat(F.lit("by"), pk)) % w).alias("cy"),
        )
        .distinct()
    )
    cx, cy = F.col("cx"), F.col("cy")
    polys = cells.select(
        (cx * w + cy).alias("poly_id"),
        F.array(cx, cx + 1, cx + 1, cx).alias("xs"),
        F.array(cy, cy, cy + 1, cy + 1).alias("ys"),
    )
    return dissolve(polys).groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_polys"),
        F.sum("boundary_edges").alias("boundary_edges"),
    )


_ORACLE_DISSOLVE = f"""
WITH RECURSIVE cells AS (
  SELECT DISTINCT {_duck_h60("'bx' || CAST(p_partkey AS VARCHAR)")} % {_DISSOLVE_W} AS cx,
                  {_duck_h60("'by' || CAST(p_partkey AS VARCHAR)")} % {_DISSOLVE_W} AS cy
  FROM part),
polys AS (SELECT cx*{_DISSOLVE_W} + cy AS pid, cx, cy FROM cells),
edges AS (
  SELECT pid, least(a, b) AS lo, greatest(a, b) AS hi FROM (
    SELECT pid, cx*{_VPACK_SQL} + cy AS a, (cx+1)*{_VPACK_SQL} + cy AS b FROM polys
    UNION ALL SELECT pid, (cx+1)*{_VPACK_SQL} + cy, (cx+1)*{_VPACK_SQL} + cy + 1 FROM polys
    UNION ALL SELECT pid, (cx+1)*{_VPACK_SQL} + cy + 1, cx*{_VPACK_SQL} + cy + 1 FROM polys
    UNION ALL SELECT pid, cx*{_VPACK_SQL} + cy + 1, cx*{_VPACK_SQL} + cy FROM polys)),
adj AS (SELECT lo, hi, count(*) AS mult, min(pid) AS root FROM edges GROUP BY lo, hi),
pr AS (SELECT a.root AS u, e.pid AS v FROM adj a JOIN edges e USING (lo, hi)
       WHERE a.mult > 1 AND e.pid <> a.root),
sym AS (SELECT u, v FROM pr UNION SELECT v, u FROM pr),
reach(src, dst) AS (
  SELECT pid, pid FROM polys
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u),
comp AS (SELECT src AS pid, min(dst) AS region_id FROM reach GROUP BY src),
bnd AS (SELECT e.pid, count(*) AS b FROM adj a JOIN edges e USING (lo, hi)
        WHERE a.mult = 1 GROUP BY e.pid)
SELECT c.region_id, count(*) AS n_polys,
       CAST(coalesce(sum(b.b), 0) AS BIGINT) AS boundary_edges
FROM comp c LEFT JOIN bnd b ON c.pid = b.pid
GROUP BY c.region_id
"""


# --- raster pyramid (operators/pyramid.py) ---------------------------------
# A8: overview levels of the node-count raster (E4 snap -> per-pixel
# count -> 2x sum pyramid, levels 0..4). The oracle aggregates EVERY
# level directly from level 0 (px >> k) — a different evaluation order
# than the operator's iterated halving; equality is the associativity
# proof at driver scale.
_PYR_LEVELS = 4


def _q_pyramid_counts(spark, sf_dir):
    from osm_hadoop_spark.operators.pyramid import build_pyramid

    n = _nodes(spark, sf_dir)
    gx = ((F.col("lon") + 180.0) * 43200 / 360.0).cast("int").cast("bigint")
    gy = ((F.col("lat") + 90.0) * 21600 / 180.0).cast("int").cast("bigint")
    pixels = n.groupBy(gx.alias("px"), gy.alias("py")).agg(
        F.count(F.lit(1)).alias("v")
    )
    return build_pyramid(pixels, levels=_PYR_LEVELS, agg="sum")


_ORACLE_PYRAMID = f"""
WITH nodes AS ({_NODES_SQL}),
px0 AS (
  SELECT CAST(trunc((lon + 180.0) * 43200 / 360.0) AS BIGINT) AS px,
         CAST(trunc((lat + 90.0) * 21600 / 180.0) AS BIGINT) AS py,
         count(*) AS v
  FROM nodes GROUP BY 1, 2),
lv AS (SELECT unnest(generate_series(0, {_PYR_LEVELS})) AS level)
SELECT lv.level, px >> lv.level AS px, py >> lv.level AS py,
       CAST(sum(v) AS BIGINT) AS v
FROM px0, lv
GROUP BY 1, 2, 3
"""


# --- origin-destination flow matrix (T3 composition) -----------------------
# T4: trips (same derivation/thresholds as trip_segments, endpoints=True)
# aggregated into cell-to-cell flows on a 500-unit grid — the standard
# mobility-analytics rollup. Endpoint extraction is a min/max over the
# lexicographic (ts, ping_id, x, y) struct; the oracle instead uses
# first_value/last_value window functions — a different mechanism for
# the same answer.
_OD_CELL = 500


def _q_od_matrix(spark, sf_dir):
    from osm_hadoop_spark.operators.trajectory import segment_trips

    pings = _trip_pings(spark, sf_dir)
    trips = segment_trips(
        pings, gap_us=_TRIP_GAP_US, jump=_TRIP_JUMP, endpoints=True
    )
    c = _OD_CELL
    return trips.groupBy(
        F.floor(F.col("start_x") / c).alias("o_cx"),
        F.floor(F.col("start_y") / c).alias("o_cy"),
        F.floor(F.col("end_x") / c).alias("d_cx"),
        F.floor(F.col("end_y") / c).alias("d_cy"),
    ).agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.sum("manhattan_len").alias("total_len"),
    )


_ORACLE_OD = f"""
WITH p AS (
  SELECT user_id, event_id AS ping_id, epoch_us(ts) AS ts_us,
         {_duck_trip_step('jx', 'sx')} AS sx,
         {_duck_trip_step('jy', 'sy')} AS sy
  FROM events),
pos AS (
  SELECT user_id, ping_id, ts_us,
         sum(sx) OVER w AS x, sum(sy) OVER w AS y
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, ping_id
               ROWS UNBOUNDED PRECEDING)),
lagd AS (
  SELECT user_id, ping_id, ts_us, x, y,
         lag(ts_us) OVER w AS pt, lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM pos
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, ping_id)),
b AS (
  SELECT user_id, ping_id, ts_us, x, y,
         CASE WHEN pt IS NULL OR ts_us - pt > {_TRIP_GAP_US}
                   OR (x-px)*(x-px) + (y-py)*(y-py) > {_TRIP_JUMP**2}
              THEN 1 ELSE 0 END AS brk,
         CASE WHEN pt IS NULL OR ts_us - pt > {_TRIP_GAP_US}
                   OR (x-px)*(x-px) + (y-py)*(y-py) > {_TRIP_JUMP**2}
              THEN 0 ELSE abs(x-px) + abs(y-py) END AS move
  FROM lagd),
t AS (
  SELECT user_id, ping_id, ts_us, x, y, move,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, ping_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS trip
  FROM b),
ends AS (
  SELECT user_id, trip, move,
         first_value(x) OVER w AS sx, first_value(y) OVER w AS sy,
         last_value(x) OVER w AS ex, last_value(y) OVER w AS ey
  FROM t
  WINDOW w AS (PARTITION BY user_id, trip ORDER BY ts_us, ping_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
trips AS (
  SELECT user_id, trip, any_value(sx) AS sx, any_value(sy) AS sy,
         any_value(ex) AS ex, any_value(ey) AS ey,
         CAST(sum(move) AS BIGINT) AS manhattan_len
  FROM ends GROUP BY user_id, trip)
SELECT CAST(floor(CAST(sx AS DOUBLE) / {_OD_CELL}) AS BIGINT) AS o_cx,
       CAST(floor(CAST(sy AS DOUBLE) / {_OD_CELL}) AS BIGINT) AS o_cy,
       CAST(floor(CAST(ex AS DOUBLE) / {_OD_CELL}) AS BIGINT) AS d_cx,
       CAST(floor(CAST(ey AS DOUBLE) / {_OD_CELL}) AS BIGINT) AS d_cy,
       count(*) AS n_trips, CAST(sum(manhattan_len) AS BIGINT) AS total_len
FROM trips
GROUP BY 1, 2, 3, 4
"""


# --- planar overlay: way crossings (operators/overlay.py) ------------------
# J9: segment-intersection join. Segments are derived LOCAL (a 3400x1600
# domain, each segment jittered +-40 around an h60-placed center, like a
# real road network's short edges) — the first derivation reused the J1
# way chords, whose world-spanning random segments made the ANSWER
# itself quadratic (4.6M crossing pairs at sf0.1, 199 s of output
# generation); locality is a property of real map data, not a plan
# trick. The refine is the exact integer CLRS orientation test; the
# oracle is an O(n^2) inequality join with the same predicate in SQL.
def _q_way_crossings(spark, sf_dir):
    from osm_hadoop_spark.operators.overlay import segment_crossings
    from osm_hadoop_spark.operators.textstats import h60

    ok = F.col("o_orderkey")
    s = ok.cast("string")

    def j(tag, mod, off):
        return h60(F.concat(F.lit(tag), s)) % mod - off

    segs = (
        _t(spark, sf_dir, "orders")
        .filter(ok % 7 == 0)
        .select(
            (ok % 997).alias("way_id"),
            ok.alias("seg_id"),
            (j("wx", 3400, 0) + j("ax", 81, 40)).alias("x1"),
            (j("wy", 1600, 0) + j("ay", 81, 40)).alias("y1"),
            (j("wx", 3400, 0) + j("bx", 81, 40)).alias("x2"),
            (j("wy", 1600, 0) + j("by", 81, 40)).alias("y2"),
        )
    )
    return segment_crossings(segs, cell=32).groupBy("way_a", "way_b").agg(
        F.count(F.lit(1)).alias("n_crossings")
    )


def _duck_seg_cross(o, p, q):
    """sign(cross(p - o, q - o)) over SQL coordinate pairs."""
    (ox, oy), (px, py), (qx, qy) = o, p, q
    return (
        f"sign(({px}-{ox})*({qy}-{oy}) - ({py}-{oy})*({qx}-{ox}))"
    )


def _duck_on_seg(p, q, r):
    (px, py), (qx, qy), (rx, ry) = p, q, r
    return (
        f"({rx} BETWEEN least({px},{qx}) AND greatest({px},{qx}) "
        f"AND {ry} BETWEEN least({py},{qy}) AND greatest({py},{qy}))"
    )


def _duck_intersects() -> str:
    a1, a2 = ("a.x1", "a.y1"), ("a.x2", "a.y2")
    b1, b2 = ("b.x1", "b.y1"), ("b.x2", "b.y2")
    d1 = _duck_seg_cross(b1, b2, a1)
    d2 = _duck_seg_cross(b1, b2, a2)
    d3 = _duck_seg_cross(a1, a2, b1)
    d4 = _duck_seg_cross(a1, a2, b2)
    return (
        f"(({d1}) <> ({d2}) AND ({d3}) <> ({d4}) AND ({d1}) <> 0 "
        f"AND ({d2}) <> 0 AND ({d3}) <> 0 AND ({d4}) <> 0) "
        f"OR (({d1}) = 0 AND {_duck_on_seg(b1, b2, a1)}) "
        f"OR (({d2}) = 0 AND {_duck_on_seg(b1, b2, a2)}) "
        f"OR (({d3}) = 0 AND {_duck_on_seg(a1, a2, b1)}) "
        f"OR (({d4}) = 0 AND {_duck_on_seg(a1, a2, b2)})"
    )


def _duck_seg_coord(ctag, cmod, jtag) -> str:
    s = "CAST(o_orderkey AS VARCHAR)"
    c = _duck_h60(f"'{ctag}' || " + s)
    jj = _duck_h60(f"'{jtag}' || " + s)
    return f"{c} % {cmod} + {jj} % 81 - 40"


_ORACLE_CROSSINGS = f"""
WITH g AS (
  SELECT o_orderkey % 997 AS way_id, o_orderkey AS seg_id,
         {_duck_seg_coord('wx', 3400, 'ax')} AS x1,
         {_duck_seg_coord('wy', 1600, 'ay')} AS y1,
         {_duck_seg_coord('wx', 3400, 'bx')} AS x2,
         {_duck_seg_coord('wy', 1600, 'by')} AS y2
  FROM orders WHERE o_orderkey % 7 = 0)
SELECT a.way_id AS way_a, b.way_id AS way_b, count(*) AS n_crossings
FROM g a JOIN g b ON a.way_id < b.way_id AND ({_duck_intersects()})
GROUP BY 1, 2
"""


# --- tile clipping (operators/clip.py) --------------------------------------
# Exact Liang-Barsky clip of every segment to every z-grid tile it
# crosses: the per-tile vector-extract dual of the J3 tile cover. The
# clipped endpoints are exact rationals (scaled-integer numerators over
# the entry/exit denominators), so the per-tile checksums below are
# bit-exact across engines. Join-free: cover explode + codegen clip,
# one final groupBy(tile) exchange.
_CLIP_CELL = 64


def _q_clip_segments(spark, sf_dir):
    from osm_hadoop_spark.operators.clip import clip_segments
    from osm_hadoop_spark.operators.textstats import h60

    ok = F.col("o_orderkey")
    s = ok.cast("string")

    def j(tag, mod, off):
        return h60(F.concat(F.lit(tag), s)) % mod - off

    segs = (
        _t(spark, sf_dir, "orders")
        .filter(ok % 5 == 0)
        .select(
            (ok % 997).alias("way_id"),
            ok.alias("seg_id"),
            (j("kwx", 3400, 0) + j("kax", 161, 80)).alias("x1"),
            (j("kwy", 1600, 0) + j("kay", 161, 80)).alias("y1"),
            (j("kwx", 3400, 0) + j("kbx", 161, 80)).alias("x2"),
            (j("kwy", 1600, 0) + j("kby", 161, 80)).alias("y2"),
        )
    )
    return (
        clip_segments(segs, cell=_CLIP_CELL)
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum("ax_num").alias("sum_axn"),
            F.sum("ay_num").alias("sum_ayn"),
            F.sum("a_den").alias("sum_ad"),
            F.sum("bx_num").alias("sum_bxn"),
            F.sum("by_num").alias("sum_byn"),
            F.sum("b_den").alias("sum_bd"),
        )
    )


def _duck_clip_coord(ctag, cmod, jtag) -> str:
    s = "CAST(o_orderkey AS VARCHAR)"
    c = _duck_h60(f"'{ctag}' || " + s)
    jj = _duck_h60(f"'{jtag}' || " + s)
    return f"{c} % {cmod} + {jj} % 161 - 80"


_ORACLE_CLIP = f"""
WITH g AS (
  SELECT o_orderkey % 997 AS way_id, o_orderkey AS seg_id,
         {_duck_clip_coord('kwx', 3400, 'kax')} AS x1,
         {_duck_clip_coord('kwy', 1600, 'kay')} AS y1,
         {_duck_clip_coord('kwx', 3400, 'kbx')} AS x2,
         {_duck_clip_coord('kwy', 1600, 'kby')} AS y2
  FROM orders WHERE o_orderkey % 5 = 0),
cx AS (
  SELECT *, unnest(generate_series(
           CAST(floor(least(x1, x2) / {_CLIP_CELL}.0) AS BIGINT),
           CAST(floor(greatest(x1, x2) / {_CLIP_CELL}.0) AS BIGINT))) AS tx
  FROM g),
cov AS (
  SELECT *, unnest(generate_series(
           CAST(floor(least(y1, y2) / {_CLIP_CELL}.0) AS BIGINT),
           CAST(floor(greatest(y1, y2) / {_CLIP_CELL}.0) AS BIGINT))) AS ty
  FROM cx),
cand AS (
  SELECT way_id, seg_id, tx, ty, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy,
         tx * {_CLIP_CELL} AS xl, (tx + 1) * {_CLIP_CELL} AS xr,
         ty * {_CLIP_CELL} AS yl, (ty + 1) * {_CLIP_CELL} AS yr
  FROM cov),
ent AS (
  SELECT *,
    CASE WHEN dx > 0 THEN xl - x1 WHEN dx < 0 THEN x1 - xr ELSE 0 END AS exn,
    CASE WHEN dx <> 0 THEN abs(dx) ELSE 1 END AS exd,
    CASE WHEN dy > 0 THEN yl - y1 WHEN dy < 0 THEN y1 - yr ELSE 0 END AS eyn,
    CASE WHEN dy <> 0 THEN abs(dy) ELSE 1 END AS eyd,
    CASE WHEN dx > 0 THEN xr - x1 WHEN dx < 0 THEN x1 - xl ELSE 1 END AS fxn,
    CASE WHEN dx <> 0 THEN abs(dx) ELSE 1 END AS fxd,
    CASE WHEN dy > 0 THEN yr - y1 WHEN dy < 0 THEN y1 - yl ELSE 1 END AS fyn,
    CASE WHEN dy <> 0 THEN abs(dy) ELSE 1 END AS fyd
  FROM cand),
s1 AS (
  SELECT *,
    CASE WHEN exn <= 0 THEN 0 ELSE exn END AS t0n1,
    CASE WHEN exn <= 0 THEN 1 ELSE exd END AS t0d1,
    CASE WHEN fxd <= fxn THEN 1 ELSE fxn END AS t1n1,
    CASE WHEN fxd <= fxn THEN 1 ELSE fxd END AS t1d1
  FROM ent),
s2 AS (
  SELECT *,
    CASE WHEN t0n1 * eyd >= eyn * t0d1 THEN t0n1 ELSE eyn END AS t0n,
    CASE WHEN t0n1 * eyd >= eyn * t0d1 THEN t0d1 ELSE eyd END AS t0d,
    CASE WHEN t1n1 * fyd <= fyn * t1d1 THEN t1n1 ELSE fyn END AS t1n,
    CASE WHEN t1n1 * fyd <= fyn * t1d1 THEN t1d1 ELSE fyd END AS t1d
  FROM s1),
hits AS (
  SELECT tx, ty,
         x1 * t0d + dx * t0n AS ax_num, y1 * t0d + dy * t0n AS ay_num, t0d AS a_den,
         x1 * t1d + dx * t1n AS bx_num, y1 * t1d + dy * t1n AS by_num, t1d AS b_den
  FROM s2
  WHERE (dx <> 0 OR (x1 BETWEEN xl AND xr))
    AND (dy <> 0 OR (y1 BETWEEN yl AND yr))
    AND t0n * t1d <= t1n * t0d)
SELECT tx, ty, count(*) AS n_segs,
       CAST(sum(ax_num) AS BIGINT) AS sum_axn,
       CAST(sum(ay_num) AS BIGINT) AS sum_ayn,
       CAST(sum(a_den) AS BIGINT) AS sum_ad,
       CAST(sum(bx_num) AS BIGINT) AS sum_bxn,
       CAST(sum(by_num) AS BIGINT) AS sum_byn,
       CAST(sum(b_den) AS BIGINT) AS sum_bd
FROM hits GROUP BY 1, 2
"""


# --- k-core decomposition (operators/routing.py::k_core) ---------------------
# Matula-Beck peeling on the SAME derived road graph as graph_bfs_h5
# (hypercube + ring, canonicalized undirected): drop degree < 9 nodes
# until fixpoint. Engine = data-dependent rounds with localCheckpoint
# truncation (15 rounds at sf0.01, 3 at sf0.1 — measured); oracle = the
# peel UNROLLED 20 rounds (a fixpoint is idempotent, so extra rounds are
# no-ops once converged). Independence = the dict-based peeler +
# clique/tail/chain cases in tests/test_kcore.py.
_KCORE_K = 9


def _kcore_edges(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    gate = h60(
        F.concat(
            F.lit("rg"), F.col("u").cast("string"),
            F.lit("_"), F.col("k").cast("string"),
        )
    )
    hyper = (
        pk.select("u", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("k"))
        .filter(gate % 4 != 0)
        .select("u", F.expr("u ^ shiftleft(1, k)").alias("v"))
    )
    ring = pk.select("u", (F.col("u") + 1).alias("v"))
    directed = hyper.unionByName(ring).join(
        pk.select(F.col("u").alias("v")), "v", "semi"
    )
    return directed.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()


def _q_k_core(spark, sf_dir):
    from osm_hadoop_spark.operators.routing import k_core

    return k_core(_kcore_edges(spark, sf_dir), k=_KCORE_K)


def _oracle_k_core(rounds: int = 20) -> str:
    gate = _duck_h60("'rg' || u || '_' || k")
    parts = [f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {gate} % 4 <> 0),
dir AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper UNION ALL SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
e0 AS MATERIALIZED (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM dir)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{i-1} UNION ALL SELECT b FROM e{i-1})
  GROUP BY 1),
e{i} AS MATERIALIZED (SELECT a, b FROM e{i-1}
  WHERE a IN (SELECT node FROM d{i} WHERE deg >= {_KCORE_K})
    AND b IN (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}))""")
    parts.append(f""",
df AS (SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
  GROUP BY 1)
SELECT node, deg AS core_deg FROM df WHERE deg >= {_KCORE_K}""")
    return "".join(parts)


# --- k-truss decomposition (operators/truss.py) ------------------------------
# Cohen's triangle-support peel on a planted fixture: K4 cliques keyed
# off p_partkey DIV 4 (support-2 edges, the k=4 survivors), the same
# cliques minus one chord for 1/4 of groups (peel in 2 rounds), and
# ragged triangle strips (u, u+1) + (u, u+2) in a disjoint id space
# (+2 chords die round 1, rails round 2). Engine = data-dependent
# rounds with localCheckpoint truncation; oracle = the peel UNROLLED
# (idempotent once converged, same discipline as k_core_9).
_KTRUSS_K = 4


def _ktruss_edges(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    grp = pk.select(
        "u", F.expr("u DIV 4").alias("g"), (F.col("u") % 4).alias("r")
    )
    left = grp.select(F.col("u").alias("a"), "g", F.col("r").alias("ra"))
    right = grp.select(F.col("u").alias("b"), "g", F.col("r").alias("rb"))
    gate = h60(F.concat(F.lit("kt"), F.col("g").cast("string"))) % 4
    cliques = (
        left.join(right, "g")
        .filter(F.col("a") < F.col("b"))
        .filter(gate != 0)
        .filter(~((gate == 1) & (F.col("ra") == 2) & (F.col("rb") == 3)))
        .select("a", "b")
    )
    sgate = h60(F.concat(F.lit("ks"), F.col("u").cast("string"))) % 4 < 3
    base = pk.filter(sgate)
    nodes = pk.select(F.col("u").alias("v"))
    steps = [
        base.select("u", (F.col("u") + step).alias("v"))
        .join(nodes, "v", "semi")
        .select(
            (F.col("u") + 10_000_000).alias("a"),
            (F.col("v") + 10_000_000).alias("b"),
        )
        for step in (1, 2)
    ]
    return cliques.unionByName(steps[0]).unionByName(steps[1])


def _q_k_truss(spark, sf_dir):
    from osm_hadoop_spark.operators.truss import k_truss

    return k_truss(_ktruss_edges(spark, sf_dir), k=_KTRUSS_K, src="a", dst="b")


def _oracle_k_truss(rounds: int = 6) -> str:
    gate_g = _duck_h60("'kt' || g")
    gate_s = _duck_h60("'ks' || u")
    need = _KTRUSS_K - 2
    parts = [f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
cl AS (
  SELECT l.u AS a, r.u AS b, l.u // 4 AS g, l.u % 4 AS ra, r.u % 4 AS rb
  FROM pk l JOIN pk r ON l.u // 4 = r.u // 4 AND l.u < r.u),
clg AS (
  SELECT a, b FROM cl
  WHERE {gate_g} % 4 <> 0
    AND NOT ({gate_g} % 4 = 1 AND ra = 2 AND rb = 3)),
st AS (
  SELECT u + 10000000 AS a, u + 1 + 10000000 AS b FROM pk
  WHERE {gate_s} % 4 < 3 AND u + 1 IN (SELECT u FROM pk)
  UNION ALL
  SELECT u + 10000000, u + 2 + 10000000 FROM pk
  WHERE {gate_s} % 4 < 3 AND u + 2 IN (SELECT u FROM pk)),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM (SELECT a, b FROM clg UNION ALL SELECT a, b FROM st))"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
adj{i} AS (SELECT a AS x, b AS c FROM e{i-1}
           UNION ALL SELECT b, a FROM e{i-1}),
e{i} AS MATERIALIZED (
  SELECT t.a, t.b FROM e{i-1} t
  JOIN adj{i} n1 ON n1.x = t.a
  JOIN adj{i} n2 ON n2.x = t.b AND n2.c = n1.c
  GROUP BY 1, 2 HAVING count(*) >= {need})""")
    parts.append(f""",
adjf AS (SELECT a AS x, b AS c FROM e{rounds}
         UNION ALL SELECT b, a FROM e{rounds})
SELECT t.a, t.b, CAST(count(*) AS BIGINT) AS support
FROM e{rounds} t
JOIN adjf n1 ON n1.x = t.a
JOIN adjf n2 ON n2.x = t.b AND n2.c = n1.c
GROUP BY 1, 2 HAVING count(*) >= {need}""")
    return "".join(parts)


# --- hierarchy subtree rollup (operators/hierarchy.py) -----------------------
# The recursive-CTE workload: a derived forest on part (parent = u DIV 3,
# 1/5 of edges cut by an h60 gate so many subtrees exist), rolled up to
# per-node subtree count + p_size sum. Engine = transitive closure by
# DOUBLING (ceil(log2 depth) self-joins, localCheckpoint per round) + one
# hash aggregate; oracle = DuckDB's native WITH RECURSIVE walk — two
# entirely different evaluation strategies, same fixpoint.
def _hier_inputs(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("u"), F.col("p_size").cast("bigint").alias("m")
    )
    par = (
        pk.select("u", F.expr("u DIV 3").alias("p"))
        .filter((F.col("p") >= 1) & (F.col("p") != F.col("u")))
        .join(pk.select(F.col("u").alias("p")), "p", "semi")
        .filter(h60(F.concat(F.lit("hp"), F.col("u").cast("string"))) % 5 != 0)
    )
    return pk, par


def _q_subtree_rollup(spark, sf_dir):
    from osm_hadoop_spark.operators.hierarchy import subtree_rollup

    pk, par = _hier_inputs(spark, sf_dir)
    return subtree_rollup(pk, par)


_ORACLE_SUBTREE = f"""
WITH RECURSIVE pk AS (SELECT p_partkey AS u, CAST(p_size AS BIGINT) AS m
                      FROM part),
par AS (
  SELECT u, u // 3 AS p FROM pk
  WHERE u // 3 >= 1 AND u // 3 <> u AND u // 3 IN (SELECT u FROM pk)
    AND {_duck_h60("'hp' || u")} % 5 <> 0),
anc(u, a) AS (
  SELECT u, u FROM pk
  UNION ALL
  SELECT anc.u, par.p FROM anc JOIN par ON anc.a = par.u)
SELECT a AS node,
       CAST(count(*) AS BIGINT) AS n_desc,
       CAST(sum(pk.m) AS BIGINT) AS sum_m
FROM anc JOIN pk ON pk.u = anc.u
GROUP BY 1
"""


# --- strongly connected components (operators/scc.py) ------------------------
# Directed fixture on part: groups of 6 (g = u DIV 6) carry a directed
# chain; 2/3 of groups close the ring (wrap edge mx->mn => one SCC per
# group), the rest stay chains (singleton SCCs). Sparse forward
# connectors mn_g -> mn_{g+1} (gate 1/4) build the condensation DAG, and
# occasionally (gate 1/7, only where the forward edge exists) a BACK
# edge mn_{g+1} -> mn_g merges two groups into one cross-group SCC.
# Engine = doubling closure (reused hierarchy kernel) + mutual-min;
# oracle = DuckDB recursive closure + the same mutual-min — different
# evaluation, same fixpoint.
def _scc_edges(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    grp = pk.select("u", F.expr("u DIV 6").alias("g"))
    gm = grp.groupBy("g").agg(F.min("u").alias("mn"), F.max("u").alias("mx"))

    def gate(tag):
        return h60(F.concat(F.lit(tag), F.col("g").cast("string")))

    chain = (
        grp.join(gm, "g")
        .filter(F.col("u") < F.col("mx"))
        .select(F.col("u").alias("s"), (F.col("u") + 1).alias("d"))
    )
    wrap = gm.filter((gate("sc") % 3 != 1) & (F.col("mx") > F.col("mn"))).select(
        F.col("mx").alias("s"), F.col("mn").alias("d")
    )
    nxt = gm.select((F.col("g") - 1).alias("g"), F.col("mn").alias("mn2"))
    cj = gm.join(nxt, "g")
    cross = cj.filter(gate("sd") % 4 == 0).select(
        F.col("mn").alias("s"), F.col("mn2").alias("d")
    )
    back = cj.filter((gate("sd") % 4 == 0) & (gate("sb") % 7 == 0)).select(
        F.col("mn2").alias("s"), F.col("mn").alias("d")
    )
    return (
        chain.unionByName(wrap).unionByName(cross).unionByName(back)
    )


def _q_scc(spark, sf_dir):
    from osm_hadoop_spark.operators.scc import strongly_connected_components

    return strongly_connected_components(_scc_edges(spark, sf_dir))


_ORACLE_SCC = f"""
WITH RECURSIVE pk AS (SELECT p_partkey AS u FROM part),
grp AS (SELECT u, u // 6 AS g FROM pk),
gm AS (SELECT g, min(u) AS mn, max(u) AS mx FROM grp GROUP BY 1),
chain AS (SELECT u AS s, u + 1 AS d FROM grp JOIN gm USING (g) WHERE u < mx),
wrap AS (SELECT mx AS s, mn AS d FROM gm
         WHERE {_duck_h60("'sc' || g")} % 3 <> 1 AND mx > mn),
cj AS (SELECT a.g AS g, a.mn AS mn, b.mn AS mn2
       FROM gm a JOIN gm b ON b.g = a.g + 1),
fwd AS (SELECT mn AS s, mn2 AS d FROM cj WHERE {_duck_h60("'sd' || g")} % 4 = 0),
bck AS (SELECT mn2 AS s, mn AS d FROM cj
        WHERE {_duck_h60("'sd' || g")} % 4 = 0
          AND {_duck_h60("'sb' || g")} % 7 = 0),
e AS (SELECT DISTINCT s, d FROM (
  SELECT s, d FROM chain UNION ALL SELECT s, d FROM wrap
  UNION ALL SELECT s, d FROM fwd UNION ALL SELECT s, d FROM bck)
  WHERE s <> d),
r(s, d) AS (SELECT s, d FROM e
            UNION SELECT r.s, e.d FROM r JOIN e ON e.s = r.d),
mut AS (SELECT f.s AS u, f.d AS v FROM r f JOIN r b ON b.s = f.d AND b.d = f.s),
best AS (SELECT u, min(v) AS mv FROM mut GROUP BY 1),
nodes AS (SELECT DISTINCT u FROM (SELECT s AS u FROM e UNION ALL SELECT d FROM e))
SELECT n.u AS node, least(n.u, coalesce(b.mv, n.u)) AS scc_id
FROM nodes n LEFT JOIN best b ON b.u = n.u
"""


# --- market-basket association rules (operators/basket.py) -------------------
# Pair support + exact-integer lift over order baskets: dedup to
# (order, part), bounded self-join on the order key (TPC-H baskets <= 7
# items), pair-count aggregate, item counts + the one-row basket total
# joined back as broadcasts. min_support=3 keeps the rule set honest.
def _q_basket_lift(spark, sf_dir):
    from osm_hadoop_spark.operators.basket import basket_pair_lift

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return basket_pair_lift(li, min_support=3)


_ORACLE_BASKET_LIFT = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
cab AS (
  SELECT x.it AS item_a, y.it AS item_b, CAST(count(*) AS BIGINT) AS c_ab
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 3),
itemc AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM b)
SELECT item_a, item_b, c_ab, ia.c AS c_a, ib.c AS c_b, n.n_baskets,
       CAST(n.n_baskets * c_ab AS BIGINT) AS lift_num,
       CAST(ia.c * ib.c AS BIGINT) AS lift_den
FROM cab
JOIN itemc ia ON ia.it = cab.item_a
JOIN itemc ib ON ib.it = cab.item_b
CROSS JOIN n
"""


# --- weighted median (operators/timeseries.py::weighted_median) --------------
# Per-part lower weighted median of sale price cents, weighted by
# quantity — the no-division exact form: pre-aggregate (key, v)->sum(w),
# one partitioned sort serving both window frames, 2*run >= tot gate,
# min per key. Unlike exact_quantiles_events (which pins the buffering
# percentile() builtin), nothing here buffers a group.
def _q_weighted_median(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import weighted_median

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return weighted_median(li, key="l_partkey", value="cents", weight="qty")


_ORACLE_WMEDIAN = """
WITH g AS (
  SELECT l_partkey, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sw
  FROM lineitem GROUP BY 1, 2),
r AS (
  SELECT l_partkey, v,
         sum(sw) OVER (PARTITION BY l_partkey ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
         sum(sw) OVER (PARTITION BY l_partkey) AS tot
  FROM g)
SELECT l_partkey,
       CAST(min(v) AS BIGINT) AS wmedian,
       CAST(max(tot) AS BIGINT) AS total_w
FROM r WHERE 2 * run >= tot GROUP BY 1
"""


# --- maximal independent set (operators/mis.py) ------------------------------
# Deterministic Luby on the SAME derived road graph as k_core_9: h60
# priorities replace random draws, so the parallel local-minimum rule
# equals the sequential greedy MIS in (priority, id) order and the
# oracle can UNROLL the rounds (converges in ~5 at sf0.01; 12 unrolled —
# idempotent past the fixpoint because an empty active set selects and
# drops nothing).
def _q_luby_mis(spark, sf_dir):
    from osm_hadoop_spark.operators.mis import luby_mis

    return luby_mis(_kcore_edges(spark, sf_dir))


def _q_greedy_coloring(spark, sf_dir):
    """Deterministic Jones-Plassmann greedy coloring (operators/coloring.py)
    of the shared hypercube+ring graph — provably equal to sequential
    greedy in (h60 priority, id) order, which the unrolled twin replays.
    The graph is capped at 4000 vertices (u <= 4000, inert below sf0.1):
    JP round count is the longest priority-decreasing path (~27 at 2000
    nodes), so the bench cost is per-round scheduling latency — the cap
    keeps the driver query bounded while the operator itself is
    unbounded (see operators/coloring.py 100 TB posture)."""
    from osm_hadoop_spark.operators.coloring import greedy_coloring

    edges = _kcore_edges(spark, sf_dir).filter(
        (F.col("u") <= 4000) & (F.col("v") <= 4000)
    )
    return greedy_coloring(edges)


def _oracle_greedy_coloring(rounds: int = 34) -> str:
    gate = _duck_h60("'rg' || u || '_' || k")
    pr = _duck_h60("'gc' || u")
    parts = [f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {gate} % 4 <> 0),
dir AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper UNION ALL SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
e0 AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM dir
       WHERE u <> v AND u <= 4000 AND v <= 4000),
adj AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
np AS (SELECT u, {pr} AS p FROM (SELECT DISTINCT u FROM adj)),
adjp AS MATERIALIZED (
  SELECT a.u, a.v,
         (nv.p < nu.p) OR (nv.p = nu.p AND a.v < a.u) AS earlier
  FROM adj a JOIN np nu ON nu.u = a.u JOIN np nv ON nv.u = a.v),
c0 AS (SELECT u, CAST(0 AS BIGINT) AS color FROM np WHERE false),
u0 AS (SELECT u FROM np)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
f{i} AS MATERIALIZED (
  SELECT u FROM u{i-1}
  WHERE u NOT IN (SELECT adjp.u FROM adjp
                  JOIN u{i-1} x ON x.u = adjp.v WHERE adjp.earlier)),
n{i} AS MATERIALIZED (
  SELECT f.u,
    CAST(coalesce((
      SELECT min(g.x) FROM generate_series(0, 64) g(x)
      WHERE g.x NOT IN (
        SELECT c.color FROM adjp a JOIN c{i-1} c ON c.u = a.v
        WHERE a.u = f.u AND a.earlier)), 0) AS BIGINT) AS color
  FROM f{i} f),
c{i} AS MATERIALIZED (
  SELECT u, color FROM c{i-1} UNION ALL SELECT u, color FROM n{i}),
u{i} AS MATERIALIZED (
  SELECT u FROM u{i-1} WHERE u NOT IN (SELECT u FROM f{i}))""")
    parts.append(f"""
SELECT u AS node, color FROM c{rounds}""")
    return "".join(parts)


def _oracle_luby_mis(rounds: int = 12) -> str:
    gate = _duck_h60("'rg' || u || '_' || k")
    pr = _duck_h60("'mp' || u")
    parts = [f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {gate} % 4 <> 0),
dir AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper UNION ALL SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
e0 AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM dir
       WHERE u <> v),
adj AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
np AS (SELECT u, {pr} AS p FROM (SELECT DISTINCT u FROM adj)),
adjp AS MATERIALIZED (
  SELECT a.u, a.v, nu.p AS pu, nv.p AS pv
  FROM adj a JOIN np nu ON nu.u = a.u JOIN np nv ON nv.u = a.v),
a0 AS (SELECT u FROM np)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
w{i} AS (
  SELECT DISTINCT adjp.u FROM adjp
  JOIN a{i-1} au ON au.u = adjp.u
  JOIN a{i-1} av ON av.u = adjp.v
  WHERE (pv < pu) OR (pv = pu AND adjp.v < adjp.u)),
m{i} AS MATERIALIZED (
  SELECT u FROM a{i-1} WHERE u NOT IN (SELECT u FROM w{i})),
a{i} AS MATERIALIZED (
  SELECT u FROM a{i-1}
  WHERE u NOT IN (SELECT u FROM m{i})
    AND u NOT IN (SELECT adjp.v FROM adjp JOIN m{i} mm ON mm.u = adjp.u))""")
    mis_union = " UNION ALL ".join(f"SELECT u FROM m{i}" for i in range(1, rounds + 1))
    parts.append(f""",
mis AS (SELECT DISTINCT u FROM ({mis_union}))
SELECT np.u AS node, (np.u IN (SELECT u FROM mis)) AS in_mis FROM np""")
    return "".join(parts)


# --- equi-depth bin boundaries (operators/profile.py) ------------------------
# Per-nation deciles of customer balance cents at exact lower rank
# ceil(i*n/10): one partitioned sort, each ranked row emits its owned
# bin ids by integer DIV arithmetic — exactly k rows per key, nothing
# buffered (the scalable exact contrast to the percentile() builtin).
def _q_equi_depth(spark, sf_dir):
    from osm_hadoop_spark.operators.profile import equi_depth_bins

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return equi_depth_bins(cust, key="c_nationkey", value="cents", k=10)


_ORACLE_EQUI_DEPTH = """
WITH ranked AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY floor(c_acctbal * 100 + 0.5)) AS rn,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer)
SELECT c_nationkey, u.bin, v AS boundary
FROM ranked,
     LATERAL (SELECT unnest(generate_series(
       (10 * (rn - 1)) // n + 1, (10 * rn) // n)) AS bin) u
WHERE (10 * rn) // n > (10 * (rn - 1)) // n
"""


# --- bipartite butterfly census (operators/butterfly.py) ---------------------
# 4-cycle motif count of the customer x part purchase graph: wedges
# enumerated per part (degree-bounded self-join), codegree aggregate,
# one global C(w,2) fold. The bipartite sibling of triangle_blocks.
def _q_butterflies(spark, sf_dir):
    from osm_hadoop_spark.operators.butterfly import butterfly_census

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("p")
    )
    return butterfly_census(li)


_ORACLE_BUTTERFLY = """
WITH e AS (SELECT DISTINCT l_orderkey AS u, l_partkey AS r FROM lineitem),
wedges AS (
  SELECT a.u AS u1, b.u AS u2 FROM e a JOIN e b ON a.r = b.r AND a.u < b.u),
codeg AS (SELECT u1, u2, CAST(count(*) AS BIGINT) AS w
          FROM wedges GROUP BY 1, 2)
SELECT CAST(sum((w * (w - 1)) // 2) AS BIGINT) AS n_butterflies,
       CAST(sum(w) AS BIGINT) AS n_wedges,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM codeg
"""


# --- Poisson-bootstrap replicates (operators/bootstrap.py) -------------------
# One-pass resampled aggregates: 16 replica (n_eff, sum_cents) pairs
# with binomial(4, 1/4) hash weights (mean 1, integer-exact — the
# Poisson(1) stand-in that needs no irrational threshold). The replica
# spread prices the uncertainty of count/sum/mean at any scale.
def _q_bootstrap(spark, sf_dir):
    from osm_hadoop_spark.operators.bootstrap import poisson_bootstrap

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return poisson_bootstrap(ev, "event_id", "cents", replicas=16)


_BOOT_W = " + ".join(
    f"CASE WHEN (h & {3 << (2 * j)}) = 0 THEN 1 ELSE 0 END" for j in range(4)
)
_ORACLE_BOOTSTRAP = f"""
WITH d AS (
  SELECT CAST(event_id AS VARCHAR) AS rid,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events),
e AS (
  SELECT r.replica, d.v,
         {_duck_h60("'bs' || r.replica || '_' || d.rid")} AS h
  FROM d, (SELECT unnest(generate_series(0, 15)) AS replica) r)
SELECT replica,
       CAST(sum({_BOOT_W}) AS BIGINT) AS n_eff,
       CAST(sum(({_BOOT_W}) * v) AS BIGINT) AS sum_v
FROM e GROUP BY 1
"""


# --- AMS F2 sketch + exact twin (operators/ams.py) ---------------------------
# Self-join-size estimation: 32 deterministic h60 sign counters folded
# in one pass next to the exact sum(count^2) — the oracle reproduces
# BOTH sides bit-for-bit (the sketch is replayable by construction);
# accuracy is pinned separately by property test.
def _q_ams_f2(spark, sf_dir):
    from osm_hadoop_spark.operators.ams import ams_f2

    return ams_f2(_t(spark, sf_dir, "events"), key="user_id", k=32)


_ORACLE_AMS_F2 = f"""
WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS kv FROM events),
signs AS (
  SELECT j, ({_duck_h60("'ams' || j || '_' || kv")} % 2) * 2 - 1 AS sgn
  FROM keyed, (SELECT unnest(generate_series(0, 31)) AS j)),
z AS (SELECT j, CAST(sum(sgn) AS BIGINT) AS zj FROM signs GROUP BY 1),
sk AS (SELECT CAST(sum(zj * zj) AS BIGINT) AS sq_sum,
              CAST(count(*) AS BIGINT) AS k FROM z),
ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact
       FROM (SELECT count(*) AS c FROM keyed GROUP BY kv))
SELECT ex.f2_exact, sk.sq_sum, sk.k FROM ex CROSS JOIN sk
"""


# --- rolling active users (operators/timeseries.py) --------------------------
# DAU + trailing-7-day WAU per observed day: dedup to (user, day), a
# bounded 7x sequence explode onto target days (semi-joined back to the
# observed calendar), one count-distinct per day. The engagement-report
# staple missing from the retention/funnel family.
def _q_rolling_wau(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import rolling_active_users

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).alias("day"),
    )
    return rolling_active_users(ev, window_days=7)


_ORACLE_ROLLING_WAU = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d FROM events),
days AS (SELECT DISTINCT d FROM ud),
contrib AS (
  SELECT ud.u, ud.d + g.k AS td
  FROM ud, (SELECT unnest(generate_series(0, 6)) AS k) g
  WHERE ud.d + g.k IN (SELECT d FROM days)),
wau AS (SELECT td AS d, CAST(count(DISTINCT u) AS BIGINT) AS wau
        FROM contrib GROUP BY 1),
dau AS (SELECT d, CAST(count(DISTINCT u) AS BIGINT) AS dau FROM ud GROUP BY 1)
SELECT dau.d AS day, dau.dau, wau.wau
FROM dau JOIN wau ON wau.d = dau.d
"""


# --- retention cohorts + OLS trend (operators/timeseries.py) -----------------
# Classic product analytics over the event stream: (a) cohort retention
# matrix keyed by first-activity day; (b) per-user OLS slope as EXACT
# integer sufficient statistics (n*Sxy - Sx*Sy over n*Sx2 - Sx^2) — the
# distributable one-pass regression, no float anywhere.
def _q_retention(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import retention_cohorts

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).alias("day"),
    )
    return retention_cohorts(ev, day="day")


_ORACLE_RETENTION = """
WITH a AS (
  SELECT DISTINCT user_id AS k, epoch_us(ts) // 86400000000 AS d FROM events),
f AS (SELECT k, min(d) AS d0 FROM a GROUP BY 1),
s AS (SELECT d0, count(*) AS n_cohort FROM f GROUP BY 1),
r AS (SELECT f.d0 AS cohort_day, a.d - f.d0 AS day_k, count(*) AS n_active
      FROM a JOIN f USING (k) GROUP BY 1, 2)
SELECT cohort_day, day_k, n_active, n_cohort
FROM r JOIN s ON r.cohort_day = s.d0
"""


# CUSUM single-changepoint per user (timeseries.py::cusum_changepoint):
# D_i = n*prefix_i - i*total over the (ts, event_id)-ordered cents
# series, argmax |D_i| with earliest-index ties. One window exchange,
# argmax reuses the same partitioning (plan-asserted 1 Exchange).
def _q_cusum(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


_ORACLE_CUSUM = """
WITH c AS (SELECT user_id, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events),
r AS (SELECT user_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        sum(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        sum(x) OVER (PARTITION BY user_id) AS tot,
        count(*) OVER (PARTITION BY user_id) AS n
      FROM c),
d AS (SELECT user_id, i, abs(n * pre - i * tot) AS d_abs, n
      FROM r WHERE i < n)
SELECT user_id, CAST(i AS BIGINT) AS cp_i,
       CAST(d_abs AS BIGINT) AS d_abs, CAST(n AS BIGINT) AS n
FROM d
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY d_abs DESC, i) = 1
"""


def _q_trend(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import trend_stats
    from osm_hadoop_spark.operators.textstats import h60

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).alias("x"),
        (h60(F.concat(F.lit("tv"), F.col("event_id").cast("string"))) % 1000).alias("y"),
    )
    return trend_stats(ev)


_ORACLE_TREND = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS x,
         {_duck_h60("'tv' || CAST(event_id AS VARCHAR)")} % 1000 AS y
  FROM events),
a AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum(x * y) AS BIGINT) AS sum_xy, CAST(sum(x * x) AS BIGINT) AS sum_x2
  FROM p GROUP BY 1)
SELECT user_id, n, sum_x, sum_y,
       n * sum_xy - sum_x * sum_y AS slope_num,
       n * sum_x2 - sum_x * sum_x AS slope_den
FROM a
"""


# --- Theil-Sen robust slope (operators/timeseries.py::theil_sen) -----------
# The robust twin of trend_per_user over the SAME (user, day, value)
# derivation: median pairwise slope, reported as the exact integer pair
# selected by the engine-shared (double value, den, num) order — see the
# operator docstring for why the double is a legitimate exact sort key.
def _q_theil_sen(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60
    from osm_hadoop_spark.operators.timeseries import theil_sen

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).alias("x"),
        (h60(F.concat(F.lit("tv"), F.col("event_id").cast("string"))) % 1000).alias("y"),
    )
    return theil_sen(ev)


_ORACLE_THEIL_SEN = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS x,
         {_duck_h60("'tv' || CAST(event_id AS VARCHAR)")} % 1000 AS y
  FROM events),
pairs AS (
  SELECT a.user_id,
         CAST(b.y - a.y AS BIGINT) AS num,
         CAST(b.x - a.x AS BIGINT) AS den
  FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x),
ranked AS (
  SELECT user_id, num, den,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
                                     den, num) AS rn,
         count(*) OVER (PARTITION BY user_id) AS m
  FROM pairs)
SELECT user_id, CAST(m AS BIGINT) AS m_pairs,
       num AS slope_num, den AS slope_den
FROM ranked WHERE rn = (m + 1) // 2
"""


# --- zonal majority (operators/zonal.py::zonal_mode) --------------------------
# GIS "zonal statistics: MAJORITY": modal raster class per zone with the
# pinned (max count, min val) tie-break. Engine = two partial-agg hash
# aggs and a struct-max (no window, no sort); oracle = a DIFFERENT
# mechanism (row_number window argmax). Zones are an all-integer 34x16
# grid over the A5 event derivation.
def _q_zonal_mode(spark, sf_dir):
    from osm_hadoop_spark.operators.zonal import zonal_mode

    cells = _t(spark, sf_dir, "events").select(
        (((F.col("event_id") * 11) % 2720) / F.lit(80)).cast("long").alias("zx"),
        (((F.col("event_id") * 13) % 1280) / F.lit(80)).cast("long").alias("zy"),
        (F.col("event_id") % 110).cast("long").alias("val"),
    )
    return zonal_mode(cells, zone_cols=["zx", "zy"]).select(
        "zx", "zy", "mode_val", "mode_cnt", "n_vals"
    )


_ORACLE_ZONAL_MODE = """
WITH cells AS (
  SELECT (event_id * 11) % 2720 // 80 AS zx,
         (event_id * 13) % 1280 // 80 AS zy,
         event_id % 110 AS val
  FROM events),
cnts AS (SELECT zx, zy, val, count(*) AS cnt FROM cells GROUP BY 1, 2, 3),
ranked AS (
  SELECT zx, zy, val, cnt,
         row_number() OVER (PARTITION BY zx, zy ORDER BY cnt DESC, val ASC) AS rn,
         count(*) OVER (PARTITION BY zx, zy) AS n_vals
  FROM cnts)
SELECT zx, zy, val AS mode_val, cnt AS mode_cnt, n_vals
FROM ranked WHERE rn = 1
"""


# --- bigram LM quality gate (operators/lm.py) --------------------------------
# CCNet-style LM scoring with the model trained on the corpus itself:
# SCALE-quantized integer MLE terms, per-doc sum + per-bigram average.
# Integer DIV everywhere -> exact twin.
def _q_lm_scores(spark, sf_dir):
    from osm_hadoop_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


_ORACLE_LM = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
t2 AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t2, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)),
bgc AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2),
pc AS (SELECT w1, count(*) AS c_w1 FROM bg GROUP BY 1),
terms AS (
  SELECT doc_id, (c_bg * {1 << 20}) // c_w1 AS term
  FROM bg JOIN bgc USING (w1, w2) JOIN pc USING (w1))
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(term) AS BIGINT) AS lm_score,
       CAST(sum(term) // count(*) AS BIGINT) AS lm_q
FROM terms GROUP BY 1
"""


# --- way noding (operators/noding.py) ----------------------------------------
# Split the J1/J2 ways into routing edges at junction nodes (nodes used
# >= 2 times anywhere) — the osm2pgrouting/osrm-extract step between way
# assembly and the routing family. Runs on the SAME way_nodes derivation
# as way_assembly_wkt, so the edges decompose the very ways the engine
# assembles. Oracle = the same window mechanism in DuckDB (arg_min /
# arg_max reduction); independence = the explicit per-way splitter +
# chaining/conservation invariants in tests/test_noding.py.
def _q_way_noding(spark, sf_dir):
    from osm_hadoop_spark.operators.noding import node_ways

    return node_ways(_way_nodes(spark, sf_dir))


_ORACLE_WAY_NODING = f"""
WITH wn AS ({_WAY_NODES_SQL}),
usage AS (SELECT node_id, count(*) AS n_use FROM wn GROUP BY 1),
f AS (SELECT wn.way_id, wn.ordinal, wn.node_id, u.n_use >= 2 AS shared
      FROM wn JOIN usage u USING (node_id)),
r AS (SELECT way_id, ordinal, node_id, shared,
        row_number() OVER w AS pos,
        count(*) OVER (PARTITION BY way_id) AS n,
        lead(node_id) OVER w AS next_node
      FROM f WINDOW w AS (PARTITION BY way_id ORDER BY ordinal, node_id)),
s AS (SELECT way_id, pos, node_id, next_node,
        sum(CASE WHEN pos = 1 OR pos = n OR shared THEN 1 ELSE 0 END)
          OVER (PARTITION BY way_id ORDER BY ordinal, node_id ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM r WHERE next_node IS NOT NULL)
SELECT way_id, CAST(cum_b - 1 AS BIGINT) AS edge_idx,
       arg_min(node_id, pos) AS from_node,
       arg_max(next_node, pos) AS to_node,
       count(*) AS n_segments
FROM s GROUP BY 1, 2
"""


# --- adaptive quadtree partitioner (operators/quadtree.py) -------------------
# Occupancy-capped quadtree leaves over a skewed point set (1/3 of the
# points in a 64x64 metro cluster, 2/3 uniform over the 1024^2 domain):
# the spatial partition map a 100 TB join would repartition by. Engine =
# closed-form ancestor-count rule (one explode agg + one broadcast
# parent join); the SQL twin shares the closed form, so INDEPENDENCE
# comes from tests/test_quadtree.py's textbook top-down recursive
# splitter + cover/disjointness invariants.
_QT_S, _QT_CAP, _QT_D = 10, 64, 6


def _q_quadtree(spark, sf_dir):
    from osm_hadoop_spark.operators.quadtree import quadtree_leaves
    from osm_hadoop_spark.operators.textstats import h60

    k = F.col("o_orderkey")
    s = k.cast("string")
    pts = _t(spark, sf_dir, "orders").select(
        F.when(k % 3 == 0, 100 + h60(F.concat(F.lit("qcx"), s)) % 64)
        .otherwise(h60(F.concat(F.lit("qux"), s)) % 1024)
        .alias("x"),
        F.when(k % 3 == 0, 700 + h60(F.concat(F.lit("qcy"), s)) % 64)
        .otherwise(h60(F.concat(F.lit("quy"), s)) % 1024)
        .alias("y"),
    )
    return quadtree_leaves(pts, size_pow=_QT_S, cap=_QT_CAP, max_depth=_QT_D)


_ORACLE_QUADTREE = f"""
WITH p AS (
  SELECT CASE WHEN o_orderkey % 3 = 0
              THEN 100 + {_duck_h60("'qcx' || CAST(o_orderkey AS VARCHAR)")} % 64
              ELSE {_duck_h60("'qux' || CAST(o_orderkey AS VARCHAR)")} % 1024 END AS x,
         CASE WHEN o_orderkey % 3 = 0
              THEN 700 + {_duck_h60("'qcy' || CAST(o_orderkey AS VARCHAR)")} % 64
              ELSE {_duck_h60("'quy' || CAST(o_orderkey AS VARCHAR)")} % 1024 END AS y
  FROM orders),
anc AS (
  SELECT d, x >> ({_QT_S} - d) AS cx, y >> ({_QT_S} - d) AS cy
  FROM p, (SELECT unnest(generate_series(0, {_QT_D})) AS d)),
counts AS (
  SELECT d, cx, cy, count(*) AS n FROM anc GROUP BY 1, 2, 3)
SELECT c.d AS depth, c.cx, c.cy, c.n AS n_points
FROM counts c LEFT JOIN counts pr
  ON pr.d = c.d - 1 AND pr.cx = c.cx >> 1 AND pr.cy = c.cy >> 1
WHERE (c.d = 0 OR pr.n > {_QT_CAP})
  AND (c.n <= {_QT_CAP} OR c.d = {_QT_D})
"""


# --- funnel analysis (operators/funnel.py) -----------------------------------
# Greedy first-match funnel view -> click -> purchase with a 3-day
# per-step window on the (ts, event_id) total order. Engine = ONE agg +
# sorted-array codegen fold; oracle = a DIFFERENT mechanism (per-stage
# row_number()=1 joins chaining the greedy matches).
_FUNNEL_W_US = 3 * 24 * 3600 * 1_000_000


def _q_funnel(spark, sf_dir):
    from osm_hadoop_spark.operators.funnel import funnel_steps

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return funnel_steps(ev, ["view", "click", "purchase"], _FUNNEL_W_US)


_ORACLE_FUNNEL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
s1 AS (
  SELECT user_id, ts_us AS t1, event_id AS e1 FROM (
    SELECT user_id, ts_us, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
    FROM ev WHERE event_type = 'view') WHERE rn = 1),
s2 AS (
  SELECT user_id, t2, e2 FROM (
    SELECT c.user_id, c.ts_us AS t2, c.event_id AS e2,
           row_number() OVER (PARTITION BY c.user_id ORDER BY c.ts_us, c.event_id) AS rn
    FROM ev c JOIN s1 USING (user_id)
    WHERE c.event_type = 'click' AND (c.ts_us, c.event_id) > (s1.t1, s1.e1)
      AND c.ts_us - s1.t1 <= {_FUNNEL_W_US}) WHERE rn = 1),
s3 AS (
  SELECT user_id, t3, e3 FROM (
    SELECT p.user_id, p.ts_us AS t3, p.event_id AS e3,
           row_number() OVER (PARTITION BY p.user_id ORDER BY p.ts_us, p.event_id) AS rn
    FROM ev p JOIN s2 USING (user_id)
    WHERE p.event_type = 'purchase' AND (p.ts_us, p.event_id) > (s2.t2, s2.e2)
      AND p.ts_us - s2.t2 <= {_FUNNEL_W_US}) WHERE rn = 1)
SELECT u.user_id,
       CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS depth,
       coalesce(s1.t1, -1) AS t1_us, coalesce(s1.e1, -1) AS e1,
       coalesce(s2.t2, -1) AS t2_us, coalesce(s2.e2, -1) AS e2,
       coalesce(s3.t3, -1) AS t3_us, coalesce(s3.e3, -1) AS e3
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
"""


# --- self-intersection stream (operators/overlay.py) ------------------------
# ST_IsSimple violations: non-adjacent intersecting segment pairs WITHIN
# each way. Polylines are derived closed-form as drift walks (vertex i =
# way base + i*drift + jitter) so consecutive segments are spatially
# local like real roads — no window/cumsum needed in either engine. The
# join key is (way_id, cell); the oracle is the O(n^2) within-way
# inequality join with the same exact CLRS predicate.
def _sv_coord(axis: str, wcol, icol):
    """Closed-form drift-walk vertex coordinate (Spark columns)."""
    from osm_hadoop_spark.operators.textstats import h60

    ws = wcol.cast("string")
    return (
        h60(F.concat(F.lit("sb" + axis), ws)) % 3000
        + (h60(F.concat(F.lit("sd" + axis), ws)) % 21 - 10) * icol
        + h60(
            F.concat(F.lit("sw" + axis), ws, F.lit("_"), icol.cast("string"))
        ) % 61 - 30
    )


def _q_self_intersect(spark, sf_dir):
    from osm_hadoop_spark.operators.overlay import self_intersections

    pk = F.col("p_partkey") - 1
    w = pk % 50
    i = F.floor(pk / 50).cast("long")
    segs = _t(spark, sf_dir, "part").select(
        w.alias("way_id"),
        i.alias("seg_id"),
        _sv_coord("x", w, i).alias("x1"),
        _sv_coord("y", w, i).alias("y1"),
        _sv_coord("x", w, i + 1).alias("x2"),
        _sv_coord("y", w, i + 1).alias("y2"),
    )
    return (
        self_intersections(segs, cell=32)
        .groupBy("way_id")
        .agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.sum("seg_a").alias("sum_seg_a"),
            F.sum("seg_b").alias("sum_seg_b"),
        )
    )


def _duck_sv_coord(axis: str, wexpr: str, iexpr: str) -> str:
    ws = f"CAST({wexpr} AS VARCHAR)"
    base = _duck_h60(f"'sb{axis}' || {ws}")
    drift = _duck_h60(f"'sd{axis}' || {ws}")
    jit = _duck_h60(f"'sw{axis}' || {ws} || '_' || CAST({iexpr} AS VARCHAR)")
    return f"({base} % 3000 + ({drift} % 21 - 10) * ({iexpr}) + {jit} % 61 - 30)"


_ORACLE_SELF_INTERSECT = f"""
WITH g AS (
  SELECT (p_partkey - 1) % 50 AS way_id,
         (p_partkey - 1) // 50 AS seg_id,
         {_duck_sv_coord('x', '(p_partkey - 1) % 50', '(p_partkey - 1) // 50')} AS x1,
         {_duck_sv_coord('y', '(p_partkey - 1) % 50', '(p_partkey - 1) // 50')} AS y1,
         {_duck_sv_coord('x', '(p_partkey - 1) % 50', '(p_partkey - 1) // 50 + 1')} AS x2,
         {_duck_sv_coord('y', '(p_partkey - 1) % 50', '(p_partkey - 1) // 50 + 1')} AS y2
  FROM part)
SELECT a.way_id, count(*) AS n_violations,
       CAST(sum(a.seg_id) AS BIGINT) AS sum_seg_a,
       CAST(sum(b.seg_id) AS BIGINT) AS sum_seg_b
FROM g a JOIN g b
  ON a.way_id = b.way_id AND a.seg_id + 1 < b.seg_id AND ({_duck_intersects()})
GROUP BY 1
"""


# --- marching squares (operators/contour.py) --------------------------------
# Raster -> vector: contour segments around the cells hit by >= 2 order
# points on a 160x80 grid. Scatter-aggregate (4x corner-bit fan-out, ONE
# block agg), case decode + segment emit in codegen; doubled integer
# midpoint coordinates keep everything exact. The oracle recomputes the
# mask via an unnest scatter and joins a VALUES copy of the case table
# (generated from the same pinned _CASES source); independence comes
# from tests/test_contour.py's table-free closed-loop topology proof.
def _q_contour(spark, sf_dir):
    from osm_hadoop_spark.operators.contour import marching_squares
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("o_orderkey").cast("string")
    cells = (
        _t(spark, sf_dir, "orders")
        .select(
            (h60(F.concat(F.lit("msx"), s)) % 160).alias("cx"),
            (h60(F.concat(F.lit("msy"), s)) % 80).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("cx", "cy")
    )
    return (
        marching_squares(cells)
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum("x1d").alias("sum_x1d"),
            F.sum("y1d").alias("sum_y1d"),
            F.sum("x2d").alias("sum_x2d"),
            F.sum("y2d").alias("sum_y2d"),
        )
    )


def _oracle_contour() -> str:
    from osm_hadoop_spark.operators.contour import _CASES

    lut_rows = ", ".join(
        f"({m}, {i}, {a[0]}, {a[1]}, {b[0]}, {b[1]})"
        for m, segs in _CASES.items()
        for i, (a, b) in enumerate(segs)
    )
    s = "CAST(o_orderkey AS VARCHAR)"
    return f"""
WITH ins AS (
  SELECT {_duck_h60("'msx' || " + s)} % 160 AS cx,
         {_duck_h60("'msy' || " + s)} % 80 AS cy
  FROM orders GROUP BY 1, 2 HAVING count(*) >= 2),
sc AS (
  SELECT ins.cx - c.dx AS bx, ins.cy - c.dy AS by, c.bit
  FROM ins, (VALUES (0,0,1), (1,0,2), (1,1,4), (0,1,8)) AS c(dx, dy, bit)),
blocks AS (
  SELECT bx, by, CAST(sum(bit) AS INT) AS mask FROM sc GROUP BY 1, 2),
lut(mask, seg, rx1, ry1, rx2, ry2) AS (VALUES {lut_rows}),
segs AS (
  SELECT b.mask,
         2 * b.bx + l.rx1 AS x1d, 2 * b.by + l.ry1 AS y1d,
         2 * b.bx + l.rx2 AS x2d, 2 * b.by + l.ry2 AS y2d
  FROM blocks b JOIN lut l USING (mask))
SELECT mask, count(*) AS n_segs,
       CAST(sum(x1d) AS BIGINT) AS sum_x1d,
       CAST(sum(y1d) AS BIGINT) AS sum_y1d,
       CAST(sum(x2d) AS BIGINT) AS sum_x2d,
       CAST(sum(y2d) AS BIGINT) AS sum_y2d
FROM segs GROUP BY 1
"""


# --- gaps-and-islands (operators/islands.py) --------------------------------
# T5: merge each user's overlapping/touching activity intervals (event ts
# + an h60-derived duration) into maximal islands. Single-sort window
# formulation; all-integer -> exact twin.
def _q_activity_islands(spark, sf_dir):
    from osm_hadoop_spark.operators.islands import merge_islands
    from osm_hadoop_spark.operators.textstats import h60

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + h60(F.concat(F.lit("dur"), F.col("event_id").cast("string")))
            % 43_200_000_000
            + 1
        ).alias("end_us"),
    )
    return merge_islands(iv)


_ORACLE_ISLANDS = f"""
WITH iv AS (
  SELECT user_id, event_id AS interval_id, epoch_us(ts) AS start_us,
         epoch_us(ts)
           + {_duck_h60("'dur' || CAST(event_id AS VARCHAR)")} % 43200000000
           + 1 AS end_us
  FROM events),
staged AS (
  SELECT user_id, start_us, end_us,
         max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, interval_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pme,
         interval_id
  FROM iv),
lab AS (
  SELECT user_id, start_us, end_us,
         CAST(sum(CASE WHEN pme IS NULL OR start_us > pme THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY start_us, interval_id
                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS island
  FROM staged)
SELECT user_id, island, min(start_us) AS island_start,
       max(end_us) AS island_end, count(*) AS n_intervals
FROM lab GROUP BY user_id, island
"""


def _q_dedup_simhash(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), bits=16, max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def _duck_simhash_bit(j: int) -> str:
    return (
        f"CASE WHEN list_sum(list_transform(toks, t -> "
        f"(({_duck_h60('t')} >> {j}) & 1) * 2 - 1)) >= 0 THEN {1 << j} ELSE 0 END"
    )


_ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, CAST({' + '.join(_duck_simhash_bit(j) for j in range(16))} AS BIGINT) AS sh
       FROM toks WHERE len(toks) > 0),
banded AS (SELECT doc_id, sh, b, (sh >> (b * 4)) & 15 AS key
           FROM sh, (SELECT unnest(generate_series(0, 3)) AS b)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sh AS sha, b.doc_id AS doc_b, b.sh AS shb
         FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 3
"""


def _q_embedding_topk(spark, sf_dir):
    from osm_hadoop_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


_ORACLE_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id % 50 = 0),
s AS (SELECT q.query_id, e.vec_id,
        list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS score
      FROM embeddings e, q WHERE e.vec_id != q.query_id),
r AS (SELECT query_id, vec_id,
        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


def _q_ann_lsh(spark, sf_dir):
    # derived oracle: the deterministic plane matrix is embedded as VALUES
    # literals in _oracle_ann_lsh, so DuckDB recomputes the same buckets
    from osm_hadoop_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ann_lsh_topk(emb, queries, k=5, dim=64, n_planes=8).select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def _q_ann_ivf(spark, sf_dir):
    # rows-only: IVF coarse quantizer is sample-fit k-means (not SQL
    # expressible); recall is pytest-verified against brute force
    from osm_hadoop_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ann_ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4).select(
        "query_id", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def _q_ann_pq(spark, sf_dir):
    # PQ-ADC: all-integer asymmetric distances (fixed-point floor(x*1024)
    # vectors + floored integer codebooks), so the derived oracle is
    # float-risk-free end to end, dist column included.
    from osm_hadoop_spark.operators.similarity import ann_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ann_pq_topk(emb, queries, k=5, m=8, ksub=16).select(
        "query_id", "vec_id", "dist", F.col("rank").cast("bigint").alias("rank")
    )


def _oracle_ann_pq() -> str | None:
    """Derived value oracle for PQ: recompute the sample-fit integer
    codebooks from the driver parquet with shared NumPy code
    (pq_codebooks_numpy == pq_fit_codebooks bit-for-bit), embed them as
    BIGINT[] literals, and replicate quantization, per-subspace argmin
    encoding, the query distance table, the ADC sum, and the ranking in
    SQL. Everything after floor(x*1024) is integer arithmetic, so the
    match is exact by construction. None when the parquet isn't mounted."""
    import os

    from osm_hadoop_spark.operators.similarity import pq_codebooks_numpy

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    if not os.path.exists(path):
        return None
    m, ksub = 8, 16
    cb = pq_codebooks_numpy(path, m=m, ksub=ksub, iters=5, sample=4096)
    sub = cb.shape[2]
    rows = ",\n".join(
        f"({i}, {j}, [{','.join(str(int(v)) for v in cb[i][j])}]::BIGINT[])"
        for i in range(m)
        for j in range(ksub)
    )
    return f"""
WITH cb(i, j, w) AS (VALUES {rows}),
eb AS (SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1024) AS BIGINT)) AS iv
       FROM embeddings),
d AS (SELECT e.vec_id, c.i, c.j,
        CAST(list_sum(list_transform(generate_series(1, {sub}),
          dd -> (e.iv[c.i * {sub} + dd] - c.w[dd])
              * (e.iv[c.i * {sub} + dd] - c.w[dd]))) AS BIGINT) AS d2
      FROM eb e CROSS JOIN cb c),
best AS (
  SELECT vec_id, i, j AS code FROM (
    SELECT vec_id, i, j,
           row_number() OVER (PARTITION BY vec_id, i ORDER BY d2, j) AS rn
    FROM d) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, i, j, d2 FROM d WHERE vec_id % 50 = 0),
adc AS (SELECT q.query_id, b.vec_id, CAST(sum(q.d2) AS BIGINT) AS dist
        FROM best b JOIN q ON q.i = b.i AND q.j = b.code
        WHERE b.vec_id != q.query_id
        GROUP BY q.query_id, b.vec_id),
r AS (SELECT query_id, vec_id, dist,
        row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM adc)
SELECT query_id, vec_id, dist, CAST(rank AS BIGINT) AS rank FROM r
WHERE rank <= 5
"""


def _q_ann_sq8(spark, sf_dir):
    """Int8 scalar-quantized top-k: integer dot-product ranking, so the
    oracle comparison is pure-integer (no float ties). The twin recomputes
    the same per-tensor symmetric quantizer in SQL."""
    from osm_hadoop_spark.operators.similarity import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return sq8_topk(emb, queries, k=5, dim=64).select(
        "query_id", "vec_id", "qscore", F.col("rank").cast("bigint").alias("rank")
    )


_ORACLE_ANN_SQ8 = """
WITH st AS (
  SELECT max(abs(x)) AS absmax
  FROM (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)
), eq AS (
  SELECT vec_id,
    list_transform(generate_series(1, 64), i ->
      CAST(CASE WHEN st.absmax = 0 THEN 0
           ELSE floor(embedding[i]::DOUBLE / st.absmax * 127 + 0.5)
           END AS BIGINT)) AS q
  FROM embeddings CROSS JOIN st
), qq AS (
  SELECT vec_id AS query_id, q AS qv FROM eq WHERE vec_id % 50 = 0
), s AS (
  SELECT qq.query_id, eq.vec_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> eq.q[i] * qq.qv[i])) AS BIGINT) AS qscore
  FROM eq, qq WHERE eq.vec_id != qq.query_id
), r AS (
  SELECT query_id, vec_id, qscore,
         row_number() OVER (PARTITION BY query_id ORDER BY qscore DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, qscore, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


def _q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup dedup: plant near-copies (e + 0.5 *
    reverse(e), deterministic and computable identically in SQL) for every
    25th vector, then find pairs with cosine >= 4/5 among LSH-bucket
    collisions (Hamming <= 1 on the 8-plane signature). The oracle rebuilds
    the exact same buckets from the plane literals and applies the same
    candidate restriction, so the pair set AND bit-exact scores match."""
    from osm_hadoop_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            "embedding", F.reverse("embedding"), lambda x, y: x + 0.5 * y
        ).alias("embedding"),
    )
    corpus = emb.unionByName(pert)
    return embedding_neardup_pairs(
        corpus, threshold_num=4, threshold_den=5, dim=64, n_planes=8
    ).select(
        F.col("vec_a").cast("bigint").alias("vec_a"),
        F.col("vec_b").cast("bigint").alias("vec_b"),
        "score",
    )


def _oracle_embedding_neardup() -> str:
    from osm_hadoop_spark.operators.similarity import _plane_matrix

    planes = _plane_matrix(64, 8, 42)
    rows = ",\n".join(f"({p}, {_duck_vec(planes[p])})" for p in range(8))
    return f"""
WITH planes(p, w) AS (VALUES {rows}),
base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pert AS (SELECT vec_id + 1000000 AS vec_id,
                list_transform(list_zip(e, list_reverse(e)),
                               s -> s[1] + 0.5 * s[2]) AS e
         FROM base WHERE vec_id % 25 = 0),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
ebuck AS (
  SELECT vec_id, e,
         CAST(sum(CASE WHEN list_dot_product(e, w) >= 0
                  THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM corpus CROSS JOIN planes GROUP BY vec_id, e),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(a.e, b.e) AS score
  FROM ebuck a JOIN ebuck b
    ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1)
SELECT vec_a, vec_b, score FROM cand WHERE score * 5 >= 4
"""


def _duck_vec(vec) -> str:
    return "[" + ",".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"


_SEMDD_K, _SEMDD_EPS = 8, 0.2


def _semdd_corpus(spark, sf_dir):
    """Planted SemDeDup corpus: every 25th vector gets a near-copy
    (e + 0.2 * reverse(e), cos ~ 0.98 vs a <= 0.55 background — no
    threshold-boundary risk even after quantization) at vec_id + 1000000.
    Same derivation as the embedding_neardup fixture, milder eps."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            "embedding", F.reverse("embedding"), lambda x, y: x + _SEMDD_EPS * y
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


def _q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) semantic prune at tau = 9/10:
    sample-fit integer centroids -> literal-ladder cluster assignment ->
    within-cluster cross-multiplied cosine dominance (all int64 after
    floor(x*1024) quantization — see operators/semdedup.py). The oracle
    re-fits the centroids from the driver parquet with shared NumPy code
    and replays assignment + prune in SQL, value-exact end to end."""
    from osm_hadoop_spark.operators.semdedup import (
        semdedup_fit_centroids,
        semdedup_prune,
    )

    corpus = _semdd_corpus(spark, sf_dir)
    cents = semdedup_fit_centroids(corpus, k=_SEMDD_K, iters=4, sample=4096)
    out = semdedup_prune(corpus, cents, tau_num=9, tau_den=10)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "cluster",
        F.col("kept").cast("bigint").alias("kept"),
        "dup_of",
    )


def _synth_urls(spark, sf_dir):
    """Deterministic messy-URL fixture over documents: mixed-case scheme
    and host, optional www./M. subdomain, default :443 port, tracking
    params in varying order, fragments — every messiness the canonical
    form must erase, all derived from doc_id so the oracle rebuilds the
    identical strings."""
    s = F.col("doc_id").cast("string")

    def h(tag):
        from osm_hadoop_spark.operators.textstats import h60
        return h60(F.concat(F.lit(tag), s))

    id7 = (h("u7") % 7).cast("string")
    url = F.concat(
        F.element_at(F.array(F.lit("https"), F.lit("HTTPS")), (h("u0") % 2 + 1).cast("int")),
        F.lit("://"),
        F.element_at(F.array(F.lit("www."), F.lit("M."), F.lit("")), (h("u1") % 3 + 1).cast("int")),
        F.concat(F.lit("Site"), (h("u2") % 40).cast("string")),
        F.element_at(F.array(F.lit(".com"), F.lit(".org"), F.lit(".co.uk")), (h("u3") % 3 + 1).cast("int")),
        F.when(h("u6") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/P/"), s,
        F.element_at(
            F.array(
                F.concat(F.lit("?utm_source=feed&id="), id7),
                F.concat(F.lit("?id="), id7, F.lit("&utm_campaign=x")),
                F.concat(F.lit("?b=2&a=1&id="), id7),
                F.lit(""),
            ),
            (h("u4") % 4 + 1).cast("int"),
        ),
        F.when(h("u5") % 2 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))


def _q_url_canonicalize(spark, sf_dir):
    """Per-URL canonical form + registrable domain
    (operators/weburl.py::canonicalize_url) over the messy synthetic
    URLs — value-oracled per row, so scheme/host lowering, www/port/
    fragment/tracking-param stripping, query sorting, and the multi-part
    TLD (co.uk) rule are each pinned."""
    from osm_hadoop_spark.operators.weburl import canonicalize_url

    docs = _synth_urls(spark, sf_dir)
    c = canonicalize_url(F.col("url"))
    return docs.select(
        "doc_id", c["canon"].alias("canon"), c["domain"].alias("domain")
    )


def _q_url_census(spark, sf_dir):
    """Registrable-domain census (operators/weburl.py::url_census): page
    count + distinct canonical URLs per domain — one scan, one
    partial-agg groupBy."""
    from osm_hadoop_spark.operators.weburl import url_census

    return url_census(_synth_urls(spark, sf_dir)).select(
        "domain",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_canon").cast("bigint").alias("n_canon"),
    )


def _duck_synth_urls() -> str:
    ds = "CAST(doc_id AS VARCHAR)"

    def h(tag):
        return _duck_h60(f"'{tag}' || {ds}")

    return f"""
SELECT doc_id,
  ['https','HTTPS'][CAST({h('u0')} % 2 + 1 AS INT)] || '://'
  || ['www.','M.',''][CAST({h('u1')} % 3 + 1 AS INT)]
  || 'Site' || CAST({h('u2')} % 40 AS VARCHAR)
  || ['.com','.org','.co.uk'][CAST({h('u3')} % 3 + 1 AS INT)]
  || CASE WHEN {h('u6')} % 5 = 0 THEN ':443' ELSE '' END
  || '/P/' || {ds}
  || (['?utm_source=feed&id=' || CAST({h('u7')} % 7 AS VARCHAR),
       '?id=' || CAST({h('u7')} % 7 AS VARCHAR) || '&utm_campaign=x',
       '?b=2&a=1&id=' || CAST({h('u7')} % 7 AS VARCHAR),
       ''])[CAST({h('u4')} % 4 + 1 AS INT)]
  || CASE WHEN {h('u5')} % 2 = 0 THEN '#sec' ELSE '' END AS url
FROM documents
"""


_DUCK_URL_CANON = f"""
WITH urls AS ({{urls}}),
p AS (SELECT doc_id,
        lower(regexp_extract(url, '{{re}}', 1)) AS scheme,
        regexp_replace(regexp_replace(lower(regexp_extract(url, '{{re}}', 2)),
                                      ':(443|80)$', ''), '^www\\.', '') AS host,
        COALESCE(regexp_extract(url, '{{re}}', 3), '') AS path,
        COALESCE(regexp_extract(url, '{{re}}', 4), '') AS query
      FROM urls),
q AS (SELECT doc_id, scheme, host, path,
        COALESCE(array_to_string(list_sort(list_filter(
          string_split(regexp_replace(query, '^\\?', ''), '&'),
          x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'), '') AS qs
      FROM p),
lab AS (SELECT doc_id, scheme, host, path, qs,
          regexp_replace(host, ':[0-9]+$', '') AS hostname,
          string_split(regexp_replace(host, ':[0-9]+$', ''), '.') AS l
        FROM q)
SELECT doc_id,
  scheme || '://' || host || path
    || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon,
  CASE WHEN len(l) <= 2 THEN hostname
       WHEN (l[-2] || '.' || l[-1]) IN ('co.uk','ac.uk','com.au','co.jp','com.br')
            AND len(l) >= 3
       THEN l[-3] || '.' || l[-2] || '.' || l[-1]
       ELSE l[-2] || '.' || l[-1] END AS domain
FROM lab
"""


def _oracle_url_canonicalize() -> str:
    re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$"
    return _DUCK_URL_CANON.format(urls=_duck_synth_urls(), re=re)


def _oracle_url_census() -> str:
    return f"""
WITH canon AS ({_oracle_url_canonicalize()})
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canon
FROM canon GROUP BY domain
"""


def _q_bitext_mine(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019 / the CCMatrix
    retrieval rule) between corpus A (the embeddings table) and a derived
    corpus B holding planted translations (e + 0.2*reverse(e), every 5th),
    exact copies (every 11th), and anti-parallel decoys (-e, every 13th,
    exercising the s > 0 guard). Everything after floor(x*1024) is int64
    (operators/similarity.py::bitext_margin_mine) so the ratio-margin
    test cross-multiplies exactly; the oracle replays the pipeline in SQL."""
    from osm_hadoop_spark.operators.similarity import bitext_margin_mine

    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    bt = (
        base.filter(F.col("vec_id") % 5 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("b_id"),
            F.zip_with(
                "embedding", F.reverse("embedding"), lambda x, y: x + 0.2 * y
            ).alias("embedding"),
        )
        .unionByName(
            base.filter(F.col("vec_id") % 11 == 0).select(
                (F.col("vec_id") + 2000000).alias("b_id"), "embedding"
            )
        )
        .unionByName(
            base.filter(F.col("vec_id") % 13 == 0).select(
                (F.col("vec_id") + 3000000).alias("b_id"),
                F.transform("embedding", lambda x: -x).alias("embedding"),
            )
        )
    )
    return bitext_margin_mine(
        base.withColumnRenamed("vec_id", "a_id"), bt, k=4,
        tau_num=106, tau_den=100,
    )


_ORACLE_BITEXT_MINE = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bt AS (
  SELECT vec_id + 1000000 AS xb,
         list_transform(list_zip(e, list_reverse(e)),
                        s -> s[1] + 0.2 * s[2]) AS e
  FROM base WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id + 2000000, e FROM base WHERE vec_id % 11 = 0
  UNION ALL
  SELECT vec_id + 3000000, list_transform(e, x -> -x)
  FROM base WHERE vec_id % 13 = 0),
qa AS (SELECT vec_id AS xa,
         list_transform(e, x -> CAST(floor(x * 1024) AS BIGINT)) AS q
       FROM base),
qb AS (SELECT xb,
         list_transform(e, x -> CAST(floor(x * 1024) AS BIGINT)) AS q
       FROM bt),
sc AS (SELECT xa, xb,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> a.q[i] * b.q[i])) AS BIGINT) AS s
       FROM qa a CROSS JOIN qb b),
rk AS (SELECT xa, xb, s,
         row_number() OVER (PARTITION BY xa ORDER BY s DESC, xb) AS rf,
         row_number() OVER (PARTITION BY xb ORDER BY s DESC, xa) AS rb
       FROM sc),
fwd AS (SELECT xa, CAST(SUM(s) AS BIGINT) AS fwd FROM rk WHERE rf <= 4 GROUP BY xa),
bwd AS (SELECT xb, CAST(SUM(s) AS BIGINT) AS bwd FROM rk WHERE rb <= 4 GROUP BY xb)
SELECT r.xa AS a_id, r.xb AS b_id, r.s AS dot,
       f.fwd AS fwd_sum, w.bwd AS bwd_sum
FROM rk r JOIN fwd f USING (xa) JOIN bwd w USING (xb)
WHERE rf = 1 AND s > 0 AND fwd > 0 AND bwd > 0
  AND 800 * s > 106 * (fwd + bwd)
"""


def _oracle_semdedup() -> str | None:
    """Derived value oracle: recompute the sample-fit integer centroids
    from the driver parquet (semdedup_centroids_numpy ==
    semdedup_fit_centroids bit-for-bit, planted corpus included), embed
    them as BIGINT[] literals, and replay quantization, nearest-centroid
    assignment, and the within-cluster dominance prune in SQL — integer
    arithmetic end to end. None when the parquet isn't mounted."""
    import os

    from osm_hadoop_spark.operators.semdedup import semdedup_centroids_numpy

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    if not os.path.exists(path):
        return None
    c = semdedup_centroids_numpy(
        path, k=_SEMDD_K, iters=4, sample=4096,
        perturb_every=25, perturb_eps=_SEMDD_EPS,
    )
    dim = c.shape[1]
    cents = ",\n".join(
        f"({j}, [{','.join(str(int(v)) for v in c[j])}]::BIGINT[])"
        for j in range(_SEMDD_K)
    )
    return f"""
WITH cents(j, w) AS (VALUES {cents}),
base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pert AS (SELECT vec_id + 1000000 AS vec_id,
                list_transform(list_zip(e, list_reverse(e)),
                               s -> s[1] + {_SEMDD_EPS} * s[2]) AS e
         FROM base WHERE vec_id % 25 = 0),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
eb AS (SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1024) AS BIGINT)) AS iv
       FROM corpus),
d AS (SELECT vec_id, iv, j,
        CAST(list_sum(list_transform(generate_series(1, {dim}),
          i -> (iv[i] - w[i]) * (iv[i] - w[i]))) AS BIGINT) AS d2
      FROM eb CROSS JOIN cents),
asn AS (SELECT vec_id, iv, j AS cluster FROM (
          SELECT vec_id, iv, j,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
          FROM d) WHERE rn = 1),
n AS (SELECT vec_id, cluster, iv,
        CAST(list_sum(list_transform(generate_series(1, {dim}),
          i -> iv[i] * iv[i])) AS BIGINT) AS n2
      FROM asn),
pairs AS (SELECT a.vec_id AS a_vid, b.vec_id AS b_vid,
            CAST(list_sum(list_transform(generate_series(1, {dim}),
              i -> a.iv[i] * b.iv[i])) AS BIGINT) AS dot,
            a.n2 AS a_n2, b.n2 AS b_n2
          FROM n a JOIN n b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
wit AS (SELECT b_vid AS vec_id, MIN(a_vid) AS dup_of FROM pairs
        WHERE dot > 0 AND dot * dot * 100 >= 81 * a_n2 * b_n2
        GROUP BY b_vid)
SELECT n.vec_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(CASE WHEN w.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       w.dup_of
FROM n LEFT JOIN wit w USING (vec_id)
"""


def _oracle_ann_lsh() -> str:
    """Derived value oracle (round-1 verdict item 7): rebuild the LSH
    buckets in SQL from the deterministic hyperplane literals, then exact
    top-k within the probed buckets — the same function the Spark path
    computes (similarity.py ann_lsh_topk with n_planes=8, probes=1)."""
    from osm_hadoop_spark.operators.similarity import _plane_matrix

    planes = _plane_matrix(64, 8, 42)
    rows = ",\n".join(f"({p}, {_duck_vec(planes[p])})" for p in range(8))
    flips = ",".join(["(0)"] + [f"({1 << j})" for j in range(8)])
    return f"""
WITH planes(p, w) AS (VALUES {rows}),
eb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
ebuck AS (
  SELECT vec_id, e,
         CAST(sum(CASE WHEN list_dot_product(e, w) >= 0
                  THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM eb CROSS JOIN planes GROUP BY vec_id, e),
qb AS (SELECT vec_id AS query_id, e AS qe, bucket
       FROM ebuck WHERE vec_id % 50 = 0),
probes AS (SELECT query_id, qe, xor(bucket, f) AS bucket
           FROM qb CROSS JOIN (VALUES {flips}) flips(f)),
cand AS (
  SELECT p.query_id, b.vec_id, list_cosine_similarity(b.e, p.qe) AS score
  FROM ebuck b JOIN probes p USING (bucket)
  WHERE b.vec_id != p.query_id),
r AS (SELECT query_id, vec_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS rank
      FROM cand)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


def _oracle_ann_ivf() -> str | None:
    """Derived value oracle: recompute the sample-fit IVF centroids from the
    driver's sf0.01 parquet with shared NumPy code (ivf_centroids_numpy ==
    ivf_fit_centroids bit-for-bit), embed them as literals, and verify cell
    assignment + nprobe=4 probing + exact in-cell top-k in SQL. Returns
    None (rows-only fallback) when the parquet isn't where the driver
    mounts it."""
    import os

    from osm_hadoop_spark.operators.similarity import ivf_centroids_numpy

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    if not os.path.exists(path):
        return None
    c = ivf_centroids_numpy(path, n_centroids=16, iters=5, sample=4096)
    cents = ",\n".join(f"({j}, {_duck_vec(c[j])})" for j in range(16))
    return f"""
WITH cents(c, w) AS (VALUES {cents}),
eb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT vec_id, e, c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_dot_product(e, w) DESC, c) AS rn
  FROM eb CROSS JOIN cents),
easn AS (SELECT vec_id, e, c AS cell FROM scored WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, e AS qe, c AS cell
           FROM scored WHERE rn <= 4 AND vec_id % 50 = 0),
cand AS (
  SELECT p.query_id, b.vec_id, list_cosine_similarity(b.e, p.qe) AS score
  FROM easn b JOIN probes p USING (cell)
  WHERE b.vec_id != p.query_id),
r AS (SELECT query_id, vec_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS rank
      FROM cand)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


_TIFF_MULT = 2654435761
_TIFF_W, _TIFF_H, _TIFF_RPS = 128, 96, 16


def _q_tiff_zonal(spark, sf_dir):
    """S5+S8 end-to-end on a REAL GeoTIFF file: write a deterministic
    DEFLATE multi-strip raster, tile it distributedly (tiff_strip_table),
    and aggregate per strip. The oracle recomputes the closed-form pixel
    values ((i * MULT) % 110) in SQL — proving the whole read path (IFD
    parse, per-strip seek + zlib decode, origin arithmetic) bit-exactly."""
    import tempfile

    import numpy as np

    from osm_hadoop_spark.functions.tiff import GeoTiffMeta, write_geotiff
    from osm_hadoop_spark.sources.raster_source import tiff_strip_table

    w, h = _TIFF_W, _TIFF_H
    vals = ((np.arange(h * w, dtype=np.int64) * _TIFF_MULT) % 110).astype(
        np.int32
    ).reshape(h, w)
    meta = GeoTiffMeta(width=w, height=h, origin_x=9.0, origin_y=46.0,
                       pixel_size_x=0.01, pixel_size_y=0.01)
    path = os.path.join(tempfile.gettempdir(), "spark_graft_tiff_zonal.tif")
    write_geotiff(path, vals, meta, compression="deflate", rows_per_strip=_TIFF_RPS)
    strips = tiff_strip_table(spark, path)
    px = strips.select(
        "block_id", "origin_y", F.explode("pixels").alias("val")
    )
    return px.groupBy("block_id", "origin_y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pixels"),
        F.sum("val").cast("bigint").alias("pix_sum"),
        F.min("val").cast("bigint").alias("pix_min"),
        F.max("val").cast("bigint").alias("pix_max"),
    ).select("block_id", "origin_y", "n_pixels", "pix_sum", "pix_min", "pix_max")


_ORACLE_TIFF_ZONAL = f"""
WITH px AS (SELECT unnest(generate_series(0, {_TIFF_W * _TIFF_H - 1})) AS i),
v AS (SELECT i, (i * {_TIFF_MULT}) % 110 AS val,
             CAST(floor(i / {_TIFF_W}) AS BIGINT) AS row FROM px),
b AS (SELECT CAST(floor(row / {_TIFF_RPS}) AS BIGINT) AS block_id, val FROM v)
SELECT block_id,
       CAST(46.0 AS DOUBLE)
         - (block_id * {_TIFF_RPS}) * CAST(0.01 AS DOUBLE) AS origin_y,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(val) AS BIGINT) AS pix_sum,
       CAST(min(val) AS BIGINT) AS pix_min,
       CAST(max(val) AS BIGINT) AS pix_max
FROM b GROUP BY block_id
"""


def _q_span_roundtrip(spark, sf_dir):
    """Span-sequence invariant as a CORRECTNESS row (BASELINE.json
    input_hint: 'per-row invariant: span-sequence equality'): synthesize
    3-span interleaved documents from orders (text + osm.node payload +
    media ref, with NULL text/media_ref cells exercising the null
    normalization), gate at the document level (spans untouched), and emit
    the order-sensitive 60-bit fingerprint every pipeline stage must
    preserve (sources/spans.py::span_fingerprint60; invariance through
    parse/assembly is pinned by test_way_assembly.py). The oracle rebuilds
    the exact concat/md5 arithmetic."""
    from osm_hadoop_spark.sources.spans import span_fingerprint60

    o = _t(spark, sf_dir, "orders")
    null_s = F.lit(None).cast("string")
    docs = (
        o.select(
            F.concat(F.lit("o"), F.col("o_orderkey")).alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("o_orderpriority").alias("text"),
                    null_s.alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                ),
                F.struct(
                    F.lit("osm.node").alias("kind"),
                    F.format_string(
                        '{"id":%d,"lon":%d,"lat":%d}',
                        F.col("o_orderkey"),
                        F.col("o_orderkey") % 340 - 170,
                        (F.col("o_orderkey") * 7) % 160 - 80,
                    ).alias("text"),
                    null_s.alias("media_ref"),
                    F.lit(1).cast("int").alias("offset"),
                ),
                F.struct(
                    F.lit("media").alias("kind"),
                    null_s.alias("text"),
                    F.concat(F.lit("media://"), F.col("o_orderkey") % 997).alias(
                        "media_ref"
                    ),
                    F.lit(2).cast("int").alias("offset"),
                ),
            ).alias("spans"),
            "o_totalprice",
        )
        .filter(F.col("o_totalprice") > 50000)
        .select("doc_id", "spans")
    )
    return span_fingerprint60(docs)


_ORACLE_SPAN_ROUNDTRIP = f"""
WITH d AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS doc_id,
         [ 'text' || chr(2) || o_orderpriority || chr(2) || '' || chr(2) || '0',
           'osm.node' || chr(2)
             || '{{"id":' || CAST(o_orderkey AS VARCHAR)
             || ',"lon":' || CAST(o_orderkey % 340 - 170 AS VARCHAR)
             || ',"lat":' || CAST((o_orderkey*7) % 160 - 80 AS VARCHAR) || '}}'
             || chr(2) || '' || chr(2) || '1',
           'media' || chr(2) || '' || chr(2)
             || 'media://' || CAST(o_orderkey % 997 AS VARCHAR)
             || chr(2) || '2' ] AS span_strs
  FROM orders WHERE o_totalprice > 50000)
SELECT doc_id,
       {_duck_h60("array_to_string(span_strs, chr(1))")} AS span_fp
FROM d
"""


_STRAT_RATES = {"en": 2000, "fr": 5000, "de": 8000}  # per-10000; others 1000


def _q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (training-pipeline op): keep each
    doc iff its salted content-hash bucket clears the per-language rate.
    Pure JVM filter — map-only, stable under any partitioning/retry
    (unlike DataFrame.sample's per-partition RNG)."""
    from osm_hadoop_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    return stratified_sample(
        docs, key="doc_key", stratum="lang", rates=_STRAT_RATES, default_num=1000
    ).select("doc_id", "lang")


_ORACLE_STRATIFIED = f"""
SELECT doc_id, lang FROM documents
WHERE {_duck_h60("'s0' || CAST(doc_id AS VARCHAR)")} % 10000 <
      CASE lang WHEN 'en' THEN 2000 WHEN 'fr' THEN 5000
                WHEN 'de' THEN 8000 ELSE 1000 END
"""


def _q_sample_topk(spark, sf_dir):
    """Deterministic per-key reservoir: k docs per source, ranked by
    salted hash — one shuffle on the key; Spark >= 3.5 prunes the window
    sort with WindowGroupLimit so only k rows per key survive the
    partial sort."""
    from osm_hadoop_spark.operators.sampling import topk_per_key

    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    return topk_per_key(docs, key="source", id_col="doc_key", k=7).select(
        "source", "doc_id"
    )


_ORACLE_SAMPLE_TOPK = f"""
WITH h AS (SELECT source, doc_id,
             {_duck_h60("'s0' || CAST(doc_id AS VARCHAR)")} AS hv
           FROM documents),
r AS (SELECT source, doc_id,
        row_number() OVER (PARTITION BY source
                           ORDER BY hv % 10000, hv, CAST(doc_id AS VARCHAR)) AS rn
      FROM h)
SELECT source, doc_id FROM r WHERE rn <= 7
"""


def _q_media_metadata(spark, sf_dir):
    from osm_hadoop_spark.operators.multimodal import (
        decode_metadata,
        synth_media_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    media = synth_media_bytes(docs).select("doc_id", "media")
    out = decode_metadata(media)
    return out.select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
    )


_ORACLE_MEDIA_METADATA = f"""
SELECT doc_id,
  CAST({_duck_h60("coalesce(text,'')")} % 240 + 16 AS BIGINT) AS width,
  CAST({_duck_h60("reverse(coalesce(text,''))")} % 180 + 12 AS BIGINT) AS height,
  CAST(octet_length(encode(coalesce(text,''))) % 8 + 1 AS BIGINT) AS n_frames,
  CAST(octet_length(encode(coalesce(text,''))) AS BIGINT) AS n_bytes
FROM documents
"""


def _q_media_frames(spark, sf_dir):
    """Uniform-stride frame sampling over the synthetic media column —
    the oracle recomputes the md5 of each sampled frame's BYTES from the
    body derivation, so the Arrow byte plumbing (header parse, stride
    math, chunk cut) is verified end to end, not just the metadata."""
    from osm_hadoop_spark.operators.multimodal import sample_frames, synth_media_bytes

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    media = synth_media_bytes(docs).select("doc_id", "media")
    return sample_frames(media, k=4)


_ORACLE_MEDIA_FRAMES = """
WITH m AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS bodyhex,
         octet_length(encode(coalesce(text, ''))) AS blen,
         octet_length(encode(coalesce(text, ''))) % 8 + 1 AS fr
  FROM documents
), f AS (
  SELECT doc_id, bodyhex, fr,
         greatest(blen // fr, 1) AS step, j
  FROM m CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)
  WHERE blen > 0 AND j < least(4, fr)
), c AS (
  SELECT doc_id, CAST(j AS BIGINT) AS slot,
         CAST(CASE WHEN fr >= 4 THEN (j * fr) // 4 ELSE j END AS BIGINT) AS frame_idx,
         CAST(step AS BIGINT) AS frame_len,
         substr(bodyhex,
                CAST((CASE WHEN fr >= 4 THEN (j * fr) // 4 ELSE j END) * step * 2 + 1 AS BIGINT),
                CAST(step * 2 AS BIGINT)) AS frame_hex
  FROM f
)
SELECT doc_id, slot, frame_idx, frame_len, frame_hex FROM c
"""


def _q_token_count(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_ws_tokens").cast("bigint").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.col("n_chars_measured").cast("bigint").alias("n_chars_measured"),
    )


_ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
  CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
"""

_GAZ_PHRASES = (
    (1, "table scan"),
    (2, "hash join"),
    (3, "sort merge"),
    (4, "row column sort"),
    (5, "slow hash batch"),
    (6, "window fast query"),
    (7, "spark"),                   # single-token member
    (8, "quantum flux capacitor"),  # zero hits — audit contract
)


def _q_phrase_census(spark, sf_dir):
    """Gazetteer phrase census (operators/gazetteer.py): every literal
    dictionary phrase counted over the corpus via the position-aligned
    broadcast join — the Aho-Corasick workload without an automaton."""
    from osm_hadoop_spark.operators.gazetteer import phrase_census

    phrases = spark.createDataFrame(
        list(_GAZ_PHRASES), "phrase_id: long, phrase: string"
    )
    return phrase_census(_t(spark, sf_dir, "documents"), phrases)


def _oracle_phrase_census() -> str:
    vals = ", ".join(f"({i}, '{p}')" for i, p in _GAZ_PHRASES)
    return f"""
WITH ph(phrase_id, phrase) AS (VALUES {vals}),
pa AS (SELECT phrase_id, string_split(phrase, ' ') AS ptoks FROM ph),
pt AS (SELECT phrase_id, ptoks[i] AS tok, i, len(ptoks) AS plen
       FROM pa, UNNEST(generate_series(1, len(ptoks))) AS t(i)),
dt AS (SELECT doc_id, toks[i] AS tok, i AS pos
       FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) d,
            UNNEST(generate_series(1, len(toks))) AS t(i)),
g AS (SELECT dt.doc_id, pt.phrase_id, dt.pos - pt.i AS s,
             max(pt.plen) AS plen, count(*) AS c
      FROM dt JOIN pt ON pt.tok = dt.tok
      GROUP BY 1, 2, 3),
m AS (SELECT doc_id, phrase_id, s FROM g WHERE c = plen),
agg AS (SELECT phrase_id, CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM m GROUP BY 1)
SELECT ph.phrase,
       CAST(coalesce(agg.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(agg.n_docs, 0) AS BIGINT) AS n_docs
FROM ph LEFT JOIN agg ON agg.phrase_id = ph.phrase_id
"""


def _q_bm25_topk(spark, sf_dir):
    """Top-3 terms per document by the ln-free BM25 score
    (operators/tfidf.py — rational constants keep the double math
    bit-exact across engines; identical expression shape in the twin)."""
    from osm_hadoop_spark.operators.tfidf import bm25_topk_terms

    return bm25_topk_terms(_t(spark, sf_dir, "documents"), k=3)


_ORACLE_BM25_TOPK = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) AS total_tokens FROM dl
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    (CAST(tf.tf AS DOUBLE) * 2.2
      / (CAST(tf.tf AS DOUBLE) + 0.3
         + 0.9 * CAST(dl.dl AS DOUBLE) * s.n_docs / s.total_tokens))
    * ((s.n_docs + 1.0) / (CAST(df.df AS DOUBLE) + 0.5)) AS score
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN s
)
SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored)
WHERE rank <= 3
"""

_ALL_STOPWORDS_SQL = None  # built below


def _q_quality(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_chars_measured").cast("bigint").alias("n_chars_measured"),
        F.col("n_ws_tokens").cast("bigint").alias("n_ws_tokens"),
        F.col("n_punct").cast("bigint").alias("n_punct"),
        F.col("n_stop").cast("bigint").alias("n_stop"),
        F.col("keep").alias("keep"),
    )


def _q_lang_id(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import lang_id

    out = lang_id(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[F.col(f"hits_{k}").cast("bigint").alias(f"hits_{k}")
          for k in ("en", "fr", "de", "es")],
        "pred_lang",
    )


def _q_fingerprint(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"), mod=8).select(
        "doc_id", "text_h60",
        F.col("n_selected").cast("bigint").alias("n_selected"),
        "min_selected",
    )


def _build_text_oracles() -> dict[str, str]:
    from osm_hadoop_spark.operators.textstats import STOPWORDS

    def arr(words):
        return "[" + ", ".join(f"'{w}'" for w in words) + "]"

    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    quality = f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_measured,
  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
  CAST(len(list_filter(list_transform(toks, x -> lower(x)),
        x -> list_contains({arr(all_stop)}, x))) AS BIGINT) AS n_stop
  FROM t)
SELECT *, (n_ws_tokens >= 5 AND 100*n_punct <= 30*n_ws_tokens
           AND 100*n_stop >= 2*n_ws_tokens) AS keep FROM s
"""
    hit_cols = ", ".join(
        f"CAST(len(list_filter(lt, x -> list_contains({arr(STOPWORDS[k])}, x))) AS BIGINT) AS hits_{k}"
        for k in ("en", "fr", "de", "es")
    )
    # tie-break: max hits, then language code ascending (de < en < es < fr)
    langid = f"""
WITH t AS (SELECT doc_id, list_transform({_DUCK_TOKS}, x -> lower(x)) AS lt FROM documents),
h AS (SELECT doc_id, {hit_cols} FROM t)
SELECT doc_id, hits_en, hits_fr, hits_de, hits_es,
  CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
       WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
       WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
       WHEN hits_es >= hits_fr THEN 'es'
       ELSE 'fr' END AS pred_lang
FROM h
"""
    gram_h = _duck_h60(_GRAM3)
    fingerprint = f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, text,
  list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
    i -> {gram_h}) AS grams
  FROM t),
s AS (SELECT doc_id, text, list_filter(grams, h -> h % 8 = 0) AS sel FROM g)
SELECT doc_id, {_duck_h60('text')} AS text_h60,
  CAST(len(sel) AS BIGINT) AS n_selected, list_min(sel) AS min_selected
FROM s
"""
    return {"quality_scores": quality, "lang_id": langid, "doc_fingerprint": fingerprint}


def _q_corpus_prep(spark, sf_dir):
    """Whole-chain composition oracle for the TRAINING-DATA side (the
    LLM-pipeline twin of planet_e2e): quality gate -> language ID ->
    exact dedup (keep min doc_id per text) -> deterministic stratified
    sample on the PREDICTED language — with one DuckDB twin of the entire
    chain. Runs the FUSED plan (operators/corpus.py: one scan, filters,
    one window shuffle, map-only sample); equivalence with the
    operator-by-operator join chain is pinned by
    test_corpus_prep_fused_equals_composed."""
    from osm_hadoop_spark.operators.corpus import corpus_prep

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus_prep(
        docs, rates={"en": 6000, "de": 9000}, default_num=3000, salt="prep"
    )


def _oracle_corpus_prep() -> str:
    from osm_hadoop_spark.operators.textstats import STOPWORDS

    def arr(words):
        return "[" + ", ".join(f"'{w}'" for w in words) + "]"

    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    hit_cols = ", ".join(
        f"CAST(len(list_filter(lt, x -> list_contains({arr(STOPWORDS[k])}, x))) AS BIGINT) AS hits_{k}"
        for k in ("en", "fr", "de", "es")
    )
    return f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
q AS (SELECT doc_id FROM (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS p,
           CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                 x -> list_contains({arr(all_stop)}, x))) AS BIGINT) AS s
    FROM t)
  WHERE n >= 5 AND 100*p <= 30*n AND 100*s >= 2*n),
lh AS (SELECT doc_id, {hit_cols}
       FROM (SELECT doc_id, list_transform(toks, x -> lower(x)) AS lt FROM t)),
l AS (SELECT doc_id,
  CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
       WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
       WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
       WHEN hits_es >= hits_fr THEN 'es'
       ELSE 'fr' END AS pred_lang
  FROM lh),
kept AS (SELECT t.doc_id, t.text, l.pred_lang
         FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)),
reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
dd AS (SELECT k.doc_id, k.pred_lang FROM kept k JOIN reps USING (doc_id))
SELECT doc_id, pred_lang FROM dd
WHERE {_duck_h60("'prep' || CAST(doc_id AS VARCHAR)")} % 10000 <
      CASE pred_lang WHEN 'en' THEN 6000 WHEN 'de' THEN 9000 ELSE 3000 END
"""


def _q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality gate (engine addition, Rae et al.
    2021): duplicated non-empty lines + top word-bigram share, all exact
    integers; keep flag by integer cross-multiplication."""
    from osm_hadoop_spark.operators.curation import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


_ORACLE_REPETITION = f"""
WITH lines AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
  FROM documents
),
toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bigram
  FROM toks
),
bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
bga AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM bgc GROUP BY 1)
SELECT l.doc_id,
  CAST(len(ls) AS BIGINT) AS n_lines,
  CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,
  CAST(COALESCE(n_bg, 0) AS BIGINT) AS n_bigrams,
  CAST(COALESCE(top_c, 0) AS BIGINT) AS top_bigram_count,
  ((len(ls) - len(list_distinct(ls))) * 10 <= len(ls) * 3
   AND COALESCE(top_c, 0) * 5 <= COALESCE(n_bg, 0)) AS keep
FROM lines l LEFT JOIN bga USING (doc_id)
"""


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (engine addition): training docs sharing
    any word 3-gram with the doc_id % 53 == 0 benchmark slice; benchmark
    ngram hashes broadcast, corpus side streams."""
    from osm_hadoop_spark.operators.curation import decontaminate

    return decontaminate(_t(spark, sf_dir, "documents"), n=3, bench_mod=53)


_ORACLE_DECONTAMINATE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ts) - 1),
           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS gram
  FROM toks
),
bench AS (SELECT DISTINCT {_duck_h60('gram')} AS gh FROM g WHERE doc_id % 53 = 0),
tr AS (SELECT doc_id, {_duck_h60('gram')} AS gh FROM g WHERE doc_id % 53 <> 0),
ov AS (SELECT doc_id, count(*) AS n FROM tr JOIN bench USING (gh) GROUP BY 1)
SELECT d.doc_id,
  CAST(COALESCE(n, 0) AS BIGINT) AS n_overlap,
  COALESCE(n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN ov USING (doc_id)
WHERE d.doc_id % 53 <> 0
"""


def _q_pii_redact(spark, sf_dir):
    """PII detect + redact (engine addition): email/phone counts and the
    md5 of the redacted text. The corpus is digit-free, so deterministic
    PII is planted from doc_id first (same expression in the oracle) —
    the hash therefore verifies actual Java-vs-RE2 regex agreement, not
    just wiring."""
    from osm_hadoop_spark.operators.curation import pii_redact, with_synthetic_pii

    return pii_redact(with_synthetic_pii(_t(spark, sf_dir, "documents"), every=3))


def _oracle_pii_redact() -> str:
    from osm_hadoop_spark.operators.curation import EMAIL_RE, PHONE_RE

    return f"""
WITH p AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
      THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
           || '@example.com or +1 555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE text END AS t
  FROM documents
),
r AS (
  SELECT doc_id, t,
    regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g') AS red
  FROM p
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  md5(red) AS redacted_md5,
  CAST(length(red) AS BIGINT) AS n_chars_redacted
FROM r
"""


def _q_dsir_select(spark, sf_dir):
    """DSIR-style hashed-bigram importance resampling (engine addition,
    operators/dsir.py): the doc_id % 7 == 0 slice plays the in-domain
    target corpus; every other document is scored by the fixed-point
    per-bucket likelihood ratio and the top 200 are kept. Census is one
    aggregate; score join broadcasts the <=4096-row bucket table."""
    from osm_hadoop_spark.operators.dsir import dsir_select

    return dsir_select(
        _t(spark, sf_dir, "documents"), target_mod=7, n_buckets=4096, k=200
    )


_ORACLE_DSIR_SELECT = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
g AS (
  SELECT doc_id,
         {_duck_h60("ts[i] || ' ' || ts[i+1]")} % 4096 AS bucket
  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS t(i)
),
census AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS r,
         CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS t
  FROM g GROUP BY 1
),
sc AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum((1048576 * (c.t + 1)) // (c.r + 1)) AS BIGINT) AS score
  FROM g JOIN census c USING (bucket)
  WHERE g.doc_id % 7 <> 0
  GROUP BY 1
)
SELECT doc_id, n_grams, score FROM sc ORDER BY score DESC, doc_id LIMIT 200
"""


def _q_way_shoelace(spark, sf_dir):
    """Planar polygon measure (E-level addition next to way_length_mm):
    signed shoelace double-area + centroid numerators of each assembled
    way's implicit ring closure, exact bigints over the integer node grid
    (functions/geodesic.py::shoelace_cols)."""
    from osm_hadoop_spark.functions.geodesic import shoelace_cols

    wg = _ways_geom(spark, sf_dir).filter(F.size("xs") >= 3)
    c = shoelace_cols()
    return wg.select(
        "way_id",
        F.col("n_pts").cast("bigint").alias("n_pts"),
        c["area2"].alias("area2"),
        c["cx_num"].alias("cx_num"),
        c["cy_num"].alias("cy_num"),
    )


def _oracle_way_shoelace() -> str:
    from osm_hadoop_spark.functions.geodesic import duck_shoelace

    return f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
j AS (SELECT wn.way_id, wn.ordinal, n.lon, n.lat FROM wn JOIN nodes n USING (node_id)),
w AS (SELECT o_orderkey AS way_id FROM orders),
arr AS (
  SELECT j.way_id,
         list(lon ORDER BY ordinal, lon, lat) AS xs,
         list(lat ORDER BY ordinal, lon, lat) AS ys,
         count(*) AS n
  FROM j JOIN w ON j.way_id = w.way_id
  GROUP BY j.way_id HAVING count(*) >= 3
)
SELECT way_id, CAST(n AS BIGINT) AS n_pts,
  {duck_shoelace('{cross}')} AS area2,
  {duck_shoelace('({xi} + {xj}) * {cross}')} AS cx_num,
  {duck_shoelace('({yi} + {yj}) * {cross}')} AS cy_num
FROM arr
"""


def _q_tile_coverage(spark, sf_dir):
    """Exact polygon∩cell coverage (clamped-Green closed form,
    functions/coverage.py): synthetic h60 triangles over a 256-cell grid,
    fixed-point 2*area*128 per bbox cell, signed by orientation.  The
    formula is written once in functions/exprdsl.py and rendered to both
    engines — the oracle below runs the SAME ladder through DuckDB."""
    from osm_hadoop_spark.functions.coverage import tile_coverage
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("o_orderkey").cast("string")

    def cc(tag, mod, off):
        return h60(F.concat(F.lit(tag), s)) % mod - off

    def vv(tag, k):
        return h60(F.concat(F.lit(tag), F.lit(str(k)), s)) % 513 - 256

    tri = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("way_id"),
            F.array(
                *[(cc("ccx", 1601, 800) + vv("cvx", k)).cast("long")
                  for k in range(3)]
            ).alias("xs"),
            F.array(
                *[(cc("ccy", 1601, 800) + vv("cvy", k)).cast("long")
                  for k in range(3)]
            ).alias("ys"),
        )
    )
    return tile_coverage(tri, cell=256, scale=128)


def _q_areal_interp(spark, sf_dir):
    """Dasymetric disaggregation (functions/coverage.py::areal_interpolate):
    each synthetic zone's integer total split across grid cells by EXACT
    overlap share (clamped-Green coverage), floored, orientation
    canonicalized — the polygon->raster dual of the A5 zonal histogram.
    One shuffle end-to-end (repartition reused by the aggregate and both
    windows; plan-asserted in tests/test_coverage.py)."""
    from osm_hadoop_spark.functions.coverage import areal_interpolate
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("o_orderkey").cast("string")

    def cc(tag, mod, off):
        return h60(F.concat(F.lit(tag), s)) % mod - off

    def vv(tag, k):
        return h60(F.concat(F.lit(tag), F.lit(str(k)), s)) % 513 - 256

    tri = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("way_id"),
            (cc("pop", 100000, -1)).cast("long").alias("total_v"),
            F.array(
                *[(cc("ccx", 1601, 800) + vv("cvx", k)).cast("long")
                  for k in range(3)]
            ).alias("xs"),
            F.array(
                *[(cc("ccy", 1601, 800) + vv("cvy", k)).cast("long")
                  for k in range(3)]
            ).alias("ys"),
        )
    )
    return areal_interpolate(tri, "total_v", cell=256, scale=128)


_COVERAGE_CAND_CTES = """
WITH w AS (SELECT o_orderkey AS way_id FROM orders WHERE o_orderkey % 3 = 0),
pts AS (
  SELECT way_id, k,
    {ccx} % 1601 - 800 + {cvx} % 513 - 256 AS x,
    {ccy} % 1601 - 800 + {cvy} % 513 - 256 AS y
  FROM w, (SELECT unnest([0, 1, 2]) AS k) t),
bb AS (
  SELECT way_id,
    CAST(floor(min(x) / 256.0) AS BIGINT) AS tx0,
    CAST(floor(max(x) / 256.0) AS BIGINT) AS tx1,
    CAST(floor(min(y) / 256.0) AS BIGINT) AS ty0,
    CAST(floor(max(y) / 256.0) AS BIGINT) AS ty1
  FROM pts GROUP BY 1),
edges AS (
  SELECT a.way_id, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS byy
  FROM pts a JOIN pts b ON a.way_id = b.way_id AND b.k = (a.k + 1) % 3),
cx AS (
  SELECT e.*, bb.ty0, bb.ty1,
         unnest(generate_series(bb.tx0, bb.tx1)) AS tx
  FROM edges e JOIN bb USING (way_id)),
cand AS (
  SELECT way_id, ax, ay, bx, byy, tx,
         unnest(generate_series(ty0, ty1)) AS ty
  FROM cx)
"""


def _coverage_cand_ctes() -> str:
    return _COVERAGE_CAND_CTES.format(
        ccx=_duck_h60("'ccx' || CAST(way_id AS VARCHAR)"),
        cvx=_duck_h60("'cvx' || CAST(k AS VARCHAR) || CAST(way_id AS VARCHAR)"),
        ccy=_duck_h60("'ccy' || CAST(way_id AS VARCHAR)"),
        cvy=_duck_h60("'cvy' || CAST(k AS VARCHAR) || CAST(way_id AS VARCHAR)"),
    )


def _oracle_areal_interp() -> str:
    from osm_hadoop_spark.functions.coverage import coverage_sql

    ladder = coverage_sql("SELECT * FROM cand", cell=256, scale=128)
    pop = _duck_h60("'pop' || CAST(way_id AS VARCHAR)")
    return f"""
{_coverage_cand_ctes()},
cov AS (
  SELECT way_id, tx, ty, CAST(SUM(cov_fp) AS BIGINT) AS cov2s
  FROM {ladder} GROUP BY 1, 2, 3),
sgn AS (
  SELECT *, SUM(cov2s) OVER (PARTITION BY way_id) AS tot2 FROM cov),
canon AS (
  SELECT way_id, tx, ty,
         greatest(CASE WHEN tot2 < 0 THEN -cov2s ELSE cov2s END,
                  CAST(0 AS BIGINT)) AS c
  FROM sgn),
dn AS (
  SELECT *, SUM(c) OVER (PARTITION BY way_id) AS den,
         {pop} % 100000 + 1 AS total_v
  FROM canon)
SELECT way_id, tx, ty,
  CAST((total_v * c - (((total_v * c) % den) + den) % den) / den AS BIGINT)
    AS alloc
FROM dn WHERE den > 0
"""


_KM_K, _KM_ROUNDS, _KM_DIMS = 8, 3, 3
# five true generating centers and eight init centroids, precomputed once
# and inlined as LITERALS in both engines (no formula to transcribe twice)
_KM_TRUE = [tuple((g * 7919 + d * 104729) % 2001 - 1000 for d in range(_KM_DIMS))
            for g in range(5)]
_KM_INIT = [tuple((j * m) % 2001 - 1000 for m in (2411, 1597, 911))
            for j in range(_KM_K)]


def _q_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means, 3 exact-integer rounds
    (operators/clustering.py::kmeans_lloyd): points are drawn around 5
    hidden centers (so assignments genuinely migrate between rounds),
    k=8 candidates so some clusters go empty and the survivors-drop
    policy is exercised.  Per round: literal-ladder assignment (no
    shuffle) + one k-row aggregate collect — the full version of the
    bounded-sample IVF centroid fit.  Oracle = the same rounds UNROLLED
    as CTEs (k-core/pagerank precedent)."""
    from osm_hadoop_spark.operators.clustering import kmeans_lloyd
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    g = h60(F.concat(F.lit("kc"), s)) % 5
    cols = [F.col("event_id").alias("pid")]
    for d in range(_KM_DIMS):
        base = F.element_at(
            F.array(*[F.lit(tc[d]) for tc in _KM_TRUE]), (g + 1).cast("int")
        )
        jit = h60(F.concat(F.lit(f"kj{d}"), s)) % 401 - 200
        cols.append((base + jit).cast("long").alias(f"x{d}"))
    pts = _t(spark, sf_dir, "events").select(*cols)
    return kmeans_lloyd(pts, [f"x{d}" for d in range(_KM_DIMS)],
                        _KM_INIT, _KM_ROUNDS)


def _oracle_kmeans() -> str:
    k, nd = _KM_K, _KM_DIMS
    coord_exprs = []
    for d in range(nd):
        tc = "[" + ", ".join(str(t[d]) for t in _KM_TRUE) + "]"
        jit = _duck_h60(f"'kj{d}' || CAST(event_id AS VARCHAR)")
        coord_exprs.append(f"({tc})[CAST(g + 1 AS INT)] + {jit} % 401 - 200 AS x{d}")
    g = _duck_h60("'kc' || CAST(event_id AS VARCHAR)")
    ctes = [
        "p AS (SELECT event_id AS pid, " + ", ".join(coord_exprs)
        + f" FROM (SELECT event_id, {g} % 5 AS g FROM events))",
        "c0 AS (SELECT * FROM (VALUES "
        + ", ".join(
            "(" + ", ".join([str(j)] + [str(c) for c in cs]) + ")"
            for j, cs in enumerate(_KM_INIT)
        )
        + ") t(j, " + ", ".join(f"c{d}" for d in range(nd)) + "))",
    ]
    xs = ", ".join(f"x{d}" for d in range(nd))
    d2 = " + ".join(f"(x{d} - c{d}) * (x{d} - c{d})" for d in range(nd))
    for r in range(1, _KM_ROUNDS + 1):
        ctes.append(
            f"a{r} AS (SELECT pid, {xs}, MIN(({d2}) * {k} + j) AS pk"
            f" FROM p, c{r - 1} GROUP BY pid, {xs})"
        )
        if r < _KM_ROUNDS:
            means = ", ".join(
                f"CAST((SUM(x{d}) - (((SUM(x{d}) % COUNT(*)) + COUNT(*))"
                f" % COUNT(*))) / COUNT(*) AS BIGINT) AS c{d}"
                for d in range(nd)
            )
            ctes.append(
                f"c{r} AS (SELECT pk % {k} AS j, {means}"
                f" FROM a{r} GROUP BY 1)"
            )
    last_assign = f"a{_KM_ROUNDS}"
    # the engine returns the assignment AFTER the last centroid update:
    # rounds updates then a final assign — so unroll one more centroid +
    # assignment stage
    means = ", ".join(
        f"CAST((SUM(x{d}) - (((SUM(x{d}) % COUNT(*)) + COUNT(*))"
        f" % COUNT(*))) / COUNT(*) AS BIGINT) AS c{d}"
        for d in range(nd)
    )
    ctes.append(
        f"cF AS (SELECT pk % {k} AS j, {means} FROM {last_assign} GROUP BY 1)"
    )
    ctes.append(
        f"aF AS (SELECT pid, {xs}, MIN(({d2}) * {k} + j) AS pk"
        f" FROM p, cF GROUP BY pid, {xs})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT pid, {xs},"
        f" CAST(pk % {k} AS BIGINT) AS cluster,"
        f" CAST((pk - pk % {k}) / {k} AS BIGINT) AS d2 FROM aF"
    )


_HIL_ORDER = 8


def _q_hilbert_layout(spark, sf_dir):
    """Space-filling-curve layout keys (functions/hilbert.py): Hilbert
    index via ONE `F.aggregate` bit-plane walk + closed-form Morton key
    for comparison — the data-layout primitive `layout_by_hilbert`
    range-partitions 100 TB writes on.  Both keys per point so the
    oracle pins the full curve, not a sample.  Oracle = the same walk
    unrolled as one CTE per bit-plane (pagerank/k-means precedent);
    tests/test_hilbert.py proves the walk against the independent
    textbook xy2d and the Manhattan-1 adjacency property by full
    enumeration."""
    from osm_hadoop_spark.functions.hilbert import hilbert_key, zorder_key
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    n = 1 << _HIL_ORDER
    pts = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("pid"),
        (h60(F.concat(F.lit("hx"), s)) % n).alias("hx"),
        (h60(F.concat(F.lit("hy"), s)) % n).alias("hy"),
    )
    return pts.select(
        "pid",
        "hx",
        "hy",
        hilbert_key(F.col("hx"), F.col("hy"), _HIL_ORDER).alias("hkey"),
        zorder_key(F.col("hx"), F.col("hy"), _HIL_ORDER).alias("zkey"),
    )


def _oracle_hilbert_layout() -> str:
    from osm_hadoop_spark.functions.hilbert import hilbert_unrolled_sql

    n = 1 << _HIL_ORDER
    hx = _duck_h60("'hx' || CAST(event_id AS VARCHAR)")
    hy = _duck_h60("'hy' || CAST(event_id AS VARCHAR)")
    chain, last = hilbert_unrolled_sql(_HIL_ORDER, "x", "y")
    zkey = " + ".join(
        f"(CASE WHEN (hx & {1 << i}) > 0 THEN 1 ELSE 0 END) * {1 << (2 * i)}"
        f" + (CASE WHEN (hy & {1 << i}) > 0 THEN 1 ELSE 0 END) * {1 << (2 * i + 1)}"
        for i in range(_HIL_ORDER)
    )
    return (
        "WITH h0 AS (SELECT pid, hx, hy, hx AS x, hy AS y, 0 AS d FROM"
        f" (SELECT event_id AS pid, {hx} % {n} AS hx, {hy} % {n} AS hy"
        " FROM events)),\n"
        + chain
        + f"\nSELECT pid, hx, hy, CAST(d AS BIGINT) AS hkey,"
        f" CAST({zkey} AS BIGINT) AS zkey FROM {last}"
    )


_ZBB = (37, 201, 90, 166)  # x0, x1, y0, y1 on the order-8 grid


def _q_zorder_bbox(spark, sf_dir):
    """Z-order data-skipping scan (functions/hilbert.py zorder_ranges):
    the bbox is decomposed driver-side into exact z-key intervals
    (Tropf-Herzog quadtree descent) and the ONLY predicate the engine
    applies is the OR-of-BETWEEN on the key — no x/y filter at all — so
    the oracle's plain bbox WHERE proves the decomposition covers the
    box exactly (no missing cell, no stray cell). This is the read-side
    half of layout_by_hilbert: on a key-clustered table the same
    predicate prunes row groups instead of rows."""
    from osm_hadoop_spark.functions.hilbert import (
        zorder_key,
        zorder_range_join,
        zorder_ranges,
    )
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    n = 1 << _HIL_ORDER
    pts = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("pid"),
        (h60(F.concat(F.lit("hx"), s)) % n).alias("hx"),
        (h60(F.concat(F.lit("hy"), s)) % n).alias("hy"),
    ).withColumn("zkey", zorder_key(F.col("hx"), F.col("hy"), _HIL_ORDER))
    x0, x1, y0, y1 = _ZBB
    ranges = zorder_ranges(x0, x1, y0, y1, _HIL_ORDER)
    # broadcast range join: the zkey is computed in-plan, so the
    # scan-pushable OR-of-BETWEEN form doesn't apply and the exists form
    # is interpreted-per-row-slow (measured 794 s -> ~1 s; see
    # zorder_range_join docstring). 237 disjoint intervals = a bounded
    # broadcast dim; membership = inner BNLJ, each row matches <= 1.
    return zorder_range_join(pts, F.col("zkey"), ranges)


def _oracle_zorder_bbox() -> str:
    n = 1 << _HIL_ORDER
    hx = _duck_h60("'hx' || CAST(event_id AS VARCHAR)")
    hy = _duck_h60("'hy' || CAST(event_id AS VARCHAR)")
    zkey = " + ".join(
        f"(CASE WHEN (hx & {1 << i}) > 0 THEN 1 ELSE 0 END) * {1 << (2 * i)}"
        f" + (CASE WHEN (hy & {1 << i}) > 0 THEN 1 ELSE 0 END) * {1 << (2 * i + 1)}"
        for i in range(_HIL_ORDER)
    )
    x0, x1, y0, y1 = _ZBB
    return f"""
WITH pts AS (SELECT event_id AS pid, {hx} % {n} AS hx, {hy} % {n} AS hy
             FROM events)
SELECT pid, hx, hy, CAST({zkey} AS BIGINT) AS zkey FROM pts
WHERE hx BETWEEN {x0} AND {x1} AND hy BETWEEN {y0} AND {y1}
"""


_HRP_W = 40  # max box extent for the bulk-plan query (keeps output bounded)


def _hrp_boxes(spark, sf_dir):
    """25 deterministic query boxes derived from nation keys — the
    'ten million tile envelopes from an upstream join' stand-in."""
    from osm_hadoop_spark.operators.textstats import h60

    n = 1 << _HIL_ORDER
    k = F.col("n_nationkey").cast("string")
    return _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("box_id"),
        (h60(F.concat(F.lit("bcx"), k)) % n).alias("cx"),
        (h60(F.concat(F.lit("bcy"), k)) % n).alias("cy"),
        (h60(F.concat(F.lit("bw"), k)) % _HRP_W).alias("w"),
        (h60(F.concat(F.lit("bh"), k)) % _HRP_W).alias("h"),
    ).select(
        "box_id",
        F.col("cx").alias("x0"),
        F.least(F.col("cx") + F.col("w"), F.lit(n - 1)).alias("x1"),
        F.col("cy").alias("y0"),
        F.least(F.col("cy") + F.col("h"), F.lit(n - 1)).alias("y1"),
    )


def _q_hilbert_bulk_scan(spark, sf_dir):
    """Distributed Hilbert range planner + membership scan
    (operators/rangeplan.py): a TABLE of query bboxes is decomposed —
    as a Spark job, `order` bounded codegen rounds, no UDF — into each
    box's minimal exact Hilbert-key intervals (the 4-state quadtree
    machine derived from hilbert_key, pinned by enumeration in
    tests/test_rangeplan.py), then events keyed by hilbert_key are
    scanned with the ONLY spatial predicate being interval membership
    on the key. The oracle's plain per-box bbox WHERE proves every
    box's decomposition covers its rectangle exactly — no missing
    cell, no stray cell, per box. Read-side payoff: on a
    hilbert-clustered table (layout_by_hilbert) the same intervals
    prune parquet row groups; the reference's HBase read path is an
    unbounded full Scan (rasterstats/HBaseTest.scala:19-21)."""
    from osm_hadoop_spark.functions.hilbert import hilbert_key
    from osm_hadoop_spark.operators.rangeplan import (
        hilbert_plan_scan,
        hilbert_range_plan,
    )
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    n = 1 << _HIL_ORDER
    pts = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("pid"),
        (h60(F.concat(F.lit("hx"), s)) % n).alias("hx"),
        (h60(F.concat(F.lit("hy"), s)) % n).alias("hy"),
    ).withColumn("hkey", hilbert_key(F.col("hx"), F.col("hy"), _HIL_ORDER))
    plan = hilbert_range_plan(_hrp_boxes(spark, sf_dir), _HIL_ORDER)
    return hilbert_plan_scan(pts, F.col("hkey"), plan).select(
        "box_id", "pid", "hx", "hy", "hkey"
    )


def _oracle_hilbert_bulk_scan() -> str:
    from osm_hadoop_spark.functions.hilbert import hilbert_unrolled_sql

    n = 1 << _HIL_ORDER
    hx = _duck_h60("'hx' || CAST(event_id AS VARCHAR)")
    hy = _duck_h60("'hy' || CAST(event_id AS VARCHAR)")
    bcx = _duck_h60("'bcx' || CAST(n_nationkey AS VARCHAR)")
    bcy = _duck_h60("'bcy' || CAST(n_nationkey AS VARCHAR)")
    bw = _duck_h60("'bw' || CAST(n_nationkey AS VARCHAR)")
    bh = _duck_h60("'bh' || CAST(n_nationkey AS VARCHAR)")
    chain, last = hilbert_unrolled_sql(_HIL_ORDER, "x", "y")
    return (
        "WITH h0 AS (SELECT pid, hx, hy, hx AS x, hy AS y, 0 AS d FROM"
        f" (SELECT event_id AS pid, {hx} % {n} AS hx, {hy} % {n} AS hy"
        " FROM events)),\n"
        + chain
        + f""",
boxes AS (
  SELECT n_nationkey AS box_id,
         cx AS x0, LEAST(cx + w, {n - 1}) AS x1,
         cy AS y0, LEAST(cy + h, {n - 1}) AS y1
  FROM (SELECT n_nationkey, {bcx} % {n} AS cx, {bcy} % {n} AS cy,
               {bw} % {_HRP_W} AS w, {bh} % {_HRP_W} AS h
        FROM nation))
SELECT b.box_id, p.pid, p.hx, p.hy, CAST(p.d AS BIGINT) AS hkey
FROM boxes b JOIN {last} p
  ON p.hx BETWEEN b.x0 AND b.x1 AND p.hy BETWEEN b.y0 AND b.y1
"""
    )


def _oracle_tile_coverage() -> str:
    from osm_hadoop_spark.functions.coverage import coverage_sql

    ladder = coverage_sql("SELECT * FROM cand", cell=256, scale=128)
    return f"""
{_coverage_cand_ctes()}
SELECT way_id, tx, ty, CAST(SUM(cov_fp) AS BIGINT) AS cov2s
FROM {ladder}
GROUP BY way_id, tx, ty
"""


# ---------------------------------------------------------------------------
# sketch family (engine additions): bloom join pruning, MG heavy hitters,
# deterministic HLL registers — operators/sketch.py
# ---------------------------------------------------------------------------


def _q_bloom_semijoin(spark, sf_dir):
    """Bloom-pruned exact semi-join: lineitem rows whose order is in the
    high-value key set, aggregated per order. The bloom (8 KiB, built with
    a native bit_or aggregate, shipped as ONE broadcast row) prunes the
    fact side inside the scan stage, BELOW the verify join's shuffle
    exchange (verify="shuffle" — the regime where the pattern pays);
    the verify join removes false positives, so the oracle is the plain
    exact semi-join."""
    from osm_hadoop_spark.operators.sketch import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    keys = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 250000
    ).select("o_orderkey")
    # m_bits sized for the key count: sf0.1 selects ~50k keys, and an
    # 8 KiB bloom at that load runs ~73% fpr (prunes nothing); 2^20 bits
    # = 128 KiB gives fpr ~ 2e-3 (still one broadcast row)
    return (
        bloom_semi_join(li, keys, "l_orderkey", "o_orderkey",
                        m_bits=1 << 20, verify="shuffle")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_linenumber").cast("bigint")).alias("sum_lines"),
        )
    )


_ORACLE_BLOOM_SEMIJOIN = """
SELECT l_orderkey, COUNT(*) AS n_items,
  CAST(SUM(l_linenumber) AS BIGINT) AS sum_lines
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 250000)
GROUP BY l_orderkey
"""


def _q_heavy_hitters(spark, sf_dir):
    """Exact top-20 whitespace tokens via the 2-pass Misra-Gries path
    (bounded-memory per-task sketch -> small candidate superset -> exact
    re-count of candidates only). Exactness holds because the 20th token's
    count far exceeds N/(capacity+1); tests/test_sketch.py asserts the
    guarantee. Oracle: the plain exact top-20 with the identical
    (cnt DESC, token ASC) tie-break."""
    from osm_hadoop_spark.operators.sketch import heavy_hitters
    from osm_hadoop_spark.operators.textstats import tokens_col

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(tokens_col()).alias("token")
    )
    return heavy_hitters(toks, "token", top_k=20, capacity=4096)


_ORACLE_HEAVY_HITTERS = f"""
WITH tok AS (SELECT unnest({_DUCK_TOKS}) AS token FROM documents)
SELECT token, COUNT(*) AS cnt FROM tok
GROUP BY token ORDER BY cnt DESC, token LIMIT 20
"""


# Count-Min sketch: point-frequency estimates with the one-sided
# est >= true guarantee. Build = one partial-aggregating hash agg over
# d*w cells; probes read the broadcast sketch. All integers.
_CM_D, _CM_W = 4, 64


def _q_count_min(spark, sf_dir):
    from osm_hadoop_spark.operators.sketch import count_min_estimate

    ev = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    est = count_min_estimate(ev, probes, "user_id", d=_CM_D, w=_CM_W)
    true = (
        ev.filter(F.col("user_id") % 7 == 0)
        .groupBy(F.col("user_id").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    return est.join(true, "k").select("k", "true_cnt", "cm_est")


_ORACLE_COUNT_MIN = f"""
WITH rr AS (SELECT unnest(generate_series(0, {_CM_D - 1})) AS r),
ks AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
cells AS (SELECT r, {_duck_h60("'cm' || r || '_' || k")} % {_CM_W} AS c,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM ks, rr GROUP BY 1, 2),
probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
           WHERE user_id % 7 = 0),
pr AS (SELECT k, r, {_duck_h60("'cm' || r || '_' || k")} % {_CM_W} AS c
       FROM probes, rr),
est AS (SELECT pr.k, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS cm_est
        FROM pr LEFT JOIN cells USING (r, c) GROUP BY pr.k),
tr AS (SELECT CAST(user_id AS VARCHAR) AS k,
              CAST(count(*) AS BIGINT) AS true_cnt
       FROM events WHERE user_id % 7 = 0 GROUP BY 1)
SELECT est.k, tr.true_cnt, est.cm_est FROM est JOIN tr USING (k)
"""


def _q_hll_registers(spark, sf_dir):
    """Deterministic HyperLogLog registers per event_type over user_id:
    bucket = low 8 bits of h60, rho = leading-zero count of the remaining
    52 bits + 1, register = max(rho) — all exact integers from the shared
    md5 hash, so the whole sketch state is value-oracled cross-engine (the
    float estimate is pinned separately in tests/test_sketch.py)."""
    from osm_hadoop_spark.operators.sketch import hll_registers

    return hll_registers(
        _t(spark, sf_dir, "events"), "event_type", "user_id", p=8
    ).select("event_type", "bucket", F.col("max_rho").cast("int").alias("max_rho"))


_ORACLE_HLL_REGISTERS = f"""
WITH h AS (
  SELECT event_type,
         {_duck_h60("concat('hll:', CAST(user_id AS VARCHAR))")} AS h
  FROM events)
SELECT event_type, h % 256 AS bucket,
  CAST(MAX(CASE WHEN (h >> 8) = 0 THEN 53
                ELSE 53 - length(bin(h >> 8)) END) AS INT) AS max_rho
FROM h GROUP BY event_type, h % 256
"""


_GEO_R_M = 50_000


def _q_geodesic_pairs(spark, sf_dir):
    """Great-circle distance-band join (operators/distance_join.py::
    geodesic_pairs): customers hash onto 40 cluster centers with +-0.2
    degree jitter (so 50 km pairs genuinely exist), 1-degree grid
    blocking, haversine integer-mm refine. The oracle is the O(n^2)
    all-pairs twin with duck_haversine_mm — proving the blocking misses
    nothing, not just that the refine agrees. Coordinates build as ONE
    integer micro-degree sum divided once by 1e5, so the doubles are
    bit-identical across engines."""
    from osm_hadoop_spark.operators.distance_join import geodesic_pairs
    from osm_hadoop_spark.operators.textstats import h60

    pk = F.col("c_custkey")
    s = pk.cast("string")
    k = (pk % 40).cast("string")
    ulon = (
        h60(F.concat(F.lit("gcx"), k)) % 34000000 - 17000000
        + h60(F.concat(F.lit("gjx"), s)) % 40001 - 20000
    )
    ulat = (
        h60(F.concat(F.lit("gcy"), k)) % 11000000 - 5500000
        + h60(F.concat(F.lit("gjy"), s)) % 40001 - 20000
    )
    pts = _t(spark, sf_dir, "customer").select(
        pk.alias("id"),
        (ulon.cast("double") / 100000.0).alias("lon"),
        (ulat.cast("double") / 100000.0).alias("lat"),
    )
    return geodesic_pairs(pts, radius_m=_GEO_R_M, cell_deg=1.0)


def _oracle_geodesic_pairs() -> str:
    from osm_hadoop_spark.functions.geodesic import duck_haversine_mm

    k = "CAST(c_custkey % 40 AS VARCHAR)"
    s = "CAST(c_custkey AS VARCHAR)"
    gcx = _duck_h60(f"'gcx' || {k}")
    gjx = _duck_h60(f"'gjx' || {s}")
    gcy = _duck_h60(f"'gcy' || {k}")
    gjy = _duck_h60(f"'gjy' || {s}")
    ulon = f"({gcx} % 34000000 - 17000000 + {gjx} % 40001 - 20000)"
    ulat = f"({gcy} % 11000000 - 5500000 + {gjy} % 40001 - 20000)"
    mm = duck_haversine_mm("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH pts AS (
  SELECT c_custkey AS id,
         CAST({ulon} AS DOUBLE) / 100000.0 AS lon,
         CAST({ulat} AS DOUBLE) / 100000.0 AS lat
  FROM customer)
SELECT a.id AS id_a, b.id AS id_b, {mm} AS geo_mm
FROM pts a JOIN pts b ON a.id < b.id
WHERE {mm} <= {_GEO_R_M * 1000}
"""


_ATTR_W_US = 86_400_000_000  # 1-day lookback


def _q_attribution(spark, sf_dir):
    """First/last-touch attribution (operators/attribution.py): view and
    click events are touches (channel = h60-derived literal ladder),
    purchases convert, 1-day lookback. Engine = one union + one sort +
    two RANGE-frame struct max/min windows (no join); oracle = the
    JOIN-based formulation ranked by row_number — a different algorithm,
    so green proves the window semantics."""
    from osm_hadoop_spark.operators.attribution import attribute_conversions
    from osm_hadoop_spark.operators.textstats import h60

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    ch = F.element_at(
        F.array(*[F.lit(c) for c in ("ads", "email", "social", "organic")]),
        (h60(F.concat(F.lit("ch"), F.col("event_id").cast("string"))) % 4 + 1)
        .cast("int"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts_us", "event_id", ch.alias("channel")
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id"
    )
    return attribute_conversions(touches, convs, lookback=_ATTR_W_US)


_ORACLE_ATTRIBUTION = f"""
WITH t AS (
  SELECT user_id AS u, epoch_us(ts) AS tt, event_id AS tid,
         ['ads','email','social','organic']
           [CAST({_duck_h60("'ch' || CAST(event_id AS VARCHAR)")} % 4 + 1 AS INT)]
           AS ch
  FROM events WHERE event_type IN ('view', 'click')),
c AS (SELECT user_id AS u, epoch_us(ts) AS ct, event_id AS cid
      FROM events WHERE event_type = 'purchase'),
j AS (SELECT c.u, c.cid, c.ct, t.tid, t.ch,
        row_number() OVER (PARTITION BY c.u, c.cid
                           ORDER BY t.tt DESC, t.tid DESC) AS rl,
        row_number() OVER (PARTITION BY c.u, c.cid
                           ORDER BY t.tt ASC, t.tid ASC) AS rf
      FROM c JOIN t ON t.u = c.u AND t.tt < c.ct
                   AND t.tt > c.ct - {_ATTR_W_US}),
lt AS (SELECT cid, tid AS lt_id, ch AS lt_channel FROM j WHERE rl = 1),
ft AS (SELECT cid, tid AS ft_id, ch AS ft_channel FROM j WHERE rf = 1)
SELECT c.u AS user_id, c.cid AS conv_id, c.ct AS conv_ts,
       lt.lt_id, lt.lt_channel, ft.ft_id, ft.ft_channel
FROM c LEFT JOIN lt ON lt.cid = c.cid LEFT JOIN ft ON ft.cid = c.cid
"""


def _q_ivm_merge(spark, sf_dir):
    """Incremental view maintenance (operators/ivm.py): the per-customer
    (count, integer sum) view is built over the 'already snapshotted'
    base (o_orderkey % 7 != 0), then a CDC batch of inserts (% 7 == 0)
    and deletes (% 5 == 0 of the base) merges in WITHOUT re-reading the
    base. The oracle computes the final view FROM SCRATCH over
    (base - deletes + inserts) — a different algorithm — so a green row
    proves the IVM delta identity, not just reproduction."""
    from osm_hadoop_spark.operators.ivm import ivm_merge

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", (F.col("o_orderkey") % 997).alias("m")
    )
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    view = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("m").cast("bigint").alias("sm"),
    )
    delta = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_custkey", "m", F.lit(1).alias("op"))
        .unionByName(
            base.filter(F.col("o_orderkey") % 5 == 0)
            .select("o_custkey", "m", F.lit(-1).alias("op"))
        )
    )
    return ivm_merge(view, delta, "o_custkey", "m").select(
        "o_custkey",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sm").cast("bigint").alias("sm"),
    )


_ORACLE_IVM = """
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(o_orderkey % 997) AS BIGINT) AS sm
FROM orders
WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 <> 0
GROUP BY o_custkey
"""


_DWELL_CS, _DWELL_MIN, _DWELL_HB = 100, 1800000, 3600000


def _q_dwell_segments(spark, sf_dir):
    """Stay-point detection (operators/trajectory.py::dwell_segments):
    per-user positions derived from the hour bucket (so positions hold
    still for ~an hour, then jump — realistic dwells), grid cell 100,
    dwell >= 30 min with >= 2 pings. Grid-RLE reformulation of Li et al.
    2008; one exchange, two pipelined windows, one rollup."""
    from osm_hadoop_spark.operators.textstats import h60
    from osm_hadoop_spark.operators.trajectory import dwell_segments

    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    hb = (ms / _DWELL_HB).cast("bigint")
    key = F.concat(
        F.col("user_id").cast("string"), F.lit("_"), hb.cast("string")
    )
    pings = ev.select(
        F.col("user_id").alias("entity"),
        ms.alias("t"),
        F.col("event_id").alias("seq"),
        (h60(F.concat(F.lit("dwx"), key)) % 1600).alias("x"),
        (h60(F.concat(F.lit("dwy"), key)) % 1600).alias("y"),
    )
    return dwell_segments(
        pings, cell_size=_DWELL_CS, min_dwell=_DWELL_MIN, min_pings=2
    )


_ORACLE_DWELL = f"""
WITH p AS (
  SELECT user_id AS entity, epoch_ms(ts) AS t, event_id AS seq,
         {_duck_h60("'dwx' || CAST(user_id AS VARCHAR) || '_' || CAST(epoch_ms(ts) // " + str(_DWELL_HB) + " AS VARCHAR)")} % 1600 AS x,
         {_duck_h60("'dwy' || CAST(user_id AS VARCHAR) || '_' || CAST(epoch_ms(ts) // " + str(_DWELL_HB) + " AS VARCHAR)")} % 1600 AS y
  FROM events),
c AS (SELECT entity, t, seq, x // {_DWELL_CS} AS cx, y // {_DWELL_CS} AS cy FROM p),
b AS (SELECT entity, t, seq, cx, cy,
        CASE WHEN lag(cx) OVER w IS NULL
             OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
        THEN 1 ELSE 0 END AS brk
      FROM c WINDOW w AS (PARTITION BY entity ORDER BY t, seq)),
r AS (SELECT entity, t, seq, cx, cy,
        SUM(brk) OVER (PARTITION BY entity ORDER BY t, seq
                       ROWS UNBOUNDED PRECEDING) AS run_id
      FROM b)
SELECT entity, run_id, MIN(cx) AS cx, MIN(cy) AS cy,
       MIN(t) AS t0, MAX(t) AS t1,
       CAST(COUNT(*) AS BIGINT) AS n_pings
FROM r GROUP BY entity, run_id
HAVING MAX(t) - MIN(t) >= {_DWELL_MIN} AND COUNT(*) >= 2
"""


def _q_kmv_overlap(spark, sf_dir):
    """KMV theta-style sketches (operators/sketch.py::kmv_sketch) over
    per-event-type user sets + all-pairs overlap estimation
    (kmv_overlap): the set-INTERSECTION capability HLL registers lack.
    All outputs are integers (k-th union hash, intersection count within
    the union sketch, union sketch size), so the oracle replays sketch
    construction and merge exactly."""
    from osm_hadoop_spark.operators.sketch import kmv_overlap, kmv_sketch

    sk = kmv_sketch(_t(spark, sf_dir, "events"), "event_type", "user_id", k=32)
    return kmv_overlap(sk, "event_type", k=32).select(
        F.col("ga").alias("type_a"), F.col("gb").alias("type_b"),
        "kth_union", "inter_k", "union_k",
    )


_ORACLE_KMV_OVERLAP = f"""
WITH d AS (SELECT DISTINCT event_type AS g,
             {_duck_h60("'kmv:' || CAST(user_id AS VARCHAR)")} AS hv
           FROM events),
sk AS (SELECT g, hv FROM (
         SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS r
         FROM d) WHERE r <= 32),
gs AS (SELECT DISTINCT g FROM sk),
pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
m AS (SELECT p.ga, p.gb, s.hv,
        MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
        MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb
      GROUP BY p.ga, p.gb, s.hv),
t AS (SELECT ga, gb, hv, in_a, in_b,
        row_number() OVER (PARTITION BY ga, gb ORDER BY hv) AS r
      FROM m)
SELECT ga AS type_a, gb AS type_b, MAX(hv) AS kth_union,
       CAST(SUM(in_a * in_b) AS BIGINT) AS inter_k,
       CAST(COUNT(*) AS BIGINT) AS union_k
FROM t WHERE r <= 32 GROUP BY ga, gb
"""


def _q_resample_interp(spark, sf_dir):
    """Fixed-step linear-interpolation resample (operators/timeseries.py
    ::resample_interp): exact unreduced rationals (num, den) at 6 h grid
    instants, union-sentinel plan (one sort per key, no join). The twin
    derives the bracketing observations independently via DuckDB ASOF
    joins instead of the window carry."""
    from osm_hadoop_spark.operators.timeseries import resample_interp

    return resample_interp(_t(spark, sf_dir, "events"))


_ORACLE_RESAMPLE_INTERP = """
WITH o0 AS (
  SELECT user_id AS k, epoch_ms(ts) AS ms,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, event_id
  FROM events),
obs AS (SELECT k, ms, arg_max(v, event_id) AS v FROM o0 GROUP BY k, ms),
grid AS (
  SELECT k, unnest(generate_series(min_b, max_b)) AS bucket
  FROM (SELECT k, min(ms // 21600000) AS min_b,
               max(ms // 21600000) AS max_b
        FROM obs GROUP BY k)),
g2 AS (SELECT k, bucket, bucket * 21600000 AS t FROM grid),
j1 AS (SELECT g2.k, g2.bucket, g2.t, o.ms AS t1, o.v AS y1
       FROM g2 ASOF LEFT JOIN obs o ON o.k = g2.k AND o.ms <= g2.t),
j2 AS (SELECT j1.*, o.ms AS t2, o.v AS y2
       FROM j1 ASOF LEFT JOIN obs o ON o.k = j1.k AND o.ms > j1.t)
SELECT k AS user_id, CAST(bucket AS BIGINT) AS bucket,
  CASE WHEN t1 IS NULL THEN 'bfill'
       WHEN t2 IS NULL THEN 'ffill' ELSE 'interp' END AS mode,
  CAST(CASE WHEN t1 IS NULL THEN y2 WHEN t2 IS NULL THEN y1
       ELSE y1 * (t2 - t1) + (y2 - y1) * (t - t1) END AS BIGINT) AS num,
  CAST(CASE WHEN t1 IS NULL OR t2 IS NULL THEN 1
       ELSE t2 - t1 END AS BIGINT) AS den
FROM j2
"""


def _q_resample_ffill(spark, sf_dir):
    """Fixed-step (6 h) resample of the event stream per user with
    forward-fill — operators/timeseries.py. Value doubles pass through
    both engines untouched (no arithmetic on them), so the comparison is
    bit-exact; the deterministic last-write-wins per bucket is pinned by
    (ts, event_id)."""
    from osm_hadoop_spark.operators.timeseries import resample_ffill

    return resample_ffill(_t(spark, sf_dir, "events"))


_ORACLE_RESAMPLE_FFILL = """
WITH ev AS (
  SELECT user_id, epoch_ms(ts) // 21600000 AS bucket, epoch_ms(ts) AS ms,
         event_id, value
  FROM events),
obs AS (
  SELECT user_id, bucket, value AS v_obs FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                 ORDER BY ms DESC, event_id DESC) AS rn
    FROM ev) WHERE rn = 1),
spans AS (SELECT user_id, min(bucket) AS min_b, max(bucket) AS max_b
          FROM obs GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(min_b, max_b)) AS bucket
         FROM spans)
SELECT g.user_id, g.bucket,
  last_value(o.v_obs IGNORE NULLS)
    OVER (PARTITION BY g.user_id ORDER BY g.bucket
          ROWS UNBOUNDED PRECEDING) AS value_ffill,
  CAST(o.v_obs IS NOT NULL AS INT) AS observed
FROM grid g LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.bucket = o.bucket
"""


# ---------------------------------------------------------------------------
# raster pipeline queries (E4 snap + E5 Bresenham + F8 remap + A2 / A6)
# ---------------------------------------------------------------------------


def _raster_ways(spark, sf_dir):
    """3-point ways with bit-exact SQL twins: lon/lat = ((k*m) % 900)/1000.0
    keeps every way inside a 0.9-degree box (d_fast <= ~110 px on the global
    43200x21600 grid), and the o_orderpriority -> highway remap exercises
    both the known-class and default-15 branches of F8."""
    o = _t(spark, sf_dir, "orders")
    pr = F.col("o_orderpriority")
    hw = (
        F.when(pr == "1-URGENT", "motorway")
        .when(pr == "2-HIGH", "trunk")
        .when(pr == "3-MEDIUM", "primary")
        .when(pr == "4-NOT SPECIFIED", "residential")
        .otherwise("path")  # not in HIGHWAY_CLASS -> default 15
    )

    def crd(m: int):
        return ((F.col("o_orderkey") * m) % 900).cast("double") / F.lit(1000.0)

    return o.select(
        F.col("o_orderkey").alias("way_id"),
        hw.alias("highway"),
        F.array(crd(3), crd(7), crd(11)).alias("xs"),
        F.array(crd(5), crd(13), crd(17)).alias("ys"),
    )


def _q_rasterize_bresenham(spark, sf_dir):
    # E4+E5+F8 end-to-end: snap, closed-form Bresenham (mapInPandas), class
    # remap; aggregated to a deterministic (pix, cls) multiset
    from osm_hadoop_spark.operators.rasterize import rasterize_ways

    px = rasterize_ways(_raster_ways(spark, sf_dir))
    return px.groupBy("pix", "cls").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select("pix", F.col("cls").cast("bigint").alias("cls"), "n")


_RASTER_CLS_CASE = (
    "CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 "
    "WHEN '3-MEDIUM' THEN 4 WHEN '4-NOT SPECIFIED' THEN 11 ELSE 15 END"
)

# DuckDB twin of the reference Bresenham (raster/Rasterizer.java:22-134) via
# the proved closed form slow_k = slow_1 + floor((2k*d_slow + d_fast)/(2*d_fast))
# (functions/raster.py; floor toward -inf, ties |dy|==|dx| -> y-fast branch).
_ORACLE_RASTERIZE = f"""
WITH w AS (
  SELECT {_RASTER_CLS_CASE} AS cls,
    CAST((o_orderkey*3) % 900 AS DOUBLE)/1000.0 AS lon0,
    CAST((o_orderkey*7) % 900 AS DOUBLE)/1000.0 AS lon1,
    CAST((o_orderkey*11) % 900 AS DOUBLE)/1000.0 AS lon2,
    CAST((o_orderkey*5) % 900 AS DOUBLE)/1000.0 AS lat0,
    CAST((o_orderkey*13) % 900 AS DOUBLE)/1000.0 AS lat1,
    CAST((o_orderkey*17) % 900 AS DOUBLE)/1000.0 AS lat2
  FROM orders
), seg AS (
  SELECT cls, lon0 AS ax, lat0 AS ay, lon1 AS bx, lat1 AS by FROM w
  UNION ALL
  SELECT cls, lon1, lat1, lon2, lat2 FROM w
), sn AS (
  SELECT cls,
    CAST(trunc((ax + 180.0) * 43200 / 360.0) AS BIGINT) AS x1,
    CAST(trunc((ay + 90.0) * 21600 / 180.0) AS BIGINT) AS y1,
    CAST(trunc((bx + 180.0) * 43200 / 360.0) AS BIGINT) AS x2,
    CAST(trunc((by + 90.0) * 21600 / 180.0) AS BIGINT) AS y2
  FROM seg
), nm AS (
  SELECT cls, xfast,
    CASE WHEN swp THEN x2 ELSE x1 END AS px1,
    CASE WHEN swp THEN y2 ELSE y1 END AS py1,
    CASE WHEN swp THEN x1 ELSE x2 END AS px2,
    CASE WHEN swp THEN y1 ELSE y2 END AS py2
  FROM (
    SELECT *, abs(y2-y1) < abs(x2-x1) AS xfast,
      CASE WHEN abs(y2-y1) < abs(x2-x1) THEN x2 < x1 ELSE y2 < y1 END AS swp
    FROM sn
  )
), dd AS (
  SELECT cls, xfast,
    CASE WHEN xfast THEN px2-px1 ELSE py2-py1 END AS dfast,
    CASE WHEN xfast THEN py2-py1 ELSE px2-px1 END AS dslow,
    CASE WHEN xfast THEN px1 ELSE py1 END AS fast1,
    CASE WHEN xfast THEN py1 ELSE px1 END AS slow1
  FROM nm
), kk AS (
  SELECT cls, xfast, dfast, dslow, fast1, slow1,
    unnest(generate_series(0, dfast)) AS k
  FROM dd
), px AS (
  SELECT cls, xfast, fast1 + k AS fast,
    slow1 + CASE WHEN dfast = 0 THEN 0
      ELSE CAST(floor((2.0*k*dslow + dfast) / (2.0*dfast)) AS BIGINT) END AS slow
  FROM kk
)
SELECT ((CASE WHEN xfast THEN fast ELSE slow END) << 32)
     | ((CASE WHEN xfast THEN slow ELSE fast END) & 4294967295) AS pix,
  CAST(cls AS BIGINT) AS cls, CAST(count(*) AS BIGINT) AS n
FROM px GROUP BY 1, 2
"""


def _q_min_class(spark, sf_dir):
    # A2: SparkRasterizer.scala:101-102 raw-class min (documented divergence
    # from the canonical A1 precedence argmin)
    from osm_hadoop_spark.operators.rasterize import min_class

    return min_class(_pixels(spark, sf_dir)).select(
        "pix", F.col("cls").cast("bigint").alias("cls")
    )


_ORACLE_MIN_CLASS = f"""
WITH px AS ({_PIXELS_SQL})
SELECT pix, CAST(min(cls) AS BIGINT) AS cls FROM px GROUP BY pix
"""

_W_MOD = 1152921504606846976  # 2^60: keeps words positive, 15 hex digits


def _q_bitset_or(spark, sf_dir):
    # A6: per-tile bitwise-OR composite over binary bitsets via the real
    # salted two-level applyInPandas operator; words packed to big-endian
    # binary JVM-side (hex/unhex) and unpacked back for the value oracle
    from osm_hadoop_spark.operators.tile_join import or_composite_bitsets

    li = _t(spark, sf_dir, "lineitem")
    words = li.select(
        (F.col("l_orderkey") % 500).cast("bigint").alias("tile_id"),
        ((F.col("l_partkey") * 2654435761) % _W_MOD).alias("w0"),
        ((F.col("l_suppkey") * 972663749) % _W_MOD).alias("w1"),
    )

    def to_bin(c: str):
        return F.unhex(F.lpad(F.hex(F.col(c)), 16, "0"))

    bits = words.select("tile_id", F.concat(to_bin("w0"), to_bin("w1")).alias("bitset"))
    composed = or_composite_bitsets(bits, salted=True)

    def from_bin(pos: int):
        return F.conv(F.hex(F.expr(f"substring(bitset, {pos}, 8)")), 16, 10).cast("bigint")

    return composed.select("tile_id", from_bin(1).alias("w0"), from_bin(9).alias("w1"))


_ORACLE_BITSET_OR = f"""
SELECT CAST(l_orderkey % 500 AS BIGINT) AS tile_id,
  CAST(bit_or((l_partkey * 2654435761) % {_W_MOD}) AS BIGINT) AS w0,
  CAST(bit_or((l_suppkey * 972663749) % {_W_MOD}) AS BIGINT) AS w1
FROM lineitem GROUP BY 1
"""


def _q_buffered_cover(spark, sf_dir):
    # E6+E9: z13 buffered candidate enumeration (the RoadlessRasterizeMapSide
    # filter stage, buffer_deg=0.008333) over LOCAL ways so the fixed-zoom
    # cover stays bounded
    from osm_hadoop_spark.config import BUFFER_DEG_Z13
    from osm_hadoop_spark.operators.tile_join import assign_tiles

    assigned = assign_tiles(
        _local_ways_geom(spark, sf_dir), zoom=13, tms=False,
        buffer_deg=BUFFER_DEG_Z13, refine=False,
    )
    return assigned.groupBy("way_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tiles")
    )


def _q_buffered_cover_jvm(spark, sf_dir):
    """Round-5 pinned twin: the same z13 buffered cover through
    cover_impl='jvm' (zero Python workers; buffered refine parity is
    pinned separately in test_tile_join). Same oracle as
    buffered_cover_z13 — the two queries pin both physical strategies
    to identical values."""
    from osm_hadoop_spark.config import BUFFER_DEG_Z13
    from osm_hadoop_spark.operators.tile_join import assign_tiles

    assigned = assign_tiles(
        _local_ways_geom(spark, sf_dir), zoom=13, tms=False,
        buffer_deg=BUFFER_DEG_Z13, refine=False, cover_impl="jvm",
    )
    return assigned.groupBy("way_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tiles")
    )


_ORACLE_BUFFERED_COVER = f"""
WITH p AS ({_LOCAL_WAY_PTS_SQL}),
env AS (SELECT way_id, min(lon) - 0.008333 AS x0, max(lon) + 0.008333 AS x1,
               min(lat) - 0.008333 AS y0, max(lat) + 0.008333 AS y1
        FROM p GROUP BY way_id HAVING count(*) > 1)
SELECT way_id,
  ({_duck_xt('x1', 13)} - {_duck_xt('x0', 13)} + 1)
  * ({_duck_yt('y0', 13)} - {_duck_yt('y1', 13)} + 1) AS n_tiles
FROM env
"""


# --- multi-source BFS hop distance (operators/routing.py) ------------------
# R1: "hop distance to the nearest source" over a derived road graph —
# nodes = p_partkey, edges = gated XOR-hypercube shortcuts + an id ring
# (small diameter by construction, so the isochrone bound is meaningful).
# Sources = every 127th node. The oracle is an INDEPENDENT algorithm:
# capped recursive-CTE path enumeration + min-dist/min-src reduction,
# vs the operator's frontier BFS with per-round min-label propagation.
_BFS_HOPS = 5


def _q_graph_bfs(spark, sf_dir):
    from osm_hadoop_spark.operators.routing import bfs_hops
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    gate = h60(
        F.concat(
            F.lit("rg"),
            F.col("u").cast("string"),
            F.lit("_"),
            F.col("k").cast("string"),
        )
    )
    hyper = (
        pk.select("u", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("k"))
        .filter(gate % 4 != 0)
        .select("u", F.expr("u ^ shiftleft(1, k)").alias("v"))
    )
    ring = pk.select("u", (F.col("u") + 1).alias("v"))
    edges = hyper.unionByName(ring).join(
        pk.select(F.col("u").alias("v")), "v", "semi"
    )
    sources = pk.filter(F.col("u") % 127 == 1).select(F.col("u").alias("node"))
    return bfs_hops(edges, sources, max_hops=_BFS_HOPS, src="u", dst="v")


_ORACLE_GRAPH_BFS = f"""
WITH RECURSIVE
pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
reach(node, src_id, dist) AS (
  SELECT u, u, 0 FROM pk WHERE u % 127 = 1
  UNION
  SELECT s.v, r.src_id, r.dist + 1
  FROM reach r JOIN sym s ON r.node = s.u
  WHERE r.dist < {_BFS_HOPS}),
best AS (SELECT node, min(dist) AS dist FROM reach GROUP BY node)
SELECT b.node, CAST(b.dist AS INT) AS dist, min(r.src_id) AS src_id
FROM best b JOIN reach r ON r.node = b.node AND r.dist = b.dist
GROUP BY b.node, b.dist
"""


_HB_HOPS, _HB_P = 3, 4


def _q_hyperball(spark, sf_dir):
    """HyperBall (Boldi & Vigna 2013) over the SAME derived road graph as
    graph_bfs_h5: per-node ball-of-radius-t HLL registers for t=0..3,
    propagated as sparse (node, bucket, max_rho) rows — one equi-join +
    one max-agg per round (operators/sketch.py::hyperball). Output is the
    integer register sum + occupied-bucket count per (node, hop); the
    oracle recomputes both from exact recursive-CTE reach sets through
    the identical h60 register derivation, so every register max is
    value-checked."""
    from osm_hadoop_spark.operators.sketch import hyperball
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    gate = h60(
        F.concat(
            F.lit("rg"),
            F.col("u").cast("string"),
            F.lit("_"),
            F.col("k").cast("string"),
        )
    )
    hyper = (
        pk.select("u", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("k"))
        .filter(gate % 4 != 0)
        .select("u", F.expr("u ^ shiftleft(1, k)").alias("v"))
    )
    ring = pk.select("u", (F.col("u") + 1).alias("v"))
    edges = hyper.unionByName(ring).join(
        pk.select(F.col("u").alias("v")), "v", "semi"
    )
    nodes = pk.select(F.col("u").alias("node"))
    return hyperball(edges, nodes, hops=_HB_HOPS, p=_HB_P).withColumnRenamed(
        "node", "u"
    )


_ORACLE_HYPERBALL = f"""
WITH RECURSIVE
pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
reach(u, m, dist) AS (
  SELECT u, u, 0 FROM pk
  UNION
  SELECT r.u, s.v, r.dist + 1
  FROM reach r JOIN sym s ON r.m = s.u
  WHERE r.dist < {_HB_HOPS}),
md AS (SELECT u, m, MIN(dist) AS d FROM reach GROUP BY u, m),
regs AS (SELECT u, d, h % {1 << _HB_P} AS bucket,
           CASE WHEN (h >> {_HB_P}) = 0 THEN {61 - _HB_P}
                ELSE {61 - _HB_P} - length(bin(h >> {_HB_P})) END AS rho
         FROM (SELECT u, d,
                 {_duck_h60("concat('hll:', CAST(m AS VARCHAR))")} AS h
               FROM md)),
hops(t) AS (VALUES (0), (1), (2), (3)),
br AS (SELECT u, t, bucket, MAX(rho) AS max_rho
       FROM regs JOIN hops ON d <= t GROUP BY u, t, bucket)
SELECT u, CAST(t AS BIGINT) AS hop,
       CAST(SUM(max_rho) AS BIGINT) AS reg_sum,
       CAST(COUNT(*) AS BIGINT) AS occ
FROM br GROUP BY u, t
"""


# --- bounded-hop weighted shortest distance (operators/routing.py) ---------
# R3b: multi-source weighted SSSP over the SAME derived road graph as
# graph_bfs_h5, with symmetric hash-derived integer weights
# w(u,v) = 1 + h60('sw'|min|'_'|max) % 9 and a 4-edge hop cap. Engine =
# Bellman-Ford improved-frontier rounds with lexicographic (dist, src)
# min; oracle = capped recursive-CTE weighted path enumeration reduced
# by min-dist then min-src — an independent algorithm.
_SSSP_HOPS = 4


def _sssp_edges(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    gate = h60(
        F.concat(
            F.lit("rg"),
            F.col("u").cast("string"),
            F.lit("_"),
            F.col("k").cast("string"),
        )
    )
    hyper = (
        pk.select("u", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("k"))
        .filter(gate % 4 != 0)
        .select("u", F.expr("u ^ shiftleft(1, k)").alias("v"))
    )
    ring = pk.select("u", (F.col("u") + 1).alias("v"))
    edges = hyper.unionByName(ring).join(
        pk.select(F.col("u").alias("v")), "v", "semi"
    )
    w = 1 + h60(
        F.concat(
            F.lit("sw"),
            F.least("u", "v").cast("string"),
            F.lit("_"),
            F.greatest("u", "v").cast("string"),
        )
    ) % 9
    return edges.select("u", "v", w.cast("long").alias("w")), pk


# Link prediction over the SAME derived road graph (operators/
# linkpred.py): every distance-2 NON-adjacent pair scored by common-
# neighbor count + both degrees (integer Jaccard sufficient stats).
# Pairs generate through the shared neighbor — one adjacency self-join,
# never all-pairs; the degree-cap hub guard is exercised in pytest.
def _q_linkpred(spark, sf_dir):
    from osm_hadoop_spark.operators.linkpred import common_neighbor_scores

    edges, _pk = _sssp_edges(spark, sf_dir)
    return common_neighbor_scores(edges.select("u", "v"))


def _oracle_linkpred() -> str:
    return f"""
WITH
pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
cand AS (
  SELECT s1.u AS a, s2.u AS b, CAST(count(*) AS BIGINT) AS cn
  FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
  GROUP BY 1, 2),
nonadj AS (
  SELECT * FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM sym
                    WHERE sym.u = cand.a AND sym.v = cand.b))
SELECT a, b, cn, da.d AS deg_a, db.d AS deg_b
FROM nonadj
JOIN deg da ON da.u = nonadj.a
JOIN deg db ON db.u = nonadj.b
"""


# Label propagation community detection over the SAME derived road
# graph (routing.py::label_propagation): synchronous rounds, self-vote,
# (max count, min label) tie — a total order, so the oracle UNROLLS the
# rounds as sequential CTEs (the pagerank_r3 convention).
_LP_ROUNDS = 3


def _q_labelprop(spark, sf_dir):
    from osm_hadoop_spark.operators.routing import label_propagation

    edges, _pk = _sssp_edges(spark, sf_dir)
    return label_propagation(edges.select("u", "v"), rounds=_LP_ROUNDS)


def _labelprop_ctes() -> list:
    ctes = [
        "pk AS (SELECT p_partkey AS u FROM part)",
        f"""hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0)""",
        """edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk))""",
        """sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v)""",
        "l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)",
    ]
    for k in range(1, _LP_ROUNDS + 1):
        ctes.append(f"""v{k} AS (
  SELECT s.u AS node, l.lbl FROM sym s JOIN l{k - 1} l ON l.node = s.v
  UNION ALL
  SELECT node, lbl FROM l{k - 1})""")
        ctes.append(f"""l{k} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl, count(*) AS c FROM v{k} GROUP BY node, lbl)
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY c DESC, lbl) = 1)""")
    return ctes


def _oracle_labelprop() -> str:
    return (
        "WITH\n" + ",\n".join(_labelprop_ctes())
        + f"\nSELECT node, lbl AS community FROM l{_LP_ROUNDS}"
    )


def _q_modularity(spark, sf_dir):
    """Modularity census (operators/graphstats.py) of the LPA partition
    on the shared road graph — detection composed with its own exact
    evaluation (the emerging_hotspots composition pattern): per
    community n_nodes, within-edges, and degree mass; Q assembles
    downstream and Σ deg_sum = 2m makes the global scalar derivable."""
    from osm_hadoop_spark.operators.graphstats import modularity_census
    from osm_hadoop_spark.operators.routing import label_propagation

    edges, _pk = _sssp_edges(spark, sf_dir)
    labels = label_propagation(edges.select("u", "v"), rounds=_LP_ROUNDS)
    return modularity_census(edges.select("u", "v"), labels)


def _oracle_modularity() -> str:
    ctes = _labelprop_ctes() + [
        """e0 AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM sym)""",
        """dg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n)""",
        f"""lp AS (SELECT node, lbl AS community FROM l{_LP_ROUNDS})""",
        """ein AS (
  SELECT la.community, CAST(count(*) AS BIGINT) AS e_in
  FROM e0
  JOIN lp la ON la.node = e0.a
  JOIN lp lb ON lb.node = e0.b
  WHERE la.community = lb.community
  GROUP BY la.community)""",
        """nodes AS (
  SELECT lp.community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(coalesce(dg.d, 0)) AS BIGINT) AS deg_sum
  FROM lp LEFT JOIN dg ON dg.n = lp.node
  GROUP BY lp.community)""",
    ]
    return (
        "WITH\n" + ",\n".join(ctes)
        + """
SELECT nodes.community, nodes.n_nodes,
       CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, nodes.deg_sum
FROM nodes LEFT JOIN ein ON ein.community = nodes.community"""
    )


# R5: fixed-point integer PageRank over the SAME derived road graph —
# power iteration truncated at 3 rounds, every rank a bigint (integer DIV
# throughout), so the unrolled SQL twin matches bit-for-bit. The one
# iterative whole-graph workload (BFS/SSSP are frontier-based; CC is
# star-based; this is dense per-round mass flow).
_PR_ROUNDS, _PR_SCALE, _PR_DN, _PR_DD = 3, 1_000_000, 85, 100


def _q_pagerank(spark, sf_dir):
    from osm_hadoop_spark.operators.routing import pagerank_int

    edges, _pk = _sssp_edges(spark, sf_dir)
    return pagerank_int(
        edges.select("u", "v"),
        rounds=_PR_ROUNDS,
        scale=_PR_SCALE,
        damp_num=_PR_DN,
        damp_den=_PR_DD,
    )


def _oracle_pagerank() -> str:
    base = (_PR_SCALE * (_PR_DD - _PR_DN)) // _PR_DD
    cte = f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u AS eu, v AS ev FROM edges WHERE u <> v
  UNION
  SELECT v AS eu, u AS ev FROM edges WHERE u <> v),
deg AS (SELECT eu, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY eu),
n AS (SELECT eu AS node FROM deg),
pr0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS pr FROM n)"""
    for r in range(1, _PR_ROUNDS + 1):
        cte += f""",
c{r} AS (SELECT s.ev AS node, CAST(sum(p.pr // d.d) AS BIGINT) AS c
       FROM sym s JOIN pr{r - 1} p ON p.node = s.eu
       JOIN deg d ON d.eu = s.eu GROUP BY s.ev),
pr{r} AS (SELECT n.node,
        CAST({base} + ({_PR_DN} * coalesce(c.c, 0)) // {_PR_DD} AS BIGINT) AS pr
        FROM n LEFT JOIN c{r} c ON c.node = n.node)"""
    return cte + f"\nSELECT node, pr FROM pr{_PR_ROUNDS}"


def _q_ppr(spark, sf_dir):
    """Personalized PageRank (operators/routing.py::pagerank_int with
    seeds): teleport mass lands only on the h60-gated seed set (~5% of
    nodes), same fixed-point integer iteration as pagerank_r3 — the
    seeded relevance score next to the global one."""
    from osm_hadoop_spark.operators.routing import pagerank_int
    from osm_hadoop_spark.operators.textstats import h60

    edges, pk = _sssp_edges(spark, sf_dir)
    seeds = pk.filter(
        h60(F.concat(F.lit("sd"), F.col("u").cast("string"))) % 20 == 0
    ).select(F.col("u").alias("node"))
    return pagerank_int(
        edges.select("u", "v"),
        rounds=_PR_ROUNDS,
        scale=_PR_SCALE,
        damp_num=_PR_DN,
        damp_den=_PR_DD,
        seeds=seeds,
    )


def _oracle_ppr() -> str:
    base = (_PR_SCALE * (_PR_DD - _PR_DN)) // _PR_DD
    seed = _duck_h60("'sd' || node") + " % 20 = 0"
    cte = f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u AS eu, v AS ev FROM edges WHERE u <> v
  UNION
  SELECT v AS eu, u AS ev FROM edges WHERE u <> v),
deg AS (SELECT eu, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY eu),
n AS (SELECT eu AS node, {seed.replace("node", "eu")} AS is_seed FROM deg),
pr0 AS (SELECT node, CAST(CASE WHEN is_seed THEN {_PR_SCALE} ELSE 0 END
                          AS BIGINT) AS pr FROM n)"""
    for r in range(1, _PR_ROUNDS + 1):
        cte += f""",
c{r} AS (SELECT s.ev AS node, CAST(sum(p.pr // d.d) AS BIGINT) AS c
       FROM sym s JOIN pr{r - 1} p ON p.node = s.eu
       JOIN deg d ON d.eu = s.eu GROUP BY s.ev),
pr{r} AS (SELECT n.node,
        CAST(CASE WHEN n.is_seed THEN {base} ELSE 0 END
             + ({_PR_DN} * coalesce(c.c, 0)) // {_PR_DD} AS BIGINT) AS pr
        FROM n LEFT JOIN c{r} c ON c.node = n.node)"""
    return cte + f"\nSELECT node, pr FROM pr{_PR_ROUNDS}"


# h-bounded stress centrality between hub sets over the SAME road graph
# (operators/centrality.py): exact integer shortest-path census — the
# integer member of the betweenness family. H truncates the PAIR
# universe (d_st <= H), never a counted pair's paths (docstring proof).
_STRESS_H = 4


def _q_stress(spark, sf_dir):
    from osm_hadoop_spark.operators.centrality import stress_centrality

    edges, pk = _sssp_edges(spark, sf_dir)
    sources = pk.filter(F.col("u") % 127 == 1).select(F.col("u").alias("node"))
    targets = pk.filter(F.col("u") % 131 == 2).select(F.col("u").alias("node"))
    return stress_centrality(edges.select("u", "v"), sources, targets, _STRESS_H)


def _oracle_stress() -> str:
    cte = f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
hubs AS (SELECT u FROM pk WHERE u % 127 = 1 OR u % 131 = 2),
r0 AS (SELECT u AS s, u AS node, 0 AS d, CAST(1 AS BIGINT) AS sig FROM hubs),
f0 AS (SELECT * FROM r0)"""
    for k in range(1, _STRESS_H + 1):
        cte += f""",
n{k} AS (SELECT f.s, e.v AS node, CAST(SUM(f.sig) AS BIGINT) AS sig
       FROM f{k - 1} f JOIN sym e ON e.u = f.node GROUP BY f.s, e.v),
f{k} AS (SELECT n.s, n.node, {k} AS d, n.sig FROM n{k} n
       WHERE NOT EXISTS (SELECT 1 FROM r{k - 1} p
                         WHERE p.s = n.s AND p.node = n.node)),
r{k} AS (SELECT * FROM r{k - 1} UNION ALL SELECT * FROM f{k})"""
    return cte + f""",
bs AS (SELECT * FROM r{_STRESS_H} WHERE s % 127 = 1),
bt AS (SELECT * FROM r{_STRESS_H} WHERE s % 131 = 2),
pairs AS (SELECT b.s, b.node AS t, b.d AS dst FROM bs b
          WHERE b.node % 131 = 2 AND b.node <> b.s),
mid AS (SELECT m.node, m.sig * n.sig AS c
        FROM bs m JOIN bt n ON n.node = m.node
        JOIN pairs p ON p.s = m.s AND p.t = n.s
        WHERE m.d + n.d = p.dst AND m.node <> m.s AND m.node <> n.s)
SELECT node, CAST(SUM(c) AS BIGINT) AS stress,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM mid GROUP BY node
"""


# Random-walk corpus generation over the SAME symmetrized road graph
# (operators/walks.py): the DeepWalk data stage, h60-derived choices so
# the unrolled SQL twin replays every walk bit-for-bit; pytest replays
# the engine against an independent hashlib walker.
_DW_WPN, _DW_LEN = 2, 4


def _q_random_walks(spark, sf_dir):
    from osm_hadoop_spark.operators.walks import random_walks

    edges, _pk = _sssp_edges(spark, sf_dir)
    e = edges.select("u", "v").where(F.col("u") != F.col("v"))
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    return random_walks(sym, walks_per_node=_DW_WPN, length=_DW_LEN, tag="dw")


def _oracle_random_walks() -> str:
    cte = f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
nbr AS (SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS r
        FROM sym),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
nbr3 AS (SELECT n.u, n.v, n.r, d2.d AS dv
         FROM nbr n JOIN deg d2 ON d2.u = n.v),
s0 AS (SELECT d.u AS start, CAST(k AS BIGINT) AS w, d.u AS cur, d.d AS dv
       FROM deg d, (SELECT unnest(generate_series(0, {_DW_WPN - 1})) AS k))"""
    for t in range(1, _DW_LEN + 1):
        draw = _duck_h60(
            f"'dw' || CAST(s.start AS VARCHAR) || '_' || s.w || '_' || {t}"
        )
        cte += f""",
s{t} AS (SELECT s.start, s.w, n.v AS cur, n.dv
       FROM s{t - 1} s JOIN nbr3 n
       ON n.u = s.cur AND n.r = {draw} % s.dv)"""
    selects = [
        "SELECT start, w, CAST(0 AS BIGINT) AS t, start AS node FROM s0"
    ] + [
        f"SELECT start, w, CAST({t} AS BIGINT) AS t, cur AS node FROM s{t}"
        for t in range(1, _DW_LEN + 1)
    ]
    return cte + "\n" + "\nUNION ALL\n".join(selects)


def _q_graph_sssp(spark, sf_dir):
    from osm_hadoop_spark.operators.routing import sssp

    edges, pk = _sssp_edges(spark, sf_dir)
    sources = pk.filter(F.col("u") % 127 == 1).select(F.col("u").alias("node"))
    return sssp(edges, sources, max_hops=_SSSP_HOPS)


def _q_widest_path(spark, sf_dir):
    """Bounded-hop widest path (operators/routing.py::widest_path):
    Bellman-Ford over the (max, min) semiring — maximum bottleneck
    capacity from the hub set over the same road graph and 'sw'
    capacities the sssp query uses; the capacity-routing twin of
    graph_sssp_h4."""
    from osm_hadoop_spark.operators.routing import widest_path

    edges, pk = _sssp_edges(spark, sf_dir)
    sources = pk.filter(F.col("u") % 127 == 1).select(F.col("u").alias("node"))
    return widest_path(edges, sources, max_hops=_SSSP_HOPS)


_ORACLE_WIDEST_PATH = f"""
WITH RECURSIVE
pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
wsym AS (
  SELECT u, v,
         1 + {_duck_h60("'sw' || least(u, v) || '_' || greatest(u, v)")} % 9 AS w
  FROM sym),
reach(node, width, hops) AS (
  SELECT u, CAST({1 << 62} AS BIGINT), 0 FROM pk WHERE u % 127 = 1
  UNION
  SELECT s.v, least(r.width, CAST(s.w AS BIGINT)), r.hops + 1
  FROM reach r JOIN wsym s ON r.node = s.u
  WHERE r.hops < {_SSSP_HOPS}),
best AS (SELECT node, max(width) AS width FROM reach GROUP BY node)
SELECT node, CAST(width AS BIGINT) AS width FROM best
"""


_CD_G, _CD_ROUNDS = 24, 6


def _q_cost_distance(spark, sf_dir):
    """Cost-distance surface (GRASS r.cost / ArcGIS CostDistance,
    operators/costdist.py): events hash onto a 24x24 lattice, cell cost =
    1 + count % 9, three literal seed cells, 4-neighbor accumulated
    least-cost (doubled to stay integer) bounded at 6 steps via the
    engine's Bellman-Ford sssp. Oracle = capped recursive path
    enumeration over the same derived lattice."""
    from osm_hadoop_spark.operators.costdist import cost_distance
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    ev = _t(spark, sf_dir, "events").select(
        (h60(F.concat(F.lit("cdx"), s)) % _CD_G).alias("cx"),
        (h60(F.concat(F.lit("cdy"), s)) % _CD_G).alias("cy"),
    )
    cells = ev.groupBy("cx", "cy").agg(
        (F.lit(1) + F.count(F.lit(1)) % 9).alias("cost")
    )
    seeds = spark.createDataFrame(
        [(3, 4), (17, 9), (20, 21)], "cx long, cy long"
    )
    out = cost_distance(cells, seeds, max_rounds=_CD_ROUNDS)
    return out.select(
        "cx", "cy", F.col("dist2").cast("bigint").alias("dist2"), "src_id"
    )


_ORACLE_COST_DISTANCE = f"""
WITH RECURSIVE
ev AS (SELECT {_duck_h60("'cdx' || CAST(event_id AS VARCHAR)")} % {_CD_G} AS cx,
              {_duck_h60("'cdy' || CAST(event_id AS VARCHAR)")} % {_CD_G} AS cy
       FROM events),
cells AS (SELECT cx, cy, 1 + COUNT(*) % 9 AS cost FROM ev GROUP BY cx, cy),
k AS (SELECT cx, cy, cost, cx * 1048576 + cy AS u FROM cells),
edges AS (
  SELECT a.u, b.u AS v, a.cost + b.cost AS w
  FROM k a JOIN k b ON b.cx = a.cx + 1 AND b.cy = a.cy
  UNION ALL
  SELECT a.u, b.u, a.cost + b.cost
  FROM k a JOIN k b ON b.cx = a.cx AND b.cy = a.cy + 1),
sym AS (SELECT u, v, w FROM edges UNION SELECT v AS u, u AS v, w FROM edges),
seeds AS (SELECT u FROM k JOIN (VALUES (3, 4), (17, 9), (20, 21)) s(cx, cy)
          USING (cx, cy)),
reach(node, src_id, dist, hops) AS (
  SELECT u, u, CAST(0 AS BIGINT), 0 FROM seeds
  UNION
  SELECT s.v, r.src_id, r.dist + s.w, r.hops + 1
  FROM reach r JOIN sym s ON r.node = s.u
  WHERE r.hops < {_CD_ROUNDS}),
best AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
SELECT CAST(b.node // 1048576 AS BIGINT) AS cx,
       CAST(b.node % 1048576 AS BIGINT) AS cy,
       b.dist AS dist2, MIN(r.src_id) AS src_id
FROM best b JOIN reach r ON r.node = b.node AND r.dist = b.dist
GROUP BY b.node, b.dist
"""


_ORACLE_GRAPH_SSSP = f"""
WITH RECURSIVE
pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {_duck_h60("'rg' || u || '_' || k")} % 4 <> 0),
edges AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper
    UNION ALL
    SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
sym AS (
  SELECT u, v FROM edges WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM edges WHERE u <> v),
wsym AS (
  SELECT u, v,
         1 + {_duck_h60("'sw' || least(u, v) || '_' || greatest(u, v)")} % 9 AS w
  FROM sym),
reach(node, src_id, dist, hops) AS (
  SELECT u, u, CAST(0 AS BIGINT), 0 FROM pk WHERE u % 127 = 1
  UNION
  SELECT s.v, r.src_id, r.dist + s.w, r.hops + 1
  FROM reach r JOIN wsym s ON r.node = s.u
  WHERE r.hops < {_SSSP_HOPS}),
best AS (SELECT node, min(dist) AS dist FROM reach GROUP BY node)
SELECT b.node, b.dist, min(r.src_id) AS src_id
FROM best b JOIN reach r ON r.node = b.node AND r.dist = b.dist
GROUP BY b.node, b.dist
"""


# --- polyline chain merging (operators/linemerge.py) ------------------------
# JTS LineMerger / osm2pgsql way-joining semantics: ways merge wherever
# EXACTLY two way endpoints meet; junctions (degree 1 or 3+) terminate
# chains. Engine = degree filter + incidence self-join + the shared
# large/small-star CC; oracle = recursive-CTE min-label closure over the
# same mergeable pairs (the dissolve precedent) — independent labeling
# mechanism, identical chains.
_LM_SAMPLE = 3


def _q_merge_chains(spark, sf_dir):
    from osm_hadoop_spark.operators.linemerge import merge_chains
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("o_orderkey").cast("string")

    def hh(tag):
        return h60(F.concat(F.lit(tag), s))

    base = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % _LM_SAMPLE == 0
    )
    # node space = way count, so average endpoint degree is 2 at EVERY
    # scale factor (a fixed modulus merges nothing once ways >> nodes)
    m = base.groupBy().agg(F.count(F.lit(1)).alias("_m"))
    ways = base.crossJoin(F.broadcast(m)).select(
        F.col("o_orderkey").alias("way_id"),
        (hh("wna") % F.col("_m")).alias("na"),
        (hh("wnb") % F.col("_m")).alias("nb"),
        (hh("wle") % 500 + 1).alias("len"),
    )
    return merge_chains(ways)


def _oracle_merge_chains() -> str:
    def ho(tag):
        return _duck_h60(f"'{tag}' || CAST(o_orderkey AS VARCHAR)")

    return f"""
WITH RECURSIVE
base AS (SELECT * FROM orders WHERE o_orderkey % {_LM_SAMPLE} = 0),
ways AS (
  SELECT o_orderkey AS w,
         {ho("wna")} % (SELECT count(*) FROM base) AS na,
         {ho("wnb")} % (SELECT count(*) FROM base) AS nb,
         {ho("wle")} % 500 + 1 AS len
  FROM base),
inc AS (
  SELECT w, na AS node FROM ways UNION ALL SELECT w, nb AS node FROM ways),
deg2 AS (SELECT node FROM inc GROUP BY node HAVING count(*) = 2),
pairs AS (
  SELECT a.w AS wa, b.w AS wb
  FROM inc a JOIN inc b ON a.node = b.node AND a.w < b.w
  WHERE a.node IN (SELECT node FROM deg2)),
sym AS (SELECT wa AS u, wb AS v FROM pairs
        UNION SELECT wb AS u, wa AS v FROM pairs),
reach(w, r) AS (
  SELECT w, w FROM ways
  UNION
  SELECT s.v, r.r FROM reach r JOIN sym s ON s.u = r.w),
comp AS (SELECT w, MIN(r) AS chain_id FROM reach GROUP BY w)
SELECT c.chain_id, CAST(count(*) AS BIGINT) AS n_ways,
       CAST(sum(y.len) AS BIGINT) AS total_len
FROM comp c JOIN ways y ON y.w = c.w
GROUP BY c.chain_id"""


# --- exact balanced range partitioning (operators/ranges.py) ----------------
# Layout-planning machinery: every row's true global rank in key order
# WITHOUT a global sort — per-key counts, a coarse-bucket prefix sum
# (the only ordered global window, over the bounded subtotal relation),
# partitioned cumsums below it. Oracle is the naive single-window
# row_number — opposite mechanism, identical buckets. Bucket aggregates
# are invariant to intra-key order (the rank multiset per key is fixed).
_BRB_B, _BRB_MOD, _BRB_COARSE = 32, 5000, 256


def _q_balanced_ranges(spark, sf_dir):
    from osm_hadoop_spark.operators.ranges import balanced_range_buckets
    from osm_hadoop_spark.operators.textstats import h60

    rows = _t(spark, sf_dir, "events").select(
        (
            h60(F.concat(F.lit("brk"), F.col("event_id").cast("string")))
            % _BRB_MOD
        ).alias("k")
    )
    return balanced_range_buckets(rows, _BRB_B, coarse_div=_BRB_COARSE)


_ORACLE_BALANCED_RANGES = f"""
WITH r AS (
  SELECT {_duck_h60("'brk' || CAST(event_id AS VARCHAR)")} % {_BRB_MOD} AS k
  FROM events),
ranked AS (
  SELECT k, row_number() OVER (ORDER BY k) - 1 AS rnk,
         count(*) OVER () AS n
  FROM r)
SELECT CAST((rnk * {_BRB_B}) // n AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows, MIN(k) AS lo, MAX(k) AS hi
FROM ranked GROUP BY 1"""


# --- temporal earliest arrival (operators/routing.py) -----------------------
# Time-respecting reachability over a contact network derived from
# events: a contact (u, v, t) carries flow only if t >= the arrival time
# at u, so paths with a time inversion are BLOCKED — the property static
# BFS gets wrong (pinned in tests/test_routing.py). Bounded-round
# Bellman-Ford shape with a time gate on the join; oracle unrolls the
# identical min-merge recurrence round by round.
_TEA_N, _TEA_T, _TEA_ROUNDS = 4000, 1000, 4


def _tea_edges_spark(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")

    def hmod(tag, m):
        return h60(F.concat(F.lit(tag), s)) % m

    return _t(spark, sf_dir, "events").select(
        hmod("tgu", _TEA_N).alias("u"),
        hmod("tgv", _TEA_N).alias("v"),
        (hmod("tgt", _TEA_T) + 1).alias("t"),
    )


def _q_temporal_ea(spark, sf_dir):
    from osm_hadoop_spark.operators.routing import temporal_earliest_arrival

    edges = _tea_edges_spark(spark, sf_dir)
    sources = (
        edges.select("u").distinct().filter(F.col("u") % 101 == 5)
        .select(F.col("u").alias("node"))
    )
    return temporal_earliest_arrival(edges, sources, rounds=_TEA_ROUNDS)


def _oracle_temporal_ea() -> str:
    def he(tag):
        return _duck_h60(f"'{tag}' || CAST(event_id AS VARCHAR)")

    cte = f"""
WITH edges AS (
  SELECT {he("tgu")} % {_TEA_N} AS u,
         {he("tgv")} % {_TEA_N} AS v,
         {he("tgt")} % {_TEA_T} + 1 AS t
  FROM events),
ea0 AS (
  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS ea
  FROM edges WHERE u % 101 = 5)"""
    for r in range(1, _TEA_ROUNDS + 1):
        cte += f""",
x{r} AS (
  SELECT e.v AS node, CAST(MIN(e.t) AS BIGINT) AS ea
  FROM ea{r - 1} a JOIN edges e ON e.u = a.node AND e.t >= a.ea
  GROUP BY e.v),
ea{r} AS (
  SELECT node, CAST(MIN(ea) AS BIGINT) AS ea FROM (
    SELECT * FROM ea{r - 1} UNION ALL SELECT * FROM x{r})
  GROUP BY node)"""
    return cte + f"\nSELECT node, ea FROM ea{_TEA_ROUNDS}"


# --- snap points to nearest segment (operators/snap.py) --------------------
# R2: map-matching primitive — nearest road segment within r=50 per probe
# point, exact fixed-point (2^-20-quantized) squared distance, ties by
# segment id. Grid filter-and-refine in the engine; the oracle is the
# full O(n^2) cross join with the same integer math reduced by a window
# row_number — independent candidate generation AND reduction mechanism.
_SNAP_R = 50


def _q_snap_points(spark, sf_dir):
    from osm_hadoop_spark.operators.snap import snap_points
    from osm_hadoop_spark.operators.textstats import h60

    def hmod(tag, key, m):
        return h60(F.concat(F.lit(tag), key.cast("string"))) % m

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        hmod("qx", F.col("event_id"), 1000).alias("x"),
        hmod("qy", F.col("event_id"), 1000).alias("y"),
    )
    pk = _t(spark, sf_dir, "part")
    segs = pk.select(
        F.col("p_partkey").alias("seg_id"),
        hmod("sax", F.col("p_partkey"), 1000).alias("ax"),
        hmod("say", F.col("p_partkey"), 1000).alias("ay"),
        (
            hmod("sax", F.col("p_partkey"), 1000)
            + hmod("sbx", F.col("p_partkey"), 201)
            - 100
        ).alias("bx"),
        (
            hmod("say", F.col("p_partkey"), 1000)
            + hmod("sby", F.col("p_partkey"), 201)
            - 100
        ).alias("by"),
    )
    return snap_points(pts, segs, radius=_SNAP_R)


_ORACLE_SNAP = f"""
WITH pts AS (
  SELECT event_id AS point_id,
         {_duck_h60("'qx' || event_id")} % 1000 AS x,
         {_duck_h60("'qy' || event_id")} % 1000 AS y
  FROM events WHERE event_id % 5 = 0),
segs AS (
  SELECT p_partkey AS seg_id,
         {_duck_h60("'sax' || p_partkey")} % 1000 AS ax,
         {_duck_h60("'say' || p_partkey")} % 1000 AS ay,
         {_duck_h60("'sax' || p_partkey")} % 1000
           + {_duck_h60("'sbx' || p_partkey")} % 201 - 100 AS bx,
         {_duck_h60("'say' || p_partkey")} % 1000
           + {_duck_h60("'sby' || p_partkey")} % 201 - 100 AS by
  FROM part),
cand AS (
  SELECT p.point_id, s.seg_id,
    (p.x-s.ax)*(s.bx-s.ax) + (p.y-s.ay)*(s.by-s.ay) AS dt,
    (s.bx-s.ax)*(s.bx-s.ax) + (s.by-s.ay)*(s.by-s.ay) AS len2,
    (p.x-s.ax)*(s.by-s.ay) - (p.y-s.ay)*(s.bx-s.ax) AS cr,
    (p.x-s.ax)*(p.x-s.ax) + (p.y-s.ay)*(p.y-s.ay) AS ap2,
    (p.x-s.bx)*(p.x-s.bx) + (p.y-s.by)*(p.y-s.by) AS bp2
  FROM pts p, segs s),
scored AS (
  SELECT point_id, seg_id,
    CASE WHEN dt <= 0 THEN ap2 * 1048576
         WHEN dt >= len2 THEN bp2 * 1048576
         ELSE (cr * cr * 1048576) // len2 END AS d2q
  FROM cand
  WHERE CASE WHEN dt <= 0 THEN ap2 <= {_SNAP_R**2}
             WHEN dt >= len2 THEN bp2 <= {_SNAP_R**2}
             ELSE cr * cr <= {_SNAP_R**2} * len2 END)
SELECT point_id, seg_id, d2q FROM (
  SELECT point_id, seg_id, d2q,
         row_number() OVER (PARTITION BY point_id ORDER BY d2q, seg_id) AS rn
  FROM scored) WHERE rn = 1
"""


# --- Viterbi map matching (operators/viterbi.py) ----------------------------
# Sequential decode on top of snap's candidate stage: per-trip GPS walks
# (cumsum of hash steps around (500,500)) matched onto the SAME
# part-derived segment field snap_points_r50 uses; emission = exact
# quantized point-to-segment distance, transition = switch penalty, DP
# collapsed to best-or-stay (provably lossless — see operator docstring)
# so each step is one aggregate + one slim equi-join, never K x K. The
# oracle unrolls the identical recursion step by step; tests/test_viterbi
# anchors it against the UNcollapsed quadratic transition product.
_VIT_T, _VIT_PEN, _VIT_INF = 5, 30 << 20, 1 << 50


def _q_viterbi(spark, sf_dir):
    from pyspark.sql import Window

    from osm_hadoop_spark.operators.textstats import h60
    from osm_hadoop_spark.operators.viterbi import viterbi_map_match

    s = F.col("event_id").cast("string")

    def hmod(tag, key, m):
        return h60(F.concat(F.lit(tag), key.cast("string"))) % m

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    walk = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("trip_id"),
            F.row_number().over(w).alias("k"),
            (
                F.lit(500)
                + F.sum(h60(F.concat(F.lit("vwx"), s)) % 31 - 15).over(w)
            ).alias("x"),
            (
                F.lit(500)
                + F.sum(h60(F.concat(F.lit("vwy"), s)) % 31 - 15).over(w)
            ).alias("y"),
        )
        .filter(F.col("k") <= _VIT_T)
    )
    pk = _t(spark, sf_dir, "part")
    segs = pk.select(
        F.col("p_partkey").alias("seg_id"),
        hmod("sax", F.col("p_partkey"), 1000).alias("ax"),
        hmod("say", F.col("p_partkey"), 1000).alias("ay"),
        (
            hmod("sax", F.col("p_partkey"), 1000)
            + hmod("sbx", F.col("p_partkey"), 201)
            - 100
        ).alias("bx"),
        (
            hmod("say", F.col("p_partkey"), 1000)
            + hmod("sby", F.col("p_partkey"), 201)
            - 100
        ).alias("by"),
    )
    return viterbi_map_match(
        walk, segs, radius=_SNAP_R, penalty=_VIT_PEN, steps=_VIT_T
    )


def _oracle_viterbi() -> str:
    steps = []
    for t in range(2, _VIT_T + 1):
        steps.append(f"""
s{t} AS (
  SELECT c.trip_id, c.seg_id,
         c.d2q + least(COALESCE(p.score, {_VIT_INF}), b.best + {_VIT_PEN})
           AS score
  FROM (SELECT * FROM cand WHERE k = {t}) c
  JOIN (SELECT trip_id, MIN(score) AS best FROM s{t - 1} GROUP BY trip_id) b
    ON b.trip_id = c.trip_id
  LEFT JOIN s{t - 1} p ON p.trip_id = c.trip_id AND p.seg_id = c.seg_id)""")
    union = "\nUNION ALL\n".join(
        f"SELECT trip_id, CAST({t} AS BIGINT) AS k, seg_id, score FROM s{t}"
        for t in range(1, _VIT_T + 1)
    )
    return f"""
WITH w0 AS (
  SELECT user_id AS trip_id, event_id, ts,
         {_duck_h60("'vwx' || CAST(event_id AS VARCHAR)")} % 31 - 15 AS sx,
         {_duck_h60("'vwy' || CAST(event_id AS VARCHAR)")} % 31 - 15 AS sy
  FROM events),
pos AS (
  SELECT trip_id, row_number() OVER w AS k,
         500 + CAST(sum(sx) OVER w AS BIGINT) AS x,
         500 + CAST(sum(sy) OVER w AS BIGINT) AS y
  FROM w0
  WINDOW w AS (PARTITION BY trip_id ORDER BY ts, event_id)),
pts AS (SELECT * FROM pos WHERE k <= {_VIT_T}),
segs AS (
  SELECT p_partkey AS seg_id,
         {_duck_h60("'sax' || p_partkey")} % 1000 AS ax,
         {_duck_h60("'say' || p_partkey")} % 1000 AS ay,
         {_duck_h60("'sax' || p_partkey")} % 1000
           + {_duck_h60("'sbx' || p_partkey")} % 201 - 100 AS bx,
         {_duck_h60("'say' || p_partkey")} % 1000
           + {_duck_h60("'sby' || p_partkey")} % 201 - 100 AS by
  FROM part),
raw AS (
  SELECT p.trip_id, p.k, s.seg_id,
    (p.x-s.ax)*(s.bx-s.ax) + (p.y-s.ay)*(s.by-s.ay) AS dt,
    (s.bx-s.ax)*(s.bx-s.ax) + (s.by-s.ay)*(s.by-s.ay) AS len2,
    (p.x-s.ax)*(s.by-s.ay) - (p.y-s.ay)*(s.bx-s.ax) AS cr,
    (p.x-s.ax)*(p.x-s.ax) + (p.y-s.ay)*(p.y-s.ay) AS ap2,
    (p.x-s.bx)*(p.x-s.bx) + (p.y-s.by)*(p.y-s.by) AS bp2
  FROM pts p, segs s),
cand0 AS (
  SELECT trip_id, k, seg_id,
    CASE WHEN dt <= 0 THEN ap2 * 1048576
         WHEN dt >= len2 THEN bp2 * 1048576
         ELSE (cr * cr * 1048576) // len2 END AS d2q
  FROM raw
  WHERE CASE WHEN dt <= 0 THEN ap2 <= {_SNAP_R**2}
             WHEN dt >= len2 THEN bp2 <= {_SNAP_R**2}
             ELSE cr * cr <= {_SNAP_R**2} * len2 END),
full_trips AS (
  SELECT trip_id FROM (SELECT DISTINCT trip_id, k FROM cand0)
  GROUP BY trip_id HAVING count(*) = {_VIT_T}),
cand AS (
  SELECT c.* FROM cand0 c JOIN full_trips f ON c.trip_id = f.trip_id),
s1 AS (SELECT trip_id, seg_id, d2q AS score FROM cand WHERE k = 1),
{','.join(steps)}
{union}"""


# --- PassJoin edit-distance self-join (operators/fuzzyjoin.py) --------------
# Record-linkage candidate blocking with COMPLETE recall: the oracle is
# the blocking-free quadratic levenshtein join, so a green row proves the
# pigeonhole segment scheme loses no pair. Strings are a two-word +
# numeric-suffix derivation over part — suffix-only variants are
# guaranteed near-dups, and word pairs like amber/umber add cross-class
# edits. Both engines' levenshtein are pinned equal in pytest.
_FUZZ_W1 = [
    "crimson", "amber", "cobalt", "jade", "ivory", "slate", "coral",
    "bronze", "maroon", "teal", "ochre", "pearl", "onyx", "copper",
    "silver", "indigo", "scarlet", "umber", "azure", "sable", "fawn",
    "rust", "plum", "mint", "sienna", "ebony", "lilac", "olive",
    "sepia", "topaz", "garnet", "beryl", "flint", "ashen", "sand",
    "moss", "dusk", "fern", "iron", "gold",
]
_FUZZ_W2 = [
    "widget", "flange", "bracket", "rotor", "gasket", "spindle",
    "bearing", "sprocket", "valve", "piston", "lever", "cam", "shaft",
    "pulley", "hinge", "bolt", "washer", "clamp", "socket", "spring",
    "gear", "axle", "crank", "strut",
]


def _q_fuzzy_join(spark, sf_dir):
    from osm_hadoop_spark.operators.fuzzyjoin import edit_distance_selfjoin
    from osm_hadoop_spark.operators.textstats import h60

    key = F.col("p_partkey").cast("string")

    def pick(words, tag):
        return F.element_at(
            F.array(*[F.lit(w) for w in words]),
            (h60(F.concat(F.lit(tag), key)) % len(words) + 1).cast("int"),
        )

    strings = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("sid"),
        F.concat(
            pick(_FUZZ_W1, "fa"),
            F.lit(" "),
            pick(_FUZZ_W2, "fb"),
            F.lit(" "),
            (h60(F.concat(F.lit("fc"), key)) % 1000).cast("string"),
        ).alias("s"),
    )
    return edit_distance_selfjoin(strings, k=1)


def _oracle_fuzzy_join() -> str:
    def hp(tag):
        return _duck_h60(f"'{tag}' || CAST(p_partkey AS VARCHAR)")

    w1 = "[" + ", ".join(f"'{w}'" for w in _FUZZ_W1) + "]"
    w2 = "[" + ", ".join(f"'{w}'" for w in _FUZZ_W2) + "]"
    return f"""
WITH s0 AS (
  SELECT p_partkey AS sid,
         list_extract({w1}, CAST({hp("fa")} % {len(_FUZZ_W1)} + 1 AS INT))
           || ' ' ||
         list_extract({w2}, CAST({hp("fb")} % {len(_FUZZ_W2)} + 1 AS INT))
           || ' ' || CAST({hp("fc")} % 1000 AS VARCHAR) AS s
  FROM part)
SELECT a.sid AS a_id, b.sid AS b_id,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM s0 a JOIN s0 b
  ON a.sid < b.sid AND abs(length(a.s) - length(b.s)) <= 1
WHERE levenshtein(a.s, b.s) <= 1"""


# --- triangle enumeration (operators/triangles.py) -------------------------
# R4: the degree-ordered triangle join over a derived graph: nodes =
# p_partkey, edges = hash-gated pairs within 32-node id blocks (dense
# enough for real triangle counts, block-bounded so the oracle's 3-way
# join stays tractable). Engine = degree orientation + wedge self-join +
# closing semi-join (sum(out_deg^2) <= m^1.5 regardless of skew); oracle
# = the textbook 3-way equi-join on the canonical edge list — a
# different enumeration mechanism, identical (x, y, z) set.
def _tri_edges(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("u"), F.expr("p_partkey div 32").alias("blk")
    )
    gate = h60(
        F.concat(
            F.lit("tg"),
            F.col("u").cast("string"),
            F.lit("_"),
            F.col("v").cast("string"),
        )
    )
    return (
        pk.join(
            pk.select(F.col("u").alias("v"), F.col("blk")), "blk"
        )
        .filter(F.col("u") < F.col("v"))
        .filter(gate % 7 < 2)
        .select("u", "v")
    )


def _q_triangles(spark, sf_dir):
    from osm_hadoop_spark.operators.triangles import triangles

    return triangles(_tri_edges(spark, sf_dir))


def _q_clustering_coeff(spark, sf_dir):
    from osm_hadoop_spark.operators.triangles import clustering_coefficients

    return clustering_coefficients(_tri_edges(spark, sf_dir))


_ORACLE_TRIANGLES = f"""
WITH pk AS (SELECT p_partkey AS u, p_partkey // 32 AS blk FROM part),
e AS (
  SELECT a.u AS u, b.u AS v
  FROM pk a JOIN pk b ON a.blk = b.blk AND a.u < b.u
  WHERE {_duck_h60("'tg' || a.u || '_' || b.u")} % 7 < 2)
SELECT e1.u AS x, e1.v AS y, e2.v AS z
FROM e e1
JOIN e e2 ON e2.u = e1.v
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
"""


_ORACLE_CLUSTERING = f"""
WITH pk AS (SELECT p_partkey AS u, p_partkey // 32 AS blk FROM part),
e AS (
  SELECT a.u AS u, b.u AS v
  FROM pk a JOIN pk b ON a.blk = b.blk AND a.u < b.u
  WHERE {_duck_h60("'tg' || a.u || '_' || b.u")} % 7 < 2),
deg AS (
  SELECT u, count(*) AS deg
  FROM (SELECT u FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
tn AS (
  SELECT u, count(*) AS tri
  FROM (SELECT x AS u FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY 1)
SELECT d.u, CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(tn.tri, 0) AS BIGINT) AS tri,
       CAST(coalesce(tn.tri, 0) * 2 * 1024 // (d.deg * (d.deg - 1))
            AS BIGINT) AS cc_q
FROM deg d LEFT JOIN tn USING (u) WHERE d.deg >= 2
"""


# --- focal raster statistics (operators/focal.py) ---------------------------
# R3: map algebra — 3x3 focal sum/count/max/mean at every data cell of
# the sparse count raster (nodata excluded), mean as fixed-point integer
# DIV. Engine = offset-explode + hash agg + semi-join (picked by kernel
# width: direct at k=1, separable two-pass for wider kernels — measured in
# operators/focal.py); oracle = a 2-D neighborhood self-JOIN — different
# evaluation mechanism, bit-identical integers.
def _q_focal_stats(spark, sf_dir):
    from osm_hadoop_spark.operators.focal import focal_stats

    cnt = (
        _dbscan_points(spark, sf_dir)
        .groupBy(
            F.floor(F.col("x").cast("double") / _KDE_CELL).cast("bigint").alias("cx"),
            F.floor(F.col("y").cast("double") / _KDE_CELL).cast("bigint").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return focal_stats(cnt, k=1)


_ORACLE_FOCAL = f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
cnt AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cy,
         count(*) AS n
  FROM pts GROUP BY 1, 2),
nb AS (
  SELECT a.cx, a.cy, CAST(sum(b.n) AS BIGINT) AS fsum, count(*) AS fn,
         CAST(max(b.n) AS BIGINT) AS fmax
  FROM cnt a JOIN cnt b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
  GROUP BY a.cx, a.cy)
SELECT cx, cy, fsum, fn, fmax, (fsum * 1024) // fn AS fmean_q FROM nb
"""


# --- Sobel gradient / slope magnitude (operators/focal.py) -----------------
# A9b: terrain-style map algebra — the Sobel gradient pair over the
# sparse count grid as ONE multi-kernel convolution pass (true
# convolution, mirrored taps — the convention is pinned in
# operators/focal.py and tests). Engine = scatter (explode taps, shifted
# hash agg); oracle = gather (center LEFT JOIN mirrored neighbor per
# tap) — opposite evaluation directions, identical integers. g2 is the
# squared gradient magnitude (slope proxy), integer-exact.
def _q_gradient(spark, sf_dir):
    from osm_hadoop_spark.operators.focal import focal_convolve

    cnt = (
        _dbscan_points(spark, sf_dir)
        .groupBy(
            F.floor(F.col("x").cast("double") / _KDE_CELL).cast("bigint").alias("cx"),
            F.floor(F.col("y").cast("double") / _KDE_CELL).cast("bigint").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    g = focal_convolve(cnt, SOBEL)
    return g.select(
        "cx",
        "cy",
        "gx",
        "gy",
        (F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")).alias("g2"),
    )


def _sobel_tap_values() -> str:
    taps: dict[tuple[int, int], list[int]] = {}
    for i, name in enumerate(("gx", "gy")):
        for dx, dy, w in SOBEL[name]:
            taps.setdefault((dx, dy), [0, 0])[i] += w
    return ", ".join(
        f"({dx}, {dy}, {wx}, {wy})"
        for (dx, dy), (wx, wy) in sorted(taps.items())
    )


def _q_affine_warp(spark, sf_dir):
    """Nearest-neighbor affine warp (operators/warp.py) of the shared KDE
    count lattice: a 5-12-13 rotation-flavored fixed-point transform
    (den 16) gathered over a 96x64 target window — one computed-key
    equi-join, floor division exact on the negative numerators."""
    from osm_hadoop_spark.operators.warp import affine_warp_nearest

    cnt = (
        _dbscan_points(spark, sf_dir)
        .groupBy(
            F.floor(F.col("x").cast("double") / _KDE_CELL).cast("bigint").alias("cx"),
            F.floor(F.col("y").cast("double") / _KDE_CELL).cast("bigint").alias("cy"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    return affine_warp_nearest(
        cnt, (12, -5, 40, 5, 12, -64), den=16, bbox=(0, 95, 0, 63)
    )


_ORACLE_AFFINE_WARP = f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
cnt AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cy,
         CAST(count(*) AS BIGINT) AS v
  FROM pts GROUP BY 1, 2),
tgt AS (
  SELECT x.tx, y.ty,
         (12 * x.tx - 5 * y.ty + 40) AS nx,
         (5 * x.tx + 12 * y.ty - 64) AS ny
  FROM UNNEST(generate_series(0, 95)) AS x(tx),
       UNNEST(generate_series(0, 63)) AS y(ty)),
m AS (
  SELECT tx, ty,
         (nx - ((nx % 16 + 16) % 16)) // 16 AS cx,
         (ny - ((ny % 16 + 16) % 16)) // 16 AS cy
  FROM tgt)
SELECT m.tx, m.ty, CAST(coalesce(c.v, 0) AS BIGINT) AS v
FROM m LEFT JOIN cnt c ON c.cx = m.cx AND c.cy = m.cy
"""


_ORACLE_GRADIENT = f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
cnt AS (
  SELECT CAST(floor(CAST(x AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cx,
         CAST(floor(CAST(y AS DOUBLE) / {_KDE_CELL}) AS BIGINT) AS cy,
         count(*) AS n
  FROM pts GROUP BY 1, 2),
taps(dx, dy, wx, wy) AS (VALUES {_sobel_tap_values()}),
g AS (
  SELECT a.cx, a.cy,
         CAST(coalesce(sum(t.wx * b.n), 0) AS BIGINT) AS gx,
         CAST(coalesce(sum(t.wy * b.n), 0) AS BIGINT) AS gy
  FROM cnt a
  CROSS JOIN taps t
  LEFT JOIN cnt b ON b.cx = a.cx - t.dx AND b.cy = a.cy - t.dy
  GROUP BY a.cx, a.cy)
SELECT cx, cy, gx, gy, gx * gx + gy * gy AS g2 FROM g
"""


# --- segment orientation histogram -------------------------------------------
# E-family addition (street-orientation analysis a la Boeing 2019): the
# 8-sector compass histogram of each way's segment directions, computed
# WITHOUT trig — sector k = [45k, 45(k+1)) degrees decided purely by
# integer sign/magnitude comparisons of (dx, dy), so the classification
# is exact (diagonals land in the upper sector deterministically, e.g.
# (1,1)=45deg -> sector 1). Zero-length segments (duplicate consecutive
# nodes) are excluded. The same ladder runs in both engines (precedent:
# the Bresenham closed form is replicated in SQL too); independence
# comes from the pytest brute force, which classifies via math.atan2.
def _octant_case(dx: str, dy: str) -> str:
    ax, ay = f"abs({dx})", f"abs({dy})"
    return f"""CASE
  WHEN {dx} > 0 AND {dy} >= 0 AND {ax} > {ay} THEN 0
  WHEN {dy} > 0 AND {dx} > 0 AND {ay} >= {ax} THEN 1
  WHEN {dy} > 0 AND {dx} <= 0 AND {ay} > {ax} THEN 2
  WHEN {dx} < 0 AND {dy} > 0 AND {ax} >= {ay} THEN 3
  WHEN {dx} < 0 AND {dy} <= 0 AND {ax} > {ay} THEN 4
  WHEN {dy} < 0 AND {dx} < 0 AND {ay} >= {ax} THEN 5
  WHEN {dy} < 0 AND {dx} >= 0 AND {ay} > {ax} THEN 6
  ELSE 7 END"""


def _q_segment_orientation(spark, sf_dir):
    wg = _ways_geom(spark, sf_dir)
    seg = wg.select(
        "way_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(xs) - 2), i -> "
                "struct(bigint(xs[i + 1]) - bigint(xs[i]) AS dx, "
                "       bigint(ys[i + 1]) - bigint(ys[i]) AS dy))"
            )
        ).alias("s"),
    ).select("way_id", F.col("s.dx").alias("dx"), F.col("s.dy").alias("dy"))
    return (
        seg.filter((F.col("dx") != 0) | (F.col("dy") != 0))
        .select("way_id", F.expr(_octant_case("dx", "dy")).alias("octant"))
        .groupBy("way_id", "octant")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("way_id", F.col("octant").cast("bigint"), "n")
    )


_ORACLE_ORIENTATION = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
w AS (SELECT o_orderkey AS way_id FROM orders),
j AS (SELECT wn.way_id, wn.ordinal, n.lon, n.lat
      FROM wn JOIN nodes n USING (node_id) JOIN w ON wn.way_id = w.way_id),
arr AS (
  SELECT way_id,
         list(lon ORDER BY ordinal, lon, lat) AS xs,
         list(lat ORDER BY ordinal, lon, lat) AS ys,
         count(*) AS np
  FROM j GROUP BY way_id HAVING count(*) > 1),
seg AS (
  SELECT way_id,
         CAST(xs[i + 1] AS BIGINT) - CAST(xs[i] AS BIGINT) AS dx,
         CAST(ys[i + 1] AS BIGINT) - CAST(ys[i] AS BIGINT) AS dy
  FROM arr, unnest(generate_series(1, CAST(np - 1 AS BIGINT))) t(i))
SELECT way_id,
       CAST({_octant_case('dx', 'dy')} AS BIGINT) AS octant,
       CAST(count(*) AS BIGINT) AS n
FROM seg WHERE dx <> 0 OR dy <> 0
GROUP BY 1, 2
"""


# --- hexagonal binning (functions/hexgrid.py) --------------------------------
# E11-family addition (the H3 side of the north rule, from scratch like
# the S2 family): nearest-offset-lattice-center hex cell per point, then
# density per cell. Engine = ONE projection (4-candidate inline struct
# array + array_min, proof of sufficiency in the module docstring) + one
# hash agg; oracle = a 5x5 WIDE candidate scan with row_number argmin —
# a superset search that also re-proves the 4-candidate bound on the
# driver data.
def _q_hex_density(spark, sf_dir):
    from osm_hadoop_spark.functions.hexgrid import hex_cell_cols

    pts = _dbscan_points(spark, sf_dir)
    c = hex_cell_cols(F.col("x"), F.col("y"))
    return (
        pts.select(c["hr"].alias("hr"), c["hc"].alias("hc"))
        .groupBy("hr", "hc")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _duck_hex_cnt_cte() -> str:
    """Shared hex-assignment CTE: per-cell point counts via the 5x5
    wide-scan argmin (ends with a `cnt(hr, hc, n)` relation)."""
    from osm_hadoop_spark.functions.hexgrid import HEX_SX, HEX_SY

    sx, sy, half = HEX_SX, HEX_SY, HEX_SX // 2
    return f"""
WITH pts AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
cand AS (
  SELECT p.id,
         CAST(floor(CAST(p.y AS DOUBLE) / {sy}) AS BIGINT) + dr.d AS r,
         CAST(floor(CAST(p.x - (CASE WHEN (CAST(floor(CAST(p.y AS DOUBLE) / {sy}) AS BIGINT) + dr.d) % 2 <> 0
                                     THEN {half} ELSE 0 END) AS DOUBLE) / {sx}) AS BIGINT) + dc.d AS c,
         p.x, p.y
  FROM pts p, range(-2, 3) dr(d), range(-2, 3) dc(d)),
scored AS (
  SELECT id, r, c,
         (x - (c * {sx} + CASE WHEN r % 2 <> 0 THEN {half} ELSE 0 END))
       * (x - (c * {sx} + CASE WHEN r % 2 <> 0 THEN {half} ELSE 0 END))
       + (y - r * {sy}) * (y - r * {sy}) AS d2
  FROM cand),
best AS (
  SELECT id, r, c,
         row_number() OVER (PARTITION BY id ORDER BY d2, r, c) AS rn
  FROM scored),
cnt AS (
  SELECT r AS hr, c AS hc, CAST(count(*) AS BIGINT) AS n
  FROM best WHERE rn = 1 GROUP BY r, c)
"""


def _oracle_hex() -> str:
    return _duck_hex_cnt_cte() + "SELECT hr, hc, n FROM cnt"


def _oracle_hex_smooth() -> str:
    # gather form of the ring-1 smoothing: occupied cells self-joined on
    # the parity-aware adjacency PREDICATE (the engine scatters through
    # an explicit neighbor array instead)
    return _duck_hex_cnt_cte() + """
SELECT a.hr, a.hc,
       CAST(any_value(a.n) AS BIGINT) AS n,
       CAST(sum(b.n) AS BIGINT) AS sm
FROM cnt a JOIN cnt b ON (
     (b.hr = a.hr AND abs(b.hc - a.hc) <= 1)
  OR (abs(b.hr - a.hr) = 1
      AND b.hc - a.hc + (CASE WHEN a.hr % 2 <> 0 THEN 0 ELSE 1 END) IN (0, 1))
)
GROUP BY a.hr, a.hc
"""


def _q_hex_parent(spark, sf_dir):
    """Multiresolution hex rollup (functions/hexgrid.py::hex_parent_cols):
    fine-cell densities roll up to a 3x-coarser hex lattice — the
    H3-style pyramid for hexagons (quadkey pyramid = pyramid_counts).
    Parent = nearest coarse Voronoi center of the child's center; the
    oracle replays the child assignment AND the parent ladder as two
    stacked wide-scan argmins."""
    from osm_hadoop_spark.functions.hexgrid import hex_cell_cols, hex_parent_cols

    pts = _dbscan_points(spark, sf_dir)
    c = hex_cell_cols(F.col("x"), F.col("y"))
    cnt = (
        pts.select(c["hr"].alias("hr"), c["hc"].alias("hc"))
        .groupBy("hr", "hc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = hex_parent_cols(F.col("hr"), F.col("hc"), factor=3)
    return (
        cnt.select(p["hr"].alias("pr"), p["hc"].alias("pc"), "n")
        .groupBy("pr", "pc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("n").cast("bigint").alias("n_pts"),
        )
    )


def _oracle_hex_parent() -> str:
    from osm_hadoop_spark.functions.hexgrid import HEX_SX, HEX_SY

    sx, sy, half = HEX_SX * 3, HEX_SY * 3, (HEX_SX * 3) // 2
    return _duck_hex_cnt_cte() + f""",
ctr AS (
  SELECT hr, hc, n,
         hc * {HEX_SX} + (CASE WHEN hr % 2 <> 0 THEN {HEX_SX // 2} ELSE 0 END) AS x,
         hr * {HEX_SY} AS y
  FROM cnt),
pcand AS (
  SELECT c.hr, c.hc, c.n, c.x, c.y,
         CAST(floor(CAST(c.y AS DOUBLE) / {sy}) AS BIGINT) + dr.d AS r,
         CAST(floor(CAST(c.x - (CASE WHEN (CAST(floor(CAST(c.y AS DOUBLE) / {sy}) AS BIGINT) + dr.d) % 2 <> 0
                                     THEN {half} ELSE 0 END) AS DOUBLE) / {sx}) AS BIGINT) + dc.d AS pc0
  FROM ctr c, range(-2, 3) dr(d), range(-2, 3) dc(d)),
pscored AS (
  SELECT hr, hc, n, r, pc0,
         (x - (pc0 * {sx} + CASE WHEN r % 2 <> 0 THEN {half} ELSE 0 END))
       * (x - (pc0 * {sx} + CASE WHEN r % 2 <> 0 THEN {half} ELSE 0 END))
       + (y - r * {sy}) * (y - r * {sy}) AS d2
  FROM pcand),
pbest AS (
  SELECT hr, hc, n, r AS pr, pc0 AS pc,
         row_number() OVER (PARTITION BY hr, hc ORDER BY d2, r, pc0) AS rn
  FROM pscored)
SELECT pr, pc, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n) AS BIGINT) AS n_pts
FROM pbest WHERE rn = 1 GROUP BY pr, pc
"""


# ring-1 hex smoothing: scatter each occupied cell's count to its
# 7-cell neighborhood (functions/hexgrid.py::hex_neighbors), sum, and
# keep occupied cells — the hex analog of the focal/KDE family.
def _q_hex_smooth(spark, sf_dir):
    from osm_hadoop_spark.functions.hexgrid import hex_cell_cols, hex_neighbors

    pts = _dbscan_points(spark, sf_dir)
    c = hex_cell_cols(F.col("x"), F.col("y"))
    cnt = (
        pts.select(c["hr"].alias("hr"), c["hc"].alias("hc"))
        .groupBy("hr", "hc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # self count + ring-1 sum folded into ONE aggregate over the explode
    # (no cnt-join-halo: the join re-inlined both aggregate pipelines into
    # a single wholestage method big enough to fail janino compilation and
    # fall back to interpreted eval — found round 3; also one less
    # Exchange). Cells with no own count (halo-only) drop, preserving the
    # original inner-join semantics.
    ex = cnt.select(
        F.col("hr").alias("shr"), F.col("hc").alias("shc"), "n",
        F.explode(hex_neighbors(F.col("hr"), F.col("hc"))).alias("t"),
    )
    own = F.when(
        (F.col("t.hr") == F.col("shr")) & (F.col("t.hc") == F.col("shc")),
        F.col("n"),
    ).otherwise(F.lit(0))
    return (
        ex.groupBy(F.col("t.hr").alias("hr"), F.col("t.hc").alias("hc"))
        .agg(F.sum(own).alias("n0"), F.sum("n").alias("sm"))
        .filter(F.col("n0") > 0)
        .select("hr", "hc", F.col("n0").alias("n"), "sm")
    )


# --- Pareto skyline (operators/skyline.py) ----------------------------------
# Multi-criteria addition: the dominance frontier (minimize both axes)
# of a hashed cost/distance tradeoff cloud. Engine = the coarse-bucket
# two-level running-minimum (round-5 rewrite: per-bucket partitioned
# RANGE windows + one tiny bucket-rollup window — no full-relation
# single-partition window, plan-asserted); oracle = the NOT EXISTS
# dominance definition — a quadratic scan, a different algorithm
# entirely. coarse_bits=8 -> 40 buckets over the 0..10000 axis.
def _q_pareto_skyline(spark, sf_dir):
    from osm_hadoop_spark.operators.skyline import pareto_skyline
    from osm_hadoop_spark.operators.textstats import h60

    pk = F.col("p_partkey")
    s = pk.cast("string")
    pts = _t(spark, sf_dir, "part").select(
        pk.alias("id"),
        (h60(F.concat(F.lit("sx"), s)) % 10000).alias("x"),
        (h60(F.concat(F.lit("sy"), s)) % 10000).alias("y"),
    )
    return pareto_skyline(pts, coarse_bits=8)


_ORACLE_SKYLINE = f"""
WITH pts AS (
  SELECT p_partkey AS id,
         {_duck_h60("'sx' || CAST(p_partkey AS VARCHAR)")} % 10000 AS x,
         {_duck_h60("'sy' || CAST(p_partkey AS VARCHAR)")} % 10000 AS y
  FROM part)
SELECT id, x, y FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.id <> a.id AND b.x <= a.x AND b.y <= a.y
    AND (b.x < a.x OR b.y < a.y))
"""


# --- way diameter via hull reduction (operators/hull.py) --------------------
# E-family addition: squared diameter (farthest point pair) per way.
# Engine = convex hull FIRST, then an O(h^2) JVM max-pair over the tiny
# hull vertex set — the scale plan, since h << n and the diameter is
# attained at hull vertices; oracle = max over ALL point pairs with no
# hull anywhere. Their equality is itself the proof that the hull
# reduction is lossless.
def _q_way_diameter(spark, sf_dir):
    from osm_hadoop_spark.operators.hull import convex_hull

    hv = convex_hull(_ways_geom(spark, sf_dir))
    arr = hv.groupBy("way_id").agg(
        F.collect_list(F.struct("hx", "hy")).alias("a")
    )
    d2 = lambda p, q: (p["hx"] - q["hx"]) * (p["hx"] - q["hx"]) + (  # noqa: E731
        p["hy"] - q["hy"]
    ) * (p["hy"] - q["hy"])
    return arr.select(
        "way_id",
        F.array_max(
            F.transform(
                "a",
                lambda p: F.array_max(F.transform("a", lambda q: d2(p, q))),
            )
        ).alias("diam2"),
    )


_ORACLE_DIAMETER = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
w AS (SELECT o_orderkey AS way_id FROM orders),
j AS (
  SELECT wn.way_id, CAST(n.lon AS BIGINT) AS x, CAST(n.lat AS BIGINT) AS y
  FROM wn JOIN nodes n USING (node_id) JOIN w ON wn.way_id = w.way_id),
elig AS (SELECT way_id FROM j GROUP BY way_id HAVING count(*) > 1)
SELECT j1.way_id,
       max((j1.x - j2.x) * (j1.x - j2.x) + (j1.y - j2.y) * (j1.y - j2.y))
         AS diam2
FROM j j1 JOIN j j2 ON j1.way_id = j2.way_id
JOIN elig ON elig.way_id = j1.way_id
GROUP BY j1.way_id
"""


# --- spatial difference: points outside every zone ---------------------------
# E8 complement (spatial anti-join): the points NOT contained by any
# boundary triangle. Engine = left ANTI join of the point set against
# the pip pair stream; oracle = NOT EXISTS over the ray-crossing test.
def _q_pip_outside(spark, sf_dir):
    pts = _points(spark, sf_dir).select("point_id")
    return pts.join(_q_pip(spark, sf_dir), "point_id", "left_anti")


_ORACLE_PIP_OUTSIDE = f"""
WITH tri AS ({_TRI_SQL}),
p AS (SELECT point_id, lon + 0.25 AS px, lat + 0.125 AS py FROM ({_POINTS_SQL}))
SELECT point_id FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM tri
  WHERE (
    {_duck_edge_cross('cx', 'cy+12', 'cx-16', 'cy-8')}
    + {_duck_edge_cross('cx-16', 'cy-8', 'cx+20', 'cy-4')}
    + {_duck_edge_cross('cx+20', 'cy-4', 'cx', 'cy+12')}
  ) % 2 = 1)
"""


# --- passage chunking (operators/curation.py) -------------------------------
# LLM-pipeline addition: overlapping 32-token windows (stride 24) over
# the documents corpus — the passage construction step before embedding
# or packing. Engine = single codegen stage (tokenize, sequence of
# starts, explode, slice+array_join; no shuffle, no Python); oracle =
# generate_series + list_slice in DuckDB over the same shared
# whitespace tokenization.
_CHUNK_N, _CHUNK_OV = 32, 8


# LLM-pipeline sequence packing: concat-and-chunk the per-lang document
# stream into capacity-token packs; docs may straddle pack boundaries
# (the distributable pretraining semantics — atomic bin packing is
# inherently sequential). One window cumsum + codegen arithmetic.
_PACK_CAP = 256


def _q_pack_documents(spark, sf_dir):
    from osm_hadoop_spark.operators.curation import pack_documents

    return pack_documents(_t(spark, sf_dir, "documents"), capacity=_PACK_CAP)


_ORACLE_PACK_DOCS = f"""
WITH toks AS (SELECT lang, doc_id,
                CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
              FROM documents),
nz AS (SELECT * FROM toks WHERE n_tokens > 0),
offs AS (SELECT lang, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                - n_tokens AS BIGINT) AS start_off
         FROM nz),
ex AS (SELECT lang, doc_id, n_tokens, start_off,
         unnest(generate_series(start_off // {_PACK_CAP},
                                (start_off + n_tokens - 1) // {_PACK_CAP}))
           AS pack_id
       FROM offs)
SELECT lang, CAST(pack_id AS BIGINT) AS pack_id, doc_id,
  CAST(greatest(start_off, pack_id * {_PACK_CAP}) - start_off AS BIGINT)
    AS tok_start_in_doc,
  CAST(least(start_off + n_tokens, (pack_id + 1) * {_PACK_CAP})
       - greatest(start_off, pack_id * {_PACK_CAP}) AS BIGINT) AS tok_in_pack
FROM ex
"""


def _q_chunk_documents(spark, sf_dir):
    from osm_hadoop_spark.operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_N,
        overlap=_CHUNK_OV,
    )


_ORACLE_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
s AS (
  SELECT doc_id, t,
         unnest(generate_series(0, len(t) - 1, {_CHUNK_N - _CHUNK_OV})) AS st
  FROM toks WHERE len(t) > 0)
SELECT doc_id,
       CAST(st // {_CHUNK_N - _CHUNK_OV} AS BIGINT) AS chunk_id,
       CAST(least({_CHUNK_N}, len(t) - st) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(t, st + 1, st + {_CHUNK_N}), ' ') AS chunk_text
FROM s
"""


# --- BPE merge application (operators/bpe.py) -------------------------------
# LLM-pipeline addition: apply a FIXED ordered byte-pair-encoding merge
# table (Sennrich et al. 2016 apply step) to the first 40 chars of each
# document. Each rank is one greedy left-to-right non-overlapping fold;
# the Spark side is a nested-aggregate() ladder (pure codegen, no
# Python), the oracle is the SAME merge table rendered as DuckDB
# list_reduce() by the twin renderer in operators/bpe.py. The table
# exercises rank chaining four deep ("t a"->"ta"->"tab"->"tabl"->
# "table") plus a cross-word space merge ("e"+" ").
_BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("e", " "),
]
_BPE_PREFIX = 40


def _q_bpe_tokens(spark, sf_dir):
    from osm_hadoop_spark.operators.bpe import bpe_apply

    return bpe_apply(
        _t(spark, sf_dir, "documents"), _BPE_MERGES, prefix_len=_BPE_PREFIX
    )


# --- benchmark decontamination (operators/decontam.py) ----------------------
# LLM-pipeline addition: the eval-leak gate — flag training documents
# sharing any word 4-gram with a deterministic held-out "benchmark"
# subset (doc_id % 23 = 7). Engine = two scans (benchmark predicate
# pushed to parquet) + a BROADCAST of the tiny distinct benchmark gram
# set + one slim per-doc count aggregate; no corpus-side shuffle before
# the join (the only shape that survives a 100 TB corpus vs a MB-scale
# benchmark). Grams are the dedup family's shared h60 word-k-gram
# shingles, twinned below via _duck_shingles_k.
_DECON_K = 4
_DECON_BENCH = "doc_id % 23 = 7"


def _q_decontam(spark, sf_dir):
    from osm_hadoop_spark.operators.decontam import decontaminate

    return decontaminate(
        _t(spark, sf_dir, "documents"), _DECON_BENCH, k=_DECON_K
    )


_ORACLE_DECONTAM = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks
              FROM documents WHERE length(text) > 0),
g AS (SELECT doc_id, unnest({_duck_shingles_k(_DECON_K)}) AS gram
      FROM toks),
bg AS (SELECT DISTINCT gram FROM g WHERE {_DECON_BENCH}),
tr AS (SELECT doc_id, gram FROM g WHERE NOT ({_DECON_BENCH}))
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM tr JOIN bg USING (gram)
GROUP BY tr.doc_id
"""


# BPE TRAINING (the learn side of the apply step above): 6 rounds of
# adjacent-pair census -> (max count, min pa, min pb) argmax -> append.
# The oracle is DERIVED INDUCTIVELY: DuckDB re-runs the training itself
# at oracle-build time, and round k's SQL embeds only the merges DuckDB
# derived for rounds < k — which the UNION'd rounds < k of the same
# oracle have already verified against the engine. No engine output
# leaks into the oracle, so it is a sound independent recomputation
# (the ann_ivf_topk precedent, without even sharing fit code).
_BPE_TRAIN_ROUNDS = 6


def _q_bpe_train(spark, sf_dir):
    from osm_hadoop_spark.operators.bpe import bpe_train

    return bpe_train(
        _t(spark, sf_dir, "documents"),
        rounds=_BPE_TRAIN_ROUNDS,
        prefix_len=_BPE_PREFIX,
    )


def _oracle_bpe_train() -> str | None:
    import os

    from osm_hadoop_spark.operators.bpe import duckdb_fold_sql

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "documents.parquet",
    )
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    learned: list[tuple[str, str]] = []
    parts = []
    for k in range(_BPE_TRAIN_ROUNDS):
        fold = duckdb_fold_sql(
            learned, f"string_split(substr(text, 1, {_BPE_PREFIX}), '')"
        )
        part = f"""
SELECT CAST({k} AS BIGINT) AS merge_rank, p[1] AS pa, p[2] AS pb,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM (SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
      FROM (SELECT {fold} AS t
            FROM documents WHERE length(text) > 0)
      WHERE len(t) > 1)
GROUP BY 2, 3
ORDER BY n_pairs DESC, pa, pb
LIMIT 1
"""
        row = con.execute(part).fetchone()
        if row is None:
            break
        parts.append(part.strip())
        learned.append((row[1], row[2]))
    con.close()
    return "\nUNION ALL\n".join(f"({p})" for p in parts)


def _oracle_bpe():
    from osm_hadoop_spark.operators.bpe import duckdb_fold_sql

    fold = duckdb_fold_sql(
        _BPE_MERGES, f"string_split(substr(text, 1, {_BPE_PREFIX}), '')"
    )
    return f"""
WITH f AS (SELECT doc_id, {fold} AS t
           FROM documents WHERE length(text) > 0)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       array_to_string(t, '|') AS toks
FROM f
"""


# --- content-defined chunking (operators/curation.py::cdc_chunks) ----------
# The shift-resilient sibling of chunk_documents: boundaries are a pure
# local-content predicate (rolling polynomial hash of the trailing 8
# chars = 0 mod 32), so the WHERE clause below is the EXACT string the
# Spark filter lambda runs (cdc_boundary_pred — engine-shared SQL).
_CDC_W, _CDC_BASE, _CDC_DIV = 8, 31, 32


def _q_cdc_chunks(spark, sf_dir):
    from osm_hadoop_spark.operators.curation import cdc_chunks

    return cdc_chunks(
        _t(spark, sf_dir, "documents"), _CDC_W, _CDC_BASE, _CDC_DIV
    )


def _oracle_cdc_chunks() -> str:
    from osm_hadoop_spark.operators.curation import cdc_boundary_pred

    pred = cdc_boundary_pred("text", "p", _CDC_W, _CDC_BASE, _CDC_DIV)
    return f"""
WITH d AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) > 0),
ins AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, text,
           UNNEST(generate_series(CAST({_CDC_W + 1} AS BIGINT), n)) AS p
    FROM d WHERE n >= {_CDC_W + 1})
  WHERE {pred}),
cuts AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS p FROM d
  UNION ALL SELECT doc_id, p FROM ins
  UNION ALL SELECT doc_id, n + 1 FROM d),
paired AS (
  SELECT doc_id, p AS start,
         lead(p) OVER w - p AS clen,
         row_number() OVER w - 1 AS chunk_id
  FROM cuts
  WINDOW w AS (PARTITION BY doc_id ORDER BY p))
SELECT c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id, c.start,
       c.clen AS n_chars,
       {_duck_h60("substr(d.text, CAST(c.start AS INT), CAST(c.clen AS INT))")} AS fp
FROM paired c JOIN d ON d.doc_id = c.doc_id
WHERE c.clen IS NOT NULL"""


# --- IDW interpolated surface (operators/idw.py) ----------------------------
# A-family addition: fixed-point inverse-distance-weighted gridding of
# the clustered sample points (same derivation as dbscan/kde, plus a
# hashed integer sample value). Engine = per-point SCATTER (two
# sequence-explodes, exact in-radius filter, one hash agg — no join);
# oracle = cell-driven GATHER (distinct candidate cells CROSS JOIN all
# points, filter, group) — opposite evaluation directions, identical
# exact integers.
_IDW_CELL, _IDW_R = 25, 60


def _q_idw_surface(spark, sf_dir):
    from osm_hadoop_spark.operators.idw import idw_grid
    from osm_hadoop_spark.operators.textstats import h60

    pts = _dbscan_points(spark, sf_dir).withColumn(
        "v", h60(F.concat(F.lit("val"), F.col("id").cast("string"))) % 1000
    )
    return idw_grid(pts, cell_size=_IDW_CELL, radius=_IDW_R)


def _oracle_idw() -> str:
    q = 1 << 20
    cell, r = _IDW_CELL, _IDW_R
    rc = r // cell + 1
    vv = _duck_h60("'val' || CAST(p_partkey AS VARCHAR)")
    return f"""
WITH pts AS (
  SELECT {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y,
         {vv} % 1000 AS v
  FROM part),
cells AS (
  SELECT DISTINCT
         CAST(floor(CAST(x AS DOUBLE) / {cell}) AS BIGINT) + ox.d AS cx,
         CAST(floor(CAST(y AS DOUBLE) / {cell}) AS BIGINT) + oy.d AS cy
  FROM pts, range(-{rc}, {rc + 1}) ox(d), range(-{rc}, {rc + 1}) oy(d)),
pairs AS (
  SELECT c.cx, c.cy, p.v,
         (2*p.x - (2*c.cx*{cell} + {cell})) * (2*p.x - (2*c.cx*{cell} + {cell}))
       + (2*p.y - (2*c.cy*{cell} + {cell})) * (2*p.y - (2*c.cy*{cell} + {cell}))
         AS d2q
  FROM cells c CROSS JOIN pts p),
ww AS (
  SELECT cx, cy, v, {q} // (1 + d2q) AS w
  FROM pairs WHERE d2q <= {4 * r * r})
SELECT cx, cy,
       CAST(count(*) AS BIGINT) AS npts,
       CAST(sum(w) AS BIGINT) AS den,
       CAST(sum(w * v) AS BIGINT) AS num,
       CAST(sum(w * v) AS BIGINT) * 1024 // CAST(sum(w) AS BIGINT) AS val_q
FROM ww GROUP BY cx, cy
"""


# --- convex hull vertex set (operators/hull.py) -----------------------------
# E-family addition: minimal convex container of each assembled way's
# node set. Engine = Andrew monotone chain per row (strict turns, one
# mapInPandas pass, no shuffle); oracle = the EXCLUSION definition (a
# point is a hull vertex iff it is not on the closed segment of two
# other points and not strictly inside a triangle of three others) —
# a completely different algorithm with the same extreme-point set.
# Output is the vertex SET (way_id, hx, hy): set semantics match both
# the distributed merge law and the driver's sorted hash compare.
def _q_convex_hull(spark, sf_dir):
    from osm_hadoop_spark.operators.hull import convex_hull

    return convex_hull(_ways_geom(spark, sf_dir))


_ORACLE_HULL = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
w AS (SELECT o_orderkey AS way_id FROM orders),
j AS (
  SELECT wn.way_id, CAST(n.lon AS BIGINT) AS x, CAST(n.lat AS BIGINT) AS y
  FROM wn JOIN nodes n USING (node_id) JOIN w ON wn.way_id = w.way_id),
elig AS (SELECT way_id FROM j GROUP BY way_id HAVING count(*) > 1),
p AS (SELECT DISTINCT j.way_id, x, y FROM j JOIN elig USING (way_id)),
seg AS (
  SELECT DISTINCT p.way_id, p.x, p.y
  FROM p
  JOIN p a ON a.way_id = p.way_id AND (a.x <> p.x OR a.y <> p.y)
  JOIN p b ON b.way_id = p.way_id AND (b.x <> p.x OR b.y <> p.y)
  WHERE (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
    AND p.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
    AND p.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y)),
tri AS (
  SELECT DISTINCT p.way_id, p.x, p.y
  FROM p
  JOIN p a ON a.way_id = p.way_id
  JOIN p b ON b.way_id = p.way_id
  JOIN p c ON c.way_id = p.way_id
  WHERE ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) > 0
     AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) > 0
     AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) > 0)
     OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) < 0
     AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) < 0
     AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) < 0))
SELECT way_id, x AS hx, y AS hy FROM p
EXCEPT
SELECT * FROM (SELECT * FROM seg UNION SELECT * FROM tri)
"""


_CHAIKIN_R = 3


def _q_chaikin(spark, sf_dir):
    """Chaikin corner-cutting smoothing (operators/smooth.py) over the
    way geometries: r rounds of the 1/4-3/4 cut, integer-exact in the
    4^r-scaled grid (docstring proof). The DuckDB twin chains the
    module's own per-round SQL fragment — one engine iterates a loop,
    the other nests CTEs, same rows bit-for-bit; pytest additionally
    replays a Fraction-arithmetic reference and cross-checks the
    fragment itself through DuckDB on literal fixtures."""
    from osm_hadoop_spark.operators.smooth import chaikin

    n = Window.partitionBy("way_id")
    elig = (
        _way_pts_seq(spark, sf_dir)
        .withColumn("_n", F.count(F.lit(1)).over(n))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return chaikin(elig, rounds=_CHAIKIN_R)


def _oracle_chaikin() -> str:
    from osm_hadoop_spark.operators.smooth import chaikin_round_sql

    ctes = [
        f"""c0 AS (
  SELECT way_id, seq, x, y FROM (
    SELECT way_id, seq, x, y, count(*) OVER (PARTITION BY way_id) AS _n
    FROM ({_WAY_PTS_SEQ_SQL}))
  WHERE _n > 1)"""
    ]
    # AS MATERIALIZED: DuckDB inlines single-reference CTEs and then
    # re-evaluates the inlined tree once per struct-FIELD reference, so the
    # chained rounds exponentiate (measured at sf0.1: >20 min inlined vs
    # 7 s materialized, identical results). Materialization is the honest
    # twin of the engine's per-round dataframe anyway.
    for r in range(1, _CHAIKIN_R + 1):
        ctes.append(f"c{r} AS MATERIALIZED ({chaikin_round_sql(f'c{r - 1}')})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT way_id, seq, x, y FROM c{_CHAIKIN_R}"
    )


def _way_pts_seq(spark, sf_dir):
    """(way_id, seq, x, y) on the integer grid with a UNIQUE dense seq:
    the synthetic lineitem has duplicate (l_orderkey, l_linenumber)
    pairs, so `ordinal` alone is NOT a total order and window-based
    operators (Chaikin, VW) would be engine-order-dependent on it.
    row_number over (ordinal, node_id) is value-deterministic: the only
    remaining ties are full triple duplicates, whose coords are equal,
    so either ranking yields identical (seq, x, y) rows."""
    w = Window.partitionBy("way_id").orderBy("ordinal", "node_id")
    return (
        _way_nodes(spark, sf_dir)
        .join(_nodes(spark, sf_dir), "node_id")
        .select(
            "way_id",
            (F.row_number().over(w) - 1).cast("bigint").alias("seq"),
            F.col("lon").cast("bigint").alias("x"),
            F.col("lat").cast("bigint").alias("y"),
        )
    )


_WAY_PTS_SEQ_SQL = f"""
  SELECT wn.way_id,
         CAST(row_number() OVER (PARTITION BY wn.way_id
                                 ORDER BY wn.ordinal, wn.node_id) - 1
              AS BIGINT) AS seq,
         CAST(n.lon AS BIGINT) AS x, CAST(n.lat AS BIGINT) AS y
  FROM ({_WAY_NODES_SQL}) wn JOIN ({_NODES_SQL}) n USING (node_id)"""


_VW_T2 = 500  # doubled effective-area threshold on the integer grid
_VW_R = 3


def _q_vw(spark, sf_dir):
    """Visvalingam-Whyatt simplification (operators/vw.py) over the way
    geometries: `_VW_R` parallel relaxation rounds removing strict
    local-minimum interior vertices with doubled effective area <
    `_VW_T2`. Mapshaper-family generalization, the companion operator
    to Douglas-Peucker (`simplify_dp_ways`). The DuckDB twin nests the
    module's own per-round SQL fragment; pytest additionally replays
    the round semantics in pure Python."""
    from osm_hadoop_spark.operators.vw import vw_threshold

    return vw_threshold(_way_pts_seq(spark, sf_dir), t2=_VW_T2, rounds=_VW_R)


def _oracle_vw() -> str:
    from osm_hadoop_spark.operators.vw import vw_round_sql

    # AS MATERIALIZED for the same reason as _oracle_chaikin (chained-CTE
    # re-inlining blowup at sf0.1)
    ctes = [f"c0 AS MATERIALIZED ({_WAY_PTS_SEQ_SQL})"]
    for r in range(1, _VW_R + 1):
        ctes.append(f"c{r} AS MATERIALIZED ({vw_round_sql(f'c{r - 1}', _VW_T2)})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT way_id, seq, x, y FROM c{_VW_R}"
    )


_STR_CAP = 32


def _q_str_pack(spark, sf_dir):
    """STR R-tree bulk packing (operators/strpack.py) of the way
    envelopes, leaf capacity `_STR_CAP`: one row per leaf with its
    member count and MBR. The engine computes the global x-rank with
    the two-level distributed prefix sum (no single-partition window);
    the DuckDB twin uses a naive global row_number — opposite
    mechanism, identical leaves."""
    from osm_hadoop_spark.operators.strpack import str_pack

    rects = (
        _way_nodes(spark, sf_dir)
        .join(_nodes(spark, sf_dir), "node_id")
        .groupBy(F.col("way_id").alias("id"))
        .agg(
            F.min(F.col("lon").cast("bigint")).alias("xmin"),
            F.min(F.col("lat").cast("bigint")).alias("ymin"),
            F.max(F.col("lon").cast("bigint")).alias("xmax"),
            F.max(F.col("lat").cast("bigint")).alias("ymax"),
        )
    )
    return str_pack(rects, capacity=_STR_CAP)


def _oracle_str_pack() -> str:
    from osm_hadoop_spark.operators.strpack import str_pack_sql

    body = str_pack_sql("rects", _STR_CAP).strip()
    assert body.upper().startswith("WITH ")
    return (
        f"""WITH rects AS (
  SELECT wn.way_id AS id,
         min(CAST(n.lon AS BIGINT)) AS xmin,
         min(CAST(n.lat AS BIGINT)) AS ymin,
         max(CAST(n.lon AS BIGINT)) AS xmax,
         max(CAST(n.lat AS BIGINT)) AS ymax
  FROM ({_WAY_NODES_SQL}) wn JOIN ({_NODES_SQL}) n USING (node_id)
  GROUP BY wn.way_id
), """
        + body[len("WITH ") :]
    )


_SCHED_IV_SQL = (
    "SELECT user_id AS key, event_id AS id, epoch_us(ts) AS s, "
    "epoch_us(ts) + ((event_id * 7919) % 3600 + 1) * 1000000 AS e "
    "FROM events"
)


def _q_interval_schedule(spark, sf_dir):
    """Greedy maximum non-overlapping interval selection
    (operators/scheduling.py) per user over derived event intervals
    (duration = (event_id * 7919) % 3600 + 1 seconds). The engine runs
    successor pointer-doubling (10 rounds >= any per-user chain at
    driver scale); the DuckDB twin replays the sequential greedy chain
    with a recursive CTE — opposite mechanism, identical rows."""
    from osm_hadoop_spark.operators.scheduling import interval_schedule

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("id"),
        us.alias("s"),
        (us + ((F.col("event_id") * 7919) % 3600 + 1) * 1000000).alias("e"),
    )
    return interval_schedule(iv, rounds=10)


def _oracle_interval_schedule() -> str:
    from osm_hadoop_spark.operators.scheduling import interval_schedule_sql

    return interval_schedule_sql(f"({_SCHED_IV_SQL})")


def _q_mann_kendall(spark, sf_dir):
    """Per-cell Mann-Kendall trend census (operators/spatialstats.py)
    over daily event counts on a 6x5 user-hash cell grid: exact integer
    (n, S, 18*Var(S)) per cell, tie-corrected — the temporal statistic
    under emerging-hot-spot analysis."""
    from osm_hadoop_spark.operators.spatialstats import mann_kendall

    return mann_kendall(_mk_cells(spark, sf_dir))


_ORACLE_MANN_KENDALL = """
WITH s AS (
  SELECT user_id % 6 AS cx, (user_id // 6) % 5 AS cy,
         epoch_us(ts) // 86400000000 AS t, CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2, 3),
n AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2),
p AS (
  SELECT a.cx, a.cy,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS ss
  FROM s a JOIN s b ON a.cx = b.cx AND a.cy = b.cy AND a.t < b.t
  GROUP BY 1, 2),
ties AS (
  SELECT cx, cy, CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tt
  FROM (SELECT cx, cy, v, count(*) AS c FROM s GROUP BY 1, 2, 3)
  GROUP BY 1, 2)
SELECT n.cx, n.cy, n.n,
       CAST(coalesce(p.ss, 0) AS BIGINT) AS s_stat,
       CAST(n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(ties.tt, 0)
            AS BIGINT) AS var18
FROM n LEFT JOIN p USING (cx, cy) LEFT JOIN ties USING (cx, cy)
"""


_MRL_K, _MRL_SHARDS, _MRL_LEVELS = 48, 16, 10


def _q_mrl_deciles(spark, sf_dir):
    """Deterministic MRL quantile sketch (operators/quantile_sketch.py)
    over event timestamps: nine decile estimates from a bounded
    per-shard summary — no global sort of the data. The shard is the
    portable event_id % 16 so the DuckDB twin builds the IDENTICAL
    sketch (bit-exact estimates, not approximate agreement)."""
    from osm_hadoop_spark.operators.quantile_sketch import mrl_deciles

    rows = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % _MRL_SHARDS).alias("shard"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("value"),
        F.col("event_id").alias("id"),
    )
    return mrl_deciles(
        rows,
        k=_MRL_K,
        shards=_MRL_SHARDS,
        levels=_MRL_LEVELS,
        shard_col="shard",
    )


def _oracle_mrl_deciles() -> str:
    from osm_hadoop_spark.operators.quantile_sketch import (
        mrl_deciles_sql_presharded,
    )

    src = (
        f"(SELECT event_id % {_MRL_SHARDS} AS shard, epoch_us(ts) AS value, "
        "event_id AS id FROM events)"
    )
    return mrl_deciles_sql_presharded(src, k=_MRL_K, levels=_MRL_LEVELS)


def _q_seasonal_anomaly(spark, sf_dir):
    """Day-of-week seasonal profile + most-anomalous day per event type
    (operators/timeseries.py): exact mean-cleared residuals, one hash
    partition, no float anywhere."""
    from osm_hadoop_spark.operators.timeseries import seasonal_anomaly

    series = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
        )
        .groupBy("key", "t")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return seasonal_anomaly(series, period=7)


_ORACLE_SEASONAL = """
WITH s AS (
  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
r AS (
  SELECT key, t % 7 AS phase, t, v,
         count(*) OVER w AS n_bins, sum(v) OVER w AS sum_v
  FROM s WINDOW w AS (PARTITION BY key, t % 7)),
n AS (
  SELECT key, phase, t, v, n_bins, sum_v, v * n_bins - sum_v AS num,
         max(struct_pack(num := v * n_bins - sum_v, t := t))
           OVER (PARTITION BY key, phase) AS mx
  FROM r)
SELECT key, phase, CAST(n_bins AS BIGINT) AS n_bins,
       CAST(sum_v AS BIGINT) AS sum_v, t AS anom_t, v AS anom_v,
       CAST(num AS BIGINT) AS anom_num
FROM n WHERE num = mx.num AND t = mx.t
"""


def _q_gearys_c(spark, sf_dir):
    """Geary's C numerator/denominator (operators/spatialstats.py) on
    the shared g60 event lattice — the pair-difference sibling of
    morans_global_g60, exact integers end-to-end."""
    from osm_hadoop_spark.operators.spatialstats import gearys_c_global

    return gearys_c_global(_lattice_cells(spark, sf_dir))


_ORACLE_GEARY = f"""
WITH pts AS (
  SELECT {_duck_h60("'mx' || CAST(event_id AS VARCHAR)")} % 60 AS cx,
         {_duck_h60("'my' || CAST(event_id AS VARCHAR)")} % 60 AS cy
  FROM events),
cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2),
st AS (SELECT count(*) AS nn, sum(n) AS s FROM cells),
pair AS (
  SELECT CAST(sum((a.n - b.n) * (a.n - b.n)) AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS w_sum
  FROM cells a
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
den AS (
  SELECT CAST(st.nn AS BIGINT) AS n_cells,
         CAST(sum((st.nn * c.n - st.s) * (st.nn * c.n - st.s)) AS BIGINT)
           AS den_scaled
  FROM cells c CROSS JOIN st GROUP BY st.nn)
SELECT den.n_cells, pair.w_sum, pair.num, den.den_scaled
FROM den CROSS JOIN pair
"""

_RIPLEY_RADII = (20, 40, 80, 160)


def _q_ripley_k(spark, sf_dir):
    """Ripley's K pair census (operators/spatialstats.py) over the
    clustered dbscan point pattern at four scales: one blocked distance
    join at r_max feeds a single conditional-sum census. The DuckDB
    twin counts all O(n^2) pairs brute-force — opposite mechanism,
    identical counts (the blocking-losslessness proof)."""
    from osm_hadoop_spark.operators.spatialstats import ripley_k_census

    return ripley_k_census(_dbscan_points(spark, sf_dir), _RIPLEY_RADII)


def _oracle_ripley_k() -> str:
    branches = ", ".join(f"({r})" for r in _RIPLEY_RADII)
    return f"""
WITH pts AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts),
rad(r) AS (VALUES {branches})
SELECT CAST(rad.r AS BIGINT) AS r,
       CAST(coalesce(sum(CASE WHEN (a.x - b.x) * (a.x - b.x)
                               + (a.y - b.y) * (a.y - b.y)
                               <= rad.r * rad.r THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_pairs,
       (SELECT n_points FROM n) AS n_points
FROM rad
LEFT JOIN pts a ON true
LEFT JOIN pts b ON a.id < b.id
GROUP BY rad.r
"""


_HAAR_LEVELS = 5


def _q_haar_energy(spark, sf_dir):
    """Per-event-type Haar detail energies (operators/wavelet.py) over
    the first 32 daily count bins: integer-exact scale decomposition;
    the DuckDB twin nests the module's per-level pairing fragment."""
    from osm_hadoop_spark.operators.wavelet import haar_energy

    series = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
        )
        .groupBy("key", "t")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return haar_energy(series, levels=_HAAR_LEVELS)


def _oracle_haar_energy() -> str:
    from osm_hadoop_spark.operators.wavelet import haar_energy_sql

    src = (
        "(SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t, "
        "CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1, 2)"
    )
    return haar_energy_sql(src, _HAAR_LEVELS)


def _q_benford(spark, sf_dir):
    """Benford first-digit census (operators/profile.py) of part keys
    per return flag — magnitude-spanning positive integers, zero-filled
    9-digit frame per key."""
    from osm_hadoop_spark.operators.profile import benford_census

    return benford_census(
        _t(spark, sf_dir, "lineitem"), key="l_returnflag", value="l_partkey"
    )


_ORACLE_BENFORD = """
WITH pos AS (
  SELECT l_returnflag AS key, l_partkey AS v FROM lineitem
  WHERE l_partkey > 0),
obs AS (
  SELECT key, CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM pos GROUP BY 1, 2),
k AS (SELECT DISTINCT key FROM obs),
d(digit) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9))
SELECT k.key, CAST(d.digit AS BIGINT) AS digit,
       CAST(coalesce(obs.n, 0) AS BIGINT) AS n
FROM k CROSS JOIN d
LEFT JOIN obs ON obs.key = k.key AND obs.digit = d.digit
"""


def _q_gini(spark, sf_dir):
    """Exact per-flag Gini numerator (operators/profile.py) over line
    quantities: rank-weighted concentration, one window sort + one
    aggregate, no float."""
    from osm_hadoop_spark.operators.profile import gini_exact

    rows = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    )
    return gini_exact(rows, key="l_returnflag", value="q")


_ORACLE_GINI = """
WITH r AS (
  SELECT l_returnflag AS key, CAST(l_quantity AS BIGINT) AS v FROM lineitem),
s AS (
  SELECT key, v,
         row_number() OVER (PARTITION BY key ORDER BY v) AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM r)
SELECT key, CAST(max(n) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(sum((2 * i - n - 1) * v) AS BIGINT) AS gini_num
FROM s GROUP BY key
"""


def _allen_iv(spark, sf_dir, etype, mult):
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == etype)
        .select(
            F.col("user_id").alias("key"),
            us.alias("s"),
            (us + ((F.col("event_id") * mult) % 3600 + 1) * 1000000)
            .alias("e"),
        )
    )


def _q_allen_census(spark, sf_dir):
    """Allen 13-relation census (operators/allen.py) of click intervals
    vs view intervals per user: contact relations via the touching-
    inclusive bucketized join, before/after via sentinel running sums —
    no disjoint-pair materialization. The DuckDB twin classifies every
    same-key pair brute-force."""
    from osm_hadoop_spark.operators.allen import allen_census

    return allen_census(
        _allen_iv(spark, sf_dir, "click", 7919),
        _allen_iv(spark, sf_dir, "view", 104729),
    )


def _allen_iv_sql(etype: str, mult: int) -> str:
    return (
        f"SELECT user_id AS key, epoch_us(ts) AS s, "
        f"epoch_us(ts) + ((event_id * {mult}) % 3600 + 1) * 1000000 AS e "
        f"FROM events WHERE event_type = '{etype}'"
    )


_ORACLE_ALLEN = f"""
WITH a AS ({_allen_iv_sql('click', 7919)}),
b AS ({_allen_iv_sql('view', 104729)}),
cls AS (
  SELECT CASE
    WHEN a.e < b.s THEN 'before'
    WHEN b.e < a.s THEN 'after'
    WHEN a.s = b.s AND a.e = b.e THEN 'equals'
    WHEN a.s = b.s AND a.e < b.e THEN 'starts'
    WHEN a.s = b.s THEN 'started_by'
    WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
    WHEN a.e = b.e THEN 'finished_by'
    WHEN a.e = b.s THEN 'meets'
    WHEN b.e = a.s THEN 'met_by'
    WHEN a.s < b.s AND a.e < b.e THEN 'overlaps'
    WHEN b.s < a.s AND b.e < a.e THEN 'overlapped_by'
    WHEN a.s > b.s THEN 'during'
    ELSE 'contains' END AS relation
  FROM a JOIN b ON a.key = b.key),
rel(relation) AS (VALUES ('equals'), ('starts'), ('started_by'),
  ('finishes'), ('finished_by'), ('meets'), ('met_by'), ('overlaps'),
  ('overlapped_by'), ('during'), ('contains'), ('before'), ('after')),
cnt AS (SELECT relation, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY 1)
SELECT rel.relation, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_pairs
FROM rel LEFT JOIN cnt USING (relation)
"""


def _q_encoding_anomalies(spark, sf_dir):
    """Encoding-damage census (operators/textstats.py) over documents
    with deterministic mojibake injection (the synthetic corpus is
    clean ASCII, so doc_id % 7 gets win-mojibake appended and
    doc_id % 11 a replacement char — both engines inject identically).
    Counters via replace/translate length-difference only — no regex,
    the cross-engine discipline."""
    from osm_hadoop_spark.operators.textstats import encoding_anomalies

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" cafÃ©â€™")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" �")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return encoding_anomalies(d)


def _oracle_encoding_anomalies() -> str:
    from osm_hadoop_spark.operators.textstats import _C0_CONTROLS

    ctrl_sql = " || ".join(f"chr({ord(c)})" for c in _C0_CONTROLS)
    moji = " cafÃ©â€™"
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{moji}'
              WHEN doc_id % 11 = 0 THEN text || ' �'
              ELSE text END AS t
  FROM documents)
SELECT doc_id,
       CAST(length(t) - length(replace(t, '�', '')) AS BIGINT)
         AS n_fffd,
       CAST(length(t) - length(replace(t, 'Ã', '')) AS BIGINT)
         AS n_winmoji,
       CAST((length(t) - length(replace(t, 'â€', ''))) // 2
            AS BIGINT) AS n_sqmoji,
       CAST(length(t) - length(translate(t, {ctrl_sql}, '')) AS BIGINT)
         AS n_ctrl,
       (length(t) - length(replace(t, '�', '')) > 0
        OR length(t) - length(replace(t, 'Ã', '')) > 0
        OR length(t) - length(replace(t, 'â€', '')) > 0
        OR length(t) - length(translate(t, {ctrl_sql}, '')) > 0)
         AS flagged
FROM d
"""


def _q_integral_image(spark, sf_dir):
    """Summed-area table (operators/focal.py) of node counts on a dense
    29x20 zero-filled grid: two partitioned running-sum windows, O(1)
    box queries downstream (box_sums pytest-pinned)."""
    from osm_hadoop_spark.operators.focal import integral_image

    cnt = (
        _nodes(spark, sf_dir)
        .select(
            F.expr("CAST((CAST(lon AS BIGINT) + 170) DIV 12 AS BIGINT)")
            .alias("gx"),
            F.expr("CAST((CAST(lat AS BIGINT) + 80) DIV 8 AS BIGINT)")
            .alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = (
        spark.range(29 * 20)
        .select(
            F.expr("id DIV 20").alias("x"), (F.col("id") % 20).alias("y")
        )
        .join(
            cnt,
            (F.col("x") == F.col("gx")) & (F.col("y") == F.col("gy")),
            "left",
        )
        .select("x", "y", F.coalesce(F.col("n"), F.lit(0)).alias("v"))
    )
    return integral_image(grid)


_ORACLE_INTEGRAL = f"""
WITH pts AS (
  SELECT (CAST(lon AS BIGINT) + 170) // 12 AS gx,
         (CAST(lat AS BIGINT) + 80) // 8 AS gy
  FROM ({_NODES_SQL})),
cnt AS (SELECT gx, gy, count(*) AS n FROM pts GROUP BY 1, 2),
grid AS (
  SELECT xs.x, ys.y, CAST(coalesce(cnt.n, 0) AS BIGINT) AS v
  FROM (SELECT unnest(range(0, 29)) AS x) xs
  CROSS JOIN (SELECT unnest(range(0, 20)) AS y) ys
  LEFT JOIN cnt ON cnt.gx = xs.x AND cnt.gy = ys.y),
r AS (
  SELECT x, y,
         sum(v) OVER (PARTITION BY y ORDER BY x) AS rowsum
  FROM grid)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(sum(rowsum) OVER (PARTITION BY x ORDER BY y) AS BIGINT) AS sat
FROM r
"""


def _q_pair_confusion(spark, sf_dir):
    """Pair-confusion census (operators/linkage.py) between the lang
    and source labelings of documents: exact Rand-index numerators from
    contingency counts, zero pairs materialized."""
    from osm_hadoop_spark.operators.linkage import pair_confusion

    return pair_confusion(
        _t(spark, sf_dir, "documents"),
        item="doc_id", pred="lang", truth="source",
    )


_ORACLE_PAIR_CONFUSION = """
WITH cont AS (
  SELECT lang AS pred, source AS truth, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
tp AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS tp,
              CAST(sum(c) AS BIGINT) AS n_items FROM cont),
pm AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS pred_pairs
       FROM (SELECT sum(c) AS m FROM cont GROUP BY pred)),
tm AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS truth_pairs
       FROM (SELECT sum(c) AS m FROM cont GROUP BY truth))
SELECT n_items, tp,
       CAST(pred_pairs - tp AS BIGINT) AS fp,
       CAST(truth_pairs - tp AS BIGINT) AS fn,
       CAST(n_items * (n_items - 1) // 2 - pred_pairs - truth_pairs + tp
            AS BIGINT) AS tn
FROM tp CROSS JOIN pm CROSS JOIN tm
"""


_VARIO_MAXLAG2 = 8


def _q_variogram(spark, sf_dir):
    """Empirical variogram census (operators/spatialstats.py) on the
    shared g60 event lattice up to squared lag 8 — the multi-lag
    generalization of gearys_c_g60, canonical half-plane offsets."""
    from osm_hadoop_spark.operators.spatialstats import variogram_census

    return variogram_census(_lattice_cells(spark, sf_dir), _VARIO_MAXLAG2)


def _oracle_variogram() -> str:
    r = int(_VARIO_MAXLAG2 ** 0.5) + 1
    offs = [
        (dx, dy)
        for dx in range(0, r + 1)
        for dy in range(-r, r + 1)
        if dx * dx + dy * dy <= _VARIO_MAXLAG2
        and (dx > 0 or (dx == 0 and dy > 0))
    ]
    vals = ", ".join(f"({dx}, {dy})" for dx, dy in offs)
    return f"""
WITH pts AS (
  SELECT {_duck_h60("'mx' || CAST(event_id AS VARCHAR)")} % 60 AS cx,
         {_duck_h60("'my' || CAST(event_id AS VARCHAR)")} % 60 AS cy
  FROM events),
cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2)
SELECT CAST(o.dx * o.dx + o.dy * o.dy AS BIGINT) AS lag2,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((a.n - b.n) * (a.n - b.n)) AS BIGINT) AS sum_sq_diff
FROM cells a
CROSS JOIN (VALUES {vals}) o(dx, dy)
JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
GROUP BY 1
"""


_SKY_LAYERS = 4


def _q_skyline_layers(spark, sf_dir):
    """Skyline layer peeling (operators/skyline.py) over the dbscan
    point pattern, 4 tiers: two-level bucketed frontier windows per
    round + anti-join peel. The DuckDB twin nests the module's frontier
    fragment."""
    from osm_hadoop_spark.operators.skyline import skyline_layers

    return skyline_layers(_dbscan_points(spark, sf_dir), _SKY_LAYERS,
                          coarse_bits=8)


def _oracle_skyline_layers() -> str:
    from osm_hadoop_spark.operators.skyline import skyline_round_sql

    ctes = [
        f"""p0 AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part)"""
    ]
    sels = []
    prev = "p0"
    for ell in range(1, _SKY_LAYERS + 1):
        ctes.append(f"s{ell} AS ({skyline_round_sql(prev)})")
        sels.append(
            f"SELECT id, x, y, CAST({ell} AS BIGINT) AS layer FROM s{ell}"
        )
        if ell < _SKY_LAYERS:
            ctes.append(
                f"p{ell} AS (SELECT * FROM {prev} WHERE id NOT IN "
                f"(SELECT id FROM s{ell}))"
            )
            prev = f"p{ell}"
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


_OOV_VOCAB = 120


def _q_oov_census(spark, sf_dir):
    """Corpus-relative OOV census (operators/textstats.py): tokens
    outside the deterministic top-120 vocabulary, per document."""
    from osm_hadoop_spark.operators.textstats import oov_census

    return oov_census(_t(spark, sf_dir, "documents"), _OOV_VOCAB)


_ORACLE_OOV = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT {_OOV_VOCAB})),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM toks GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(agg.n_oov, 0) AS BIGINT) AS n_oov
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def _q_four_cliques(spark, sf_dir):
    """4-clique enumeration (operators/triangles.py) over the shared
    block graph: degree-oriented ordered triples + three closing
    semi-joins. The DuckDB twin is the brute 6-edge join."""
    from osm_hadoop_spark.operators.triangles import four_cliques

    return four_cliques(_tri_edges(spark, sf_dir))


_ORACLE_FOUR_CLIQUES = f"""
WITH pk AS (SELECT p_partkey AS u, p_partkey // 32 AS blk FROM part),
e AS (
  SELECT a.u AS u, b.u AS v
  FROM pk a JOIN pk b ON a.blk = b.blk AND a.u < b.u
  WHERE {_duck_h60("'tg' || a.u || '_' || b.u")} % 7 < 2)
SELECT e1.u AS w, e1.v AS x, e2.v AS y, e4.v AS z
FROM e e1
JOIN e e2 ON e2.u = e1.v
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
JOIN e e4 ON e4.u = e2.v
JOIN e e5 ON e5.u = e1.u AND e5.v = e4.v
JOIN e e6 ON e6.u = e1.v AND e6.v = e4.v
"""


def _q_kendall_tau(spark, sf_dir):
    """Kendall tau-b census (operators/timeseries.py) per event type:
    daily volume vs daily distinct users — exact concordance/tie
    counts, no float."""
    from osm_hadoop_spark.operators.timeseries import kendall_tau_census

    series = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
            "user_id",
        )
        .groupBy("key", "t")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.count_distinct(F.col("user_id")).alias("y"),
        )
    )
    return kendall_tau_census(series, key="key", id_col="t", x="x", y="y")


_ORACLE_KENDALL = """
WITH s AS (
  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
         CAST(count(*) AS BIGINT) AS x,
         CAST(count(DISTINCT user_id) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
cnt AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY key),
agg AS (
  SELECT a.key,
    CAST(sum(CASE WHEN (b.x - a.x) != 0 AND (b.y - a.y) != 0
                   AND (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS nc,
    CAST(sum(CASE WHEN (b.x - a.x) != 0 AND (b.y - a.y) != 0
                   AND (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS nd,
    CAST(sum(CASE WHEN b.x = a.x AND b.y != a.y THEN 1 ELSE 0 END)
         AS BIGINT) AS tx,
    CAST(sum(CASE WHEN b.x != a.x AND b.y = a.y THEN 1 ELSE 0 END)
         AS BIGINT) AS ty,
    CAST(sum(CASE WHEN b.x = a.x AND b.y = a.y THEN 1 ELSE 0 END)
         AS BIGINT) AS txy
  FROM s a JOIN s b ON a.key = b.key AND a.t < b.t
  GROUP BY a.key)
SELECT cnt.key, cnt.n,
       CAST(coalesce(agg.nc, 0) AS BIGINT) AS nc,
       CAST(coalesce(agg.nd, 0) AS BIGINT) AS nd,
       CAST(coalesce(agg.tx, 0) AS BIGINT) AS tx,
       CAST(coalesce(agg.ty, 0) AS BIGINT) AS ty,
       CAST(coalesce(agg.txy, 0) AS BIGINT) AS txy
FROM cnt LEFT JOIN agg USING (key)
"""


_DOM_BAND = 250


def _q_dominance(spark, sf_dir):
    """Exact dominance counts (operators/dominance.py) over the dbscan
    point pattern: banded union-sentinel rank lookups + same-band pair
    census. The DuckDB twin counts all pairs brute-force."""
    from osm_hadoop_spark.operators.dominance import dominance_counts

    return dominance_counts(_dbscan_points(spark, sf_dir), _DOM_BAND)


_ORACLE_DOMINANCE = f"""
WITH pts AS (
  SELECT p_partkey AS id,
         {_duck_dbscan_coord('nx', 'cx', 'dx')} AS x,
         {_duck_dbscan_coord('ny', 'cy', 'dy')} AS y
  FROM part)
SELECT a.id, a.x, a.y,
       CAST(count(b.id) AS BIGINT) AS dom
FROM pts a
LEFT JOIN pts b
  ON b.id != a.id AND b.x <= a.x AND b.y <= a.y
GROUP BY a.id, a.x, a.y
"""


def _q_ecdf_drift(spark, sf_dir):
    """Exact KS/CvM numerators (operators/profile.py) per event type:
    even-day vs odd-day user-id distributions — the integer-exact
    two-cohort drift gate."""
    from osm_hadoop_spark.operators.profile import two_sample_ecdf

    rows = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000") % 2
        ).alias("grp"),
        F.col("user_id").alias("value"),
    )
    return two_sample_ecdf(rows, "key", "grp", "value", 0)


_ORACLE_ECDF = """
WITH lvl AS (
  SELECT event_type AS key, user_id AS v,
         CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
                       THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM events GROUP BY 1, 2),
r AS (
  SELECT key, ca, cb,
         sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
         sum(ca) OVER (PARTITION BY key) AS na,
         sum(cb) OVER (PARTITION BY key) AS nb
  FROM lvl
  WINDOW w AS (PARTITION BY key ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT key, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num,
       CAST(sum((ca + cb) * (cuma * nb - cumb * na)
                * (cuma * nb - cumb * na)) AS BIGINT) AS cvm_num
FROM r GROUP BY key
"""


def _q_mann_whitney(spark, sf_dir):
    """Exact Mann-Whitney U ingredients (operators/profile.py) per
    event type, even-day vs odd-day user-id samples — the rank-sum
    location twin of the ecdf_drift distribution gate."""
    from osm_hadoop_spark.operators.profile import mann_whitney_census

    rows = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000") % 2
        ).alias("grp"),
        F.col("user_id").alias("value"),
    )
    return mann_whitney_census(rows, "key", "grp", "value", 0)


_ORACLE_MANN_WHITNEY = """
WITH lvl AS (
  SELECT event_type AS key, user_id AS v,
         CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
                       THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM events GROUP BY 1, 2),
r AS (
  SELECT key, ca, cb,
         sum(cb) OVER w - cb AS cumb_lt,
         sum(ca) OVER w - ca AS cuma_lt,
         sum(ca) OVER (PARTITION BY key) AS na,
         sum(cb) OVER (PARTITION BY key) AS nb
  FROM lvl
  WINDOW w AS (PARTITION BY key ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT key, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(sum(ca * (2 * cumb_lt + cb)) AS BIGINT) AS u2_a,
       CAST(sum(cb * (2 * cuma_lt + ca)) AS BIGINT) AS u2_b,
       CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT)
         AS tie_cube
FROM r GROUP BY key
"""


def _q_spearman(spark, sf_dir):
    """Exact tie-aware Spearman power sums (operators/timeseries.py)
    per event type over the kendall fixture series (daily volume vs
    daily distinct users) — the O(n log n) member of the rank family
    next to kendall_tau_census's pair join."""
    from osm_hadoop_spark.operators.timeseries import spearman_census

    series = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
            "user_id",
        )
        .groupBy("key", "t")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.count_distinct(F.col("user_id")).alias("y"),
        )
    )
    return spearman_census(series, key="key", x="x", y="y")


_ORACLE_SPEARMAN = """
WITH s AS (
  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
         CAST(count(*) AS BIGINT) AS x,
         CAST(count(DISTINCT user_id) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT key,
         2 * rank() OVER (PARTITION BY key ORDER BY x)
           + count(*) OVER (PARTITION BY key, x) - 1 AS rx2,
         2 * rank() OVER (PARTITION BY key ORDER BY y)
           + count(*) OVER (PARTITION BY key, y) - 1 AS ry2
  FROM s)
SELECT key, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(rx2) AS BIGINT) AS sx,
       CAST(sum(ry2) AS BIGINT) AS sy,
       CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
       CAST(sum(rx2 * rx2) AS BIGINT) AS sx2,
       CAST(sum(ry2 * ry2) AS BIGINT) AS sy2
FROM ranked GROUP BY key
"""


def _q_pettitt(spark, sf_dir):
    """Exact Pettitt change-point (operators/timeseries.py) over each
    event type's daily-volume series — the rank-based break test next
    to cusum_changepoint and mann_kendall_cells."""
    from osm_hadoop_spark.operators.timeseries import pettitt_change

    series = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
        )
        .groupBy("key", "t")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return pettitt_change(series, key="key", t="t", x="x")


_ORACLE_PETTITT = """
WITH s AS (
  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT key, t AS tt,
         2 * rank() OVER (PARTITION BY key ORDER BY x)
           + count(*) OVER (PARTITION BY key, x) - 1 AS r2
  FROM s),
cum AS (
  SELECT key, tt,
         row_number() OVER (PARTITION BY key ORDER BY tt) AS pos,
         sum(r2) OVER (PARTITION BY key ORDER BY tt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum2,
         count(*) OVER (PARTITION BY key) AS n
  FROM ranked),
u AS (
  SELECT key, n, -abs(cum2 - pos * (n + 1)) AS nau, pos, tt
  FROM cum WHERE pos < n)
SELECT key, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS t_star,
       tt AS t_at, CAST(-nau AS BIGINT) AS k_stat
FROM u
QUALIFY row_number() OVER (PARTITION BY key ORDER BY nau, pos, tt) = 1
"""


def _q_ordinal_patterns(spark, sf_dir):
    """Order-3 ordinal pattern census (operators/timeseries.py) over
    per-event-type daily counts — permutation-entropy ingredients."""
    from osm_hadoop_spark.operators.timeseries import ordinal_pattern_census

    series = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("key"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
        )
        .groupBy("key", "t")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return ordinal_pattern_census(series)


_ORACLE_ORDINAL = """
WITH s AS (
  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
tr AS (
  SELECT key, v AS a,
         lead(v, 1) OVER w AS b, lead(v, 2) OVER w AS c
  FROM s WINDOW w AS (PARTITION BY key ORDER BY t)),
obs AS (
  SELECT key,
         CAST(4 * CASE WHEN a <= b THEN 1 ELSE 0 END
              + 2 * CASE WHEN b <= c THEN 1 ELSE 0 END
              + CASE WHEN a <= c THEN 1 ELSE 0 END AS BIGINT) AS pattern,
         CAST(count(*) AS BIGINT) AS n
  FROM tr WHERE c IS NOT NULL GROUP BY 1, 2),
k AS (SELECT DISTINCT key FROM obs),
p(pattern) AS (VALUES (0), (2), (3), (4), (5), (7))
SELECT k.key, CAST(p.pattern AS BIGINT) AS pattern,
       CAST(coalesce(obs.n, 0) AS BIGINT) AS n
FROM k CROSS JOIN p
LEFT JOIN obs ON obs.key = k.key AND obs.pattern = p.pattern
"""


_TWAP_W0, _TWAP_W1 = 1704844800000000, 1707523200000000  # 2024-01-10..02-10 UTC


def _q_twap(spark, sf_dir):
    """Exact TWAP ingredients (operators/timeseries.py) per event type
    over a fixed one-month window: step-function holding-time weights,
    forward-fill at entry, int64 numerator/denominator."""
    from osm_hadoop_spark.operators.timeseries import twap_exact

    rows = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("event_id") % 100).alias("v"),
    )
    return twap_exact(rows, _TWAP_W0, _TWAP_W1)


_ORACLE_TWAP = f"""
WITH s AS (
  SELECT event_type AS key, epoch_us(ts) AS ts, event_id % 100 AS v
  FROM events WHERE epoch_us(ts) < {_TWAP_W1}),
r AS (
  SELECT key, ts, v,
         coalesce(lead(ts) OVER (PARTITION BY key ORDER BY ts, v),
                  {_TWAP_W1}) AS nxt
  FROM s),
c AS (
  SELECT key, v,
         greatest(least(nxt, {_TWAP_W1})
                  - greatest(ts, {_TWAP_W0}), 0) AS cover
  FROM r)
SELECT key, CAST(sum(v * cover) AS BIGINT) AS num,
       CAST(sum(cover) AS BIGINT) AS den
FROM c WHERE cover > 0 GROUP BY key
"""


_KM_CUTOFF_DAY = 19773  # 2024-02-20 UTC: earlier last-activity = churned


def _q_km_lifetable(spark, sf_dir):
    """Kaplan-Meier lifetable (operators/survival.py) over per-user
    activity spans in days, three hash cohorts: exact (n_risk, d, c)
    per exit day; churn = last activity before the fixed cutoff,
    otherwise right-censored."""
    from osm_hadoop_spark.operators.survival import km_lifetable

    day = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
    subs = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id"), day.alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("start"), F.max("day").alias("end"))
        .select(
            (F.col("user_id") % 3).alias("key"),
            "start",
            "end",
            (F.col("end") < _KM_CUTOFF_DAY).alias("observed"),
        )
    )
    return km_lifetable(subs)


_ORACLE_KM = f"""
WITH subs AS (
  SELECT user_id % 3 AS key,
         min(epoch_us(ts) // 86400000000) AS s,
         max(epoch_us(ts) // 86400000000) AS e
  FROM events GROUP BY user_id),
o AS (SELECT key, s, e, e < {_KM_CUTOFF_DAY} AS obs FROM subs),
t AS (SELECT DISTINCT key, e AS t FROM o)
SELECT t.key, t.t,
       CAST((SELECT count(*) FROM o
             WHERE o.key = t.key AND o.s <= t.t AND o.e >= t.t)
            AS BIGINT) AS n_risk,
       CAST((SELECT count(*) FROM o
             WHERE o.key = t.key AND o.e = t.t AND o.obs)
            AS BIGINT) AS d,
       CAST((SELECT count(*) FROM o
             WHERE o.key = t.key AND o.e = t.t AND NOT o.obs)
            AS BIGINT) AS c
FROM t
"""


def _q_json_key_census(spark, sf_dir):
    """Top-level JSON key census (operators/semistruct.py) over a
    derived payload with conditional keys — schema-inference profiling
    for a semi-structured column. The payload is built by
    engine-identical string concatenation; each engine then parses
    with its native JSON machinery (json_object_keys / json_keys)."""
    from osm_hadoop_spark.operators.semistruct import json_key_census

    j = F.concat(
        F.lit('{"u": '),
        F.col("user_id").cast("string"),
        F.when(F.col("event_type") == "click", F.lit(', "c": 1'))
        .otherwise(F.lit("")),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit(', "x": '), F.col("event_id").cast("string")),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return json_key_census(
        _t(spark, sf_dir, "events").select(j.alias("payload")), "payload"
    )


_ORACLE_JSON_KEYS = """
WITH p AS (
  SELECT '{"u": ' || CAST(user_id AS VARCHAR)
         || CASE WHEN event_type = 'click' THEN ', "c": 1' ELSE '' END
         || CASE WHEN event_id % 5 = 0
                 THEN ', "x": ' || CAST(event_id AS VARCHAR) ELSE '' END
         || '}' AS payload
  FROM events),
k AS (SELECT unnest(json_keys(payload)) AS key FROM p)
SELECT key, CAST(count(*) AS BIGINT) AS n_docs FROM k GROUP BY key
"""


def _q_assortativity(spark, sf_dir):
    """Exact degree-assortativity sums (operators/graphstats.py) over
    the shared block graph."""
    from osm_hadoop_spark.operators.graphstats import assortativity_sums

    return assortativity_sums(_tri_edges(spark, sf_dir))


_DUCK_TRI_EDGES = f"""
pk AS (SELECT p_partkey AS u, p_partkey // 32 AS blk FROM part),
e AS (
  SELECT a.u AS u, b.u AS v
  FROM pk a JOIN pk b ON a.blk = b.blk AND a.u < b.u
  WHERE {_duck_h60("'tg' || a.u || '_' || b.u")} % 7 < 2),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
ed AS (
  SELECT da.d AS da, db.d AS db
  FROM e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v)
"""

_ORACLE_ASSORT = f"""
WITH {_DUCK_TRI_EDGES}
SELECT CAST(count(*) AS BIGINT) AS m,
       CAST(sum(da * db) AS BIGINT) AS s_xy,
       CAST(sum(da + db) AS BIGINT) AS s_x,
       CAST(sum(da * da + db * db) AS BIGINT) AS s_x2
FROM ed
"""

_RICH_KS = (0, 4, 8, 12, 64)


def _q_rich_club(spark, sf_dir):
    """Rich-club ladder (operators/graphstats.py) on the block graph:
    nodes and within-club edges above each degree threshold."""
    from osm_hadoop_spark.operators.graphstats import rich_club_census

    return rich_club_census(_tri_edges(spark, sf_dir), _RICH_KS)


def _oracle_rich_club() -> str:
    vals = ", ".join(f"({k})" for k in _RICH_KS)
    return f"""
WITH {_DUCK_TRI_EDGES},
ks(k) AS (VALUES {vals}),
nodes AS (
  SELECT ks.k, CAST(sum(CASE WHEN deg.d > ks.k THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nodes
  FROM ks CROSS JOIN deg GROUP BY ks.k),
ee AS (
  SELECT ks.k, CAST(sum(CASE WHEN ed.da > ks.k AND ed.db > ks.k
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
  FROM ks CROSS JOIN ed GROUP BY ks.k)
SELECT CAST(nodes.k AS BIGINT) AS k, nodes.n_nodes,
       CAST(coalesce(ee.n_edges, 0) AS BIGINT) AS n_edges
FROM nodes LEFT JOIN ee ON ee.k = nodes.k
"""


def _mk_cells(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select(
            (F.col("user_id") % 6).alias("cx"),
            (F.expr("user_id DIV 6") % 5).alias("cy"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .alias("t"),
        )
        .groupBy("cx", "cy", "t")
        .agg(F.count(F.lit(1)).alias("v"))
    )


def _q_emerging_hotspots(spark, sf_dir):
    """ArcGIS-style emerging-hotspot classification as a COMPOSITION of
    two existing exact operators on the 6x5 cell grid: Getis-Ord Gi*
    (spatial heat over the whole period) joined to Mann-Kendall (trend
    of the cell's daily series), classified by exact SIGNS — no
    z-threshold floats, every label reproducible."""
    from osm_hadoop_spark.operators.spatialstats import (
        getis_ord_gi,
        mann_kendall,
    )

    series = _mk_cells(spark, sf_dir)
    totals = series.groupBy("cx", "cy").agg(F.sum("v").alias("n"))
    gi = getis_ord_gi(totals)
    mk = mann_kendall(series)
    g, s = F.col("gi_num"), F.col("s_stat")
    cls = (
        F.when((g > 0) & (s > 0), "hot_intensifying")
        .when((g > 0) & (s < 0), "hot_waning")
        .when(g > 0, "hot_flat")
        .when((g < 0) & (s > 0), "cold_warming")
        .when(g < 0, "cold")
        .otherwise("neutral")
    )
    return (
        gi.join(mk, ["cx", "cy"])
        .select("cx", "cy", "gi_num", "s_stat", cls.alias("class"))
    )


_ORACLE_EMERGING = """
WITH s AS (
  SELECT user_id % 6 AS cx, (user_id // 6) % 5 AS cy,
         epoch_us(ts) // 86400000000 AS t, CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2, 3),
cells AS (SELECT cx, cy, CAST(sum(v) AS BIGINT) AS n FROM s GROUP BY 1, 2),
st AS (SELECT count(*) AS nn, sum(n) AS sm FROM cells),
win AS (
  SELECT a.cx, a.cy,
         CAST(sum(b.n) AS BIGINT) AS window_sum,
         CAST(count(*) AS BIGINT) AS k
  FROM cells a
  CROSS JOIN (VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  GROUP BY a.cx, a.cy),
gi AS (
  SELECT cx, cy,
         CAST(st.nn * window_sum - k * st.sm AS BIGINT) AS gi_num
  FROM win CROSS JOIN st),
mkp AS (
  SELECT a.cx, a.cy,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS ss
  FROM s a JOIN s b ON a.cx = b.cx AND a.cy = b.cy AND a.t < b.t
  GROUP BY 1, 2),
mk AS (
  SELECT cells.cx, cells.cy, CAST(coalesce(mkp.ss, 0) AS BIGINT) AS s_stat
  FROM cells LEFT JOIN mkp USING (cx, cy))
SELECT gi.cx, gi.cy, gi.gi_num, mk.s_stat,
       CASE WHEN gi_num > 0 AND s_stat > 0 THEN 'hot_intensifying'
            WHEN gi_num > 0 AND s_stat < 0 THEN 'hot_waning'
            WHEN gi_num > 0 THEN 'hot_flat'
            WHEN gi_num < 0 AND s_stat > 0 THEN 'cold_warming'
            WHEN gi_num < 0 THEN 'cold'
            ELSE 'neutral' END AS class
FROM gi JOIN mk USING (cx, cy)
"""


_MRR_GRID = 1 << 14  # operators/mbr.py GRID_BUDGET: int64-exact outputs
# group count sized so points-per-group stays hull-sized at the sweep SFs:
# the oracle's hull re-derivation is deliberately brute (O(n^3) per group)
# and 400 groups at sf0.1 put 250 points in each — raised to 1000 (round-4
# sf0.1 sweep; ~100/group at sf0.1, ~10 at sf0.01)
_MRR_G = 1000


def _q_min_rect(spark, sf_dir):
    """Minimum rotated rectangle (operators/mbr.py): rotating calipers
    over the monotone-chain hull, area reported as the reduced exact
    fraction W*H/L (Freeman-Shapira edge theorem; JTS
    getMinimumRectangle semantics). The oracle re-derives hulls by the
    exclusion test, hull EDGES as vertex pairs with every point weakly
    left, and the argmin by HUGEINT cross-multiplication — a fully
    independent formulation; the sandwich hull<=MBR<=bbox and an
    all-directions brute force are pinned in tests/test_mbr.py."""
    from osm_hadoop_spark.operators.mbr import min_rotated_rect
    from osm_hadoop_spark.operators.textstats import h60

    s = F.col("event_id").cast("string")
    pts = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % _MRR_G).alias("g"),
        (h60(F.concat(F.lit("mrx"), s)) % _MRR_GRID).alias("x"),
        (h60(F.concat(F.lit("mry"), s)) % _MRR_GRID).alias("y"),
    )
    feats = pts.groupBy("g").agg(
        F.collect_list("x").alias("xs"), F.collect_list("y").alias("ys")
    )
    return min_rotated_rect(feats)


def _oracle_min_rect() -> str:
    hx = _duck_h60("'mrx' || CAST(event_id AS VARCHAR)")
    hy = _duck_h60("'mry' || CAST(event_id AS VARCHAR)")
    return f"""
WITH pts0 AS (SELECT event_id % {_MRR_G} AS g, {hx} % {_MRR_GRID} AS x,
                     {hy} % {_MRR_GRID} AS y FROM events),
p AS (SELECT DISTINCT g, x, y FROM pts0),
seg AS (
  SELECT DISTINCT p.g, p.x, p.y FROM p
  JOIN p a ON a.g = p.g AND (a.x <> p.x OR a.y <> p.y)
  JOIN p b ON b.g = p.g AND (b.x <> p.x OR b.y <> p.y)
  WHERE (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
    AND p.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
    AND p.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y)),
he AS (
  -- boundary points = sources of right-empty directed pairs: a point is
  -- NOT strictly interior iff some direction from it has no point
  -- strictly right. Expressed as min-cross aggregation over the g-keyed
  -- triple hash join (O(n^3) rows through one pipeline — replaces the
  -- earlier point-in-some-triangle CTE, whose O(n^4) was prohibitive at
  -- sf0.1, and a correlated NOT EXISTS DuckDB planned as a nested loop);
  -- same hull, opposite characterization, still engine-free
  SELECT g, x, y FROM (
    SELECT a.g, a.x AS x, a.y AS y,
           min((b.x - a.x) * (w.y - a.y) - (b.y - a.y) * (w.x - a.x)) AS mn
    FROM p a
    JOIN p b ON b.g = a.g AND (a.x <> b.x OR a.y <> b.y)
    JOIN p w ON w.g = a.g
    GROUP BY a.g, a.x, a.y, b.x, b.y)
  GROUP BY g, x, y HAVING max(mn) >= 0
  UNION
  -- a group with exactly ONE distinct point has no directed pair b, so
  -- the min-cross characterization is vacuous; its lone point is its
  -- whole hull (round-5 ADVICE fix — the engine returns n_hull=1,
  -- mbr 0/1, bbox 0 for such groups)
  SELECT g, MIN(x) AS x, MIN(y) AS y FROM p
  GROUP BY g HAVING COUNT(*) = 1),
hull AS (SELECT g, x, y FROM he EXCEPT SELECT * FROM seg),
edges AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS bby
  FROM hull a JOIN hull b ON a.g = b.g AND (a.x <> b.x OR a.y <> b.y)
  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.g = a.g
      AND (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) < 0)),
proj AS (
  SELECT e.g,
         (e.bx - e.ax) * (e.bx - e.ax) + (e.bby - e.ay) * (e.bby - e.ay) AS den,
         MAX((e.bx - e.ax) * (p.x - e.ax) + (e.bby - e.ay) * (p.y - e.ay))
       - MIN((e.bx - e.ax) * (p.x - e.ax) + (e.bby - e.ay) * (p.y - e.ay)) AS w,
         MAX((e.bx - e.ax) * (p.y - e.ay) - (e.bby - e.ay) * (p.x - e.ax))
       - MIN((e.bx - e.ax) * (p.y - e.ay) - (e.bby - e.ay) * (p.x - e.ax)) AS hh
  FROM edges e JOIN p ON p.g = e.g
  GROUP BY e.g, e.ax, e.ay, e.bx, e.bby),
cand AS (SELECT g, w * hh AS num, den FROM proj),
best AS (
  SELECT DISTINCT g, CAST(num // gcd(num, den) AS BIGINT) AS mbr_num,
         CAST(den // gcd(num, den) AS BIGINT) AS mbr_den
  FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM cand f WHERE f.g = c.g
      AND CAST(f.num AS HUGEINT) * c.den < CAST(c.num AS HUGEINT) * f.den)),
nh AS (SELECT g, CAST(COUNT(*) AS INT) AS n_hull FROM hull GROUP BY g),
bbox AS (SELECT g, (MAX(x) - MIN(x)) * (MAX(y) - MIN(y)) AS bbox_area
         FROM p GROUP BY g)
SELECT nh.g, nh.n_hull, COALESCE(best.mbr_num, 0) AS mbr_num,
       COALESCE(best.mbr_den, 1) AS mbr_den, bbox.bbox_area
FROM nh JOIN bbox ON bbox.g = nh.g LEFT JOIN best ON best.g = nh.g
"""


# ---------------------------------------------------------------------------
# line-of-sight over a gridded DEM (operators/visibility.py)
# ---------------------------------------------------------------------------

_LOS_GRID, _LOS_HMOD, _LOS_HOFF, _LOS_EMOD = 48, 900, 400, 1500


def _q_line_of_sight(spark, sf_dir):
    """Intervisibility verdicts (operators/visibility.py::line_of_sight):
    synthetic observer->target pairs from orders walk the SAME Bresenham
    closed form as E5 over a DEM derived from part (max-dedup per cell),
    blocking decided by exact cross-multiplied integer comparison against
    the interpolated sight line.  The whole ladder is written once in the
    dual-render DSL (functions/exprdsl.py) and the oracle below renders
    the identical formula to DuckDB — bit-exact, no floats anywhere."""
    from osm_hadoop_spark.operators.textstats import h60
    from osm_hadoop_spark.operators.visibility import line_of_sight

    s = F.col("o_orderkey").cast("string")

    def coord(tag):
        return (h60(F.concat(F.lit(tag), s)) % _LOS_GRID).cast("long")

    def height(tag):
        return (h60(F.concat(F.lit(tag), s)) % _LOS_HMOD + _LOS_HOFF).cast("long")

    pairs = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("pair_id"),
            coord("vox").alias("ox"),
            coord("voy").alias("oy"),
            coord("vtx").alias("tx"),
            coord("vty").alias("ty"),
            height("voh").alias("oh"),
            height("vth").alias("th"),
        )
    )
    return line_of_sight(pairs, _los_dem(spark, sf_dir))


def _los_dem(spark, sf_dir):
    """Hash-derived synthetic terrain shared by the visibility and D8
    hydrology queries: one max-deduped elevation per covered cell."""
    from osm_hadoop_spark.operators.textstats import h60

    p = F.col("p_partkey").cast("string")
    return (
        _t(spark, sf_dir, "part")
        .select(
            (h60(F.concat(F.lit("dmx"), p)) % _LOS_GRID).cast("long").alias("cx"),
            (h60(F.concat(F.lit("dmy"), p)) % _LOS_GRID).cast("long").alias("cy"),
            (h60(F.concat(F.lit("dme"), p)) % _LOS_EMOD + 1).cast("long").alias("e"),
        )
        .groupBy("cx", "cy")
        .agg(F.max("e").alias("elev"))
    )


def _los_dem_sql() -> str:
    def hd(tag):
        return _duck_h60(f"'{tag}' || CAST(p_partkey AS VARCHAR)")

    return f"""
  SELECT cx, cy, MAX(e) AS elev FROM (
    SELECT {hd('dmx')} % {_LOS_GRID} AS cx,
           {hd('dmy')} % {_LOS_GRID} AS cy,
           {hd('dme')} % {_LOS_EMOD} + 1 AS e
    FROM part) GROUP BY cx, cy"""


def _oracle_line_of_sight() -> str:
    from osm_hadoop_spark.functions.exprdsl import sql_layers
    from osm_hadoop_spark.operators.visibility import (
        los_block_bindings,
        los_norm_bindings,
        los_step_bindings,
    )

    def hp(tag):
        return _duck_h60(f"'{tag}' || CAST(o_orderkey AS VARCHAR)")

    norm = sql_layers("SELECT * FROM pairs", los_norm_bindings())
    step = sql_layers("SELECT * FROM walk0", los_step_bindings())
    blk = sql_layers("SELECT * FROM wd", los_block_bindings())
    return f"""
WITH pairs AS (
  SELECT o_orderkey AS pair_id,
         {hp('vox')} % {_LOS_GRID} AS ox, {hp('voy')} % {_LOS_GRID} AS oy,
         {hp('vtx')} % {_LOS_GRID} AS tx, {hp('vty')} % {_LOS_GRID} AS ty,
         {hp('voh')} % {_LOS_HMOD} + {_LOS_HOFF} AS oh,
         {hp('vth')} % {_LOS_HMOD} + {_LOS_HOFF} AS th
  FROM orders WHERE o_orderkey % 5 = 0),
dem AS ({_los_dem_sql()}),
norm AS (SELECT * FROM {norm}),
walk0 AS (
  SELECT *, UNNEST(generate_series(CAST(1 AS BIGINT), dfast - 1)) AS k
  FROM norm WHERE dfast >= 2),
stepd AS (SELECT * FROM {step}),
wd AS (
  SELECT s.*, COALESCE(d.elev, 0) AS elev
  FROM stepd s LEFT JOIN dem d ON s.cx = d.cx AND s.cy = d.cy)
SELECT pair_id, CAST(dfast AS BIGINT) AS steps,
       CAST(0 AS BIGINT) AS n_blocked, CAST(NULL AS BIGINT) AS first_block,
       CAST(1 AS BIGINT) AS visible
FROM norm WHERE dfast < 2
UNION ALL
SELECT pair_id, CAST(dfast AS BIGINT) AS steps,
       CAST(SUM(blockedi) AS BIGINT) AS n_blocked,
       CAST(MIN(CASE WHEN blockedi = 1 THEN obs_k END) AS BIGINT) AS first_block,
       CAST(CASE WHEN SUM(blockedi) = 0 THEN 1 ELSE 0 END AS BIGINT) AS visible
FROM {blk}
GROUP BY pair_id, dfast
"""


# --- viewshed census over the shared DEM (operators/visibility.py) -----------
# Per-observer visible-cell count in a Chebyshev-12 window: every window
# cell is a sight-line target at terrain height, verdicts reuse the LOS
# dual-render ladder verbatim, and the packed pair key recovers the
# observer for ONE final hash aggregate.
_VIEWSHED_R = 12


def _q_viewshed(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60
    from osm_hadoop_spark.operators.visibility import viewshed

    s = F.col("o_orderkey").cast("string")
    obs = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 199 == 0)
        .select(
            F.col("o_orderkey").alias("obs_id"),
            (h60(F.concat(F.lit("vwx"), s)) % _LOS_GRID).cast("long").alias("ox"),
            (h60(F.concat(F.lit("vwy"), s)) % _LOS_GRID).cast("long").alias("oy"),
            (h60(F.concat(F.lit("vwh"), s)) % _LOS_HMOD + _LOS_HOFF)
            .cast("long")
            .alias("oh"),
        )
    )
    return viewshed(obs, _los_dem(spark, sf_dir), radius=_VIEWSHED_R)


def _oracle_viewshed() -> str:
    from osm_hadoop_spark.functions.exprdsl import sql_layers
    from osm_hadoop_spark.operators.visibility import (
        los_block_bindings,
        los_norm_bindings,
        los_step_bindings,
    )

    def hp(tag):
        return _duck_h60(f"'{tag}' || CAST(o_orderkey AS VARCHAR)")

    norm = sql_layers("SELECT * FROM pairs", los_norm_bindings())
    step = sql_layers("SELECT * FROM walk0", los_step_bindings())
    blk = sql_layers("SELECT * FROM wd", los_block_bindings())
    r, w = _VIEWSHED_R, 2 * _VIEWSHED_R + 1
    return f"""
WITH obs AS (
  SELECT o_orderkey AS obs_id,
         {hp('vwx')} % {_LOS_GRID} AS ox, {hp('vwy')} % {_LOS_GRID} AS oy,
         {hp('vwh')} % {_LOS_HMOD} + {_LOS_HOFF} AS oh
  FROM orders WHERE o_orderkey % 199 = 0),
offs AS (SELECT dxx, dyy
         FROM (SELECT unnest(generate_series(-{r}, {r})) AS dxx),
              (SELECT unnest(generate_series(-{r}, {r})) AS dyy)
         WHERE dxx <> 0 OR dyy <> 0),
dem AS ({_los_dem_sql()}),
tgt AS (
  SELECT obs_id * 10000 + (dxx + {r}) * {w} + (dyy + {r}) AS pair_id,
         ox, oy, oh, ox + dxx AS tx, oy + dyy AS ty
  FROM obs, offs),
pairs AS (
  SELECT t.pair_id, t.ox, t.oy, t.tx, t.ty, t.oh,
         COALESCE(d.elev, 0) AS th
  FROM tgt t LEFT JOIN dem d ON d.cx = t.tx AND d.cy = t.ty),
norm AS (SELECT * FROM {norm}),
walk0 AS (
  SELECT *, UNNEST(generate_series(CAST(1 AS BIGINT), dfast - 1)) AS k
  FROM norm WHERE dfast >= 2),
stepd AS (SELECT * FROM {step}),
wd AS (
  SELECT s.*, COALESCE(d.elev, 0) AS elev
  FROM stepd s LEFT JOIN dem d ON s.cx = d.cx AND s.cy = d.cy),
v AS (
  SELECT pair_id, 1 AS visible FROM norm WHERE dfast < 2
  UNION ALL
  SELECT pair_id, CASE WHEN SUM(blockedi) = 0 THEN 1 ELSE 0 END AS visible
  FROM {blk} GROUP BY pair_id)
SELECT pair_id // 10000 AS obs_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(visible) AS BIGINT) AS n_visible
FROM v GROUP BY 1
"""


# ---------------------------------------------------------------------------
# D8 hydrology over the shared DEM (operators/hydrology.py)
# ---------------------------------------------------------------------------

_D8_ROUNDS = 6


def _q_d8_flow_dir(spark, sf_dir):
    """Per-cell D8 drainage verdict (operators/hydrology.py::
    d8_flow_direction) over the SAME hash-derived DEM the visibility
    query reads: steepest-descent neighbor by exact cross-multiplied
    integer slope^2, compass-rank tie-break, ESRI codes (0 = sink).
    One scatter + one hash aggregate + a codegen argmax ladder — the
    ladder is written once in the dual-render DSL and the oracle runs
    the identical formula."""
    from osm_hadoop_spark.operators.hydrology import d8_flow_direction

    return d8_flow_direction(_los_dem(spark, sf_dir))


def _q_flow_accum(spark, sf_dir):
    """Bounded-round D8 flow accumulation (operators/hydrology.py::
    flow_accumulation): acc(c) = cells whose drainage path reaches c
    within _D8_ROUNDS hops, each round one slim (cx, cy, a) join against
    the checkpointed pointer table.  The oracle unrolls the identical
    recurrence round by round (the pagerank unrolled-twin pattern)."""
    from osm_hadoop_spark.operators.hydrology import flow_accumulation

    return flow_accumulation(_los_dem(spark, sf_dir), _D8_ROUNDS)


def _stencil_ctes() -> str:
    """CTE chain dem -> scatter -> pivot (`agg`: cx, cy, ce, e0..e7),
    the DuckDB twin of hydrology.neighbor_pivot — shared by the D8
    direction twin and the Horn terrain twin."""
    from osm_hadoop_spark.operators.hydrology import D8_OFFSETS

    offs = ", ".join(
        f"({dx}, {dy}, {k})" for k, (dx, dy, _) in enumerate(D8_OFFSETS)
    )
    pivots = ",\n    ".join(
        f"COALESCE(MAX(CASE WHEN rnk = {k} THEN elev END), 0) AS e{k}"
        for k in range(8)
    )
    return f"""
dem AS ({_los_dem_sql()}),
offs AS (SELECT * FROM (VALUES {offs}) AS t(dx, dy, rnk)),
scat AS (
  SELECT d.cx - o.dx AS cx, d.cy - o.dy AS cy, o.rnk AS rnk, d.elev AS elev
  FROM dem d CROSS JOIN offs o
  UNION ALL
  SELECT cx, cy, 8 AS rnk, elev FROM dem),
agg AS (
  SELECT cx, cy, MAX(CASE WHEN rnk = 8 THEN elev END) AS ce,
    {pivots}
  FROM scat GROUP BY cx, cy
  HAVING MAX(CASE WHEN rnk = 8 THEN elev END) IS NOT NULL)"""


def _d8_dir_ctes() -> str:
    """Shared CTE chain dem -> scatter -> pivot -> pick/rank ladders ->
    `dirs` (cx, cy, dir, nx, ny, dropv), the DuckDB twin of
    d8_flow_direction rendered from the same bindings."""
    from osm_hadoop_spark.functions.exprdsl import sql_layers
    from osm_hadoop_spark.operators.hydrology import (
        d8_pick_bindings,
        d8_rank_bindings,
    )

    pick = sql_layers("SELECT * FROM agg", d8_pick_bindings())
    rnkd = sql_layers("SELECT * FROM pick", d8_rank_bindings())
    return f"""{_stencil_ctes()},
pick AS (SELECT * FROM {pick}),
rnkd AS (SELECT * FROM {rnkd}),
dirs AS (
  SELECT cx, cy, CAST(dircode AS BIGINT) AS dir,
         CAST(CASE WHEN rnk >= 0 THEN cx + dxv END AS BIGINT) AS nx,
         CAST(CASE WHEN rnk >= 0 THEN cy + dyv END AS BIGINT) AS ny,
         CAST(CASE WHEN rnk >= 0 THEN dropv END AS BIGINT) AS dropv
  FROM rnkd)"""


def _oracle_d8_flow_dir() -> str:
    return f"WITH {_d8_dir_ctes()}\nSELECT * FROM dirs"


def _q_horn_terrain(spark, sf_dir):
    """Horn (1981) terrain derivatives (operators/terrain.py::
    horn_terrain) over the SAME hash-derived DEM the visibility and D8
    queries read: integer gradient numerators gx/gy from the weighted
    3x3 differences, squared gradient magnitude g2, the D8-coded
    steepest-descent aspect sector (pure sign/|u|-vs-|v| ladder — no
    trig), and the NW-light hillshade numerator -(gx+gy).  One scatter
    + one hash aggregate + a codegen ladder rendered from the same
    dual-render bindings the oracle runs."""
    from osm_hadoop_spark.operators.terrain import horn_terrain

    return horn_terrain(_los_dem(spark, sf_dir))


def _oracle_horn_terrain() -> str:
    from osm_hadoop_spark.functions.exprdsl import sql_layers
    from osm_hadoop_spark.operators.terrain import horn_bindings

    horn = sql_layers("SELECT * FROM agg", horn_bindings())
    return f"""
WITH {_stencil_ctes()},
horn AS (SELECT * FROM {horn})
SELECT cx, cy, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(g2 AS BIGINT) AS g2, CAST(aspect AS BIGINT) AS aspect,
       CAST(shade AS BIGINT) AS shade
FROM horn"""


def _q_hillshade(spark, sf_dir):
    """IEEE-exact Horn hillshade (operators/terrain.py::hillshade255)
    over the shared DEM: float +,-,*,/,sqrt,floor only — all correctly
    rounded, so the twin's identical expression hash-matches with no
    tolerance."""
    from osm_hadoop_spark.operators.terrain import hillshade255, horn_terrain

    return hillshade255(horn_terrain(_los_dem(spark, sf_dir)))


def _oracle_hillshade() -> str:
    from osm_hadoop_spark.functions.exprdsl import sql_layers
    from osm_hadoop_spark.operators.terrain import horn_bindings

    horn = sql_layers("SELECT * FROM agg", horn_bindings())
    return f"""
WITH {_stencil_ctes()},
horn AS (SELECT * FROM {horn}),
pq AS (SELECT cx, cy, CAST(gx AS DOUBLE) / 240.0 AS p,
              CAST(gy AS DOUBLE) / 240.0 AS q
       FROM horn)
SELECT cx, cy,
       CAST(floor(greatest(0.0, least(255.0,
         254.0 * sqrt(0.5) * (1.0 - p - q) / sqrt(1.0 + p * p + q * q)
         + 1.0))) AS BIGINT) AS shade255
FROM pq"""


_WATERSHED_DOUBLINGS = 5


def _q_watershed(spark, sf_dir):
    """Basin labels (operators/hydrology.py::watershed_basins): pointer
    doubling over the D8 forest — 5 doubling rounds resolve every
    drainage chain up to 32 hops, each round ONE slim 4-column shuffle
    join (the O(log L) alternative to hop-at-a-time walking).  The
    oracle unrolls the same squaring: p_{k+1} = p_k o p_k as self-joins."""
    from osm_hadoop_spark.operators.hydrology import watershed_basins

    return watershed_basins(_los_dem(spark, sf_dir), _WATERSHED_DOUBLINGS)


def _oracle_watershed() -> str:
    dbl = [
        f"""
p{k} AS (
  SELECT a.cx, a.cy, b.px, b.py
  FROM p{k - 1} a JOIN p{k - 1} b ON a.px = b.cx AND a.py = b.cy)"""
        for k in range(1, _WATERSHED_DOUBLINGS + 1)
    ]
    return f"""
WITH {_d8_dir_ctes()},
p0 AS (
  SELECT r.cx, r.cy, COALESCE(e.cx, r.cx) AS px, COALESCE(e.cy, r.cy) AS py
  FROM dirs r LEFT JOIN dem e ON r.nx = e.cx AND r.ny = e.cy),
{','.join(dbl)}
SELECT cx, cy, px AS bx, py AS "by" FROM p{_WATERSHED_DOUBLINGS}"""


def _oracle_flow_accum() -> str:
    rounds = []
    for t in range(1, _D8_ROUNDS + 1):
        rounds.append(f"""
a{t} AS (
  SELECT m.cx, m.cy, m.a FROM (
    SELECT p.nx AS cx, p.ny AS cy, CAST(SUM(a.a) AS BIGINT) AS a
    FROM a{t - 1} a JOIN ptr p ON a.cx = p.cx AND a.cy = p.cy
    GROUP BY p.nx, p.ny) m
  JOIN cells c ON m.cx = c.cx AND m.cy = c.cy)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM a{t}" for t in range(_D8_ROUNDS + 1)
    )
    return f"""
WITH {_d8_dir_ctes()},
ptr AS (SELECT cx, cy, nx, ny FROM dirs WHERE dir > 0),
cells AS (SELECT cx, cy FROM dem),
a0 AS (SELECT cx, cy, CAST(1 AS BIGINT) AS a FROM cells),
{','.join(rounds)}
SELECT cx, cy, CAST(SUM(a) AS BIGINT) AS acc
FROM ({union}) GROUP BY cx, cy"""


# ---------------------------------------------------------------------------
# modality-interleaving statistics (operators/span_stats.py)
# The input_hint's interleaved text+media documents, characterized AS
# interleavings: per-doc RLE of span kinds (pure codegen array lambdas —
# zero explode, zero shuffle) and the corpus kind-transition matrix (slim
# bigram explode into a map-side-combinable aggregate). Docs are synthesized
# with VARIABLE span counts (2..7) so runs are non-trivial; the oracle
# rebuilds the same kind sequences with DuckDB list lambdas and re-derives
# runs/transitions independently (1-indexed list algebra vs Spark's
# 0-indexed — same math, different indexing conventions).


def _interleaved_kind_docs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    null_s = F.lit(None).cast("string")
    return o.select(
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("doc_id"),
        F.expr(
            "transform(sequence(0, cast(o_orderkey % 6 + 1 AS int)), i -> "
            "struct(CASE (o_orderkey * (i + 1)) % 4 WHEN 2 THEN 'media' "
            "WHEN 3 THEN 'osm.node' ELSE 'text' END AS kind, "
            "cast(NULL AS string) AS text, cast(NULL AS string) AS media_ref, "
            "cast(i AS int) AS offset))"
        ).alias("spans"),
    )


_DUCK_KIND_DOCS = """
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS doc_id,
         list_transform(range(0, CAST(o_orderkey % 6 + 2 AS INT)), i ->
           CASE (o_orderkey * (i + 1)) % 4 WHEN 2 THEN 'media'
                WHEN 3 THEN 'osm.node' ELSE 'text' END) AS kinds
  FROM orders
"""


def _q_span_kind_rle(spark, sf_dir):
    from osm_hadoop_spark.operators.span_stats import kind_runs

    return kind_runs(_interleaved_kind_docs(spark, sf_dir))


_ORACLE_SPAN_RLE = f"""
WITH d AS ({_DUCK_KIND_DOCS}),
r AS (
  SELECT doc_id, kinds, len(kinds) AS n_spans,
         list_filter(range(0, len(kinds)),
                     i -> i = 0 OR kinds[i + 1] != kinds[i]) AS starts
  FROM d),
runs AS (
  SELECT doc_id, n_spans, starts,
         list_transform(range(0, len(starts)), j ->
           (CASE WHEN j + 1 < len(starts) THEN starts[j + 2]
                 ELSE n_spans END) - starts[j + 1]) AS lens,
         list_transform(range(0, len(starts)), j -> kinds[starts[j + 1] + 1])
           AS run_kinds
  FROM r)
SELECT doc_id, CAST(n_spans AS INT) AS n_spans,
       CAST(len(starts) AS INT) AS n_runs,
       CAST(list_aggregate(lens, 'max') AS INT) AS max_run,
       array_to_string(list_transform(range(0, len(starts)),
         j -> run_kinds[j + 1] || ':' || CAST(lens[j + 1] AS VARCHAR)), '|')
         AS runs_rle
FROM runs
"""


def _q_span_transitions(spark, sf_dir):
    from osm_hadoop_spark.operators.span_stats import kind_transitions

    return kind_transitions(_interleaved_kind_docs(spark, sf_dir))


_ORACLE_SPAN_TRANSITIONS = f"""
WITH d AS ({_DUCK_KIND_DOCS}),
p AS (
  SELECT unnest(list_transform(range(0, len(kinds) + 1), i -> struct_pack(
           kf := CASE WHEN i = 0 THEN '^' ELSE kinds[i] END,
           kt := CASE WHEN i = len(kinds) THEN '$' ELSE kinds[i + 1] END)))
         AS s
  FROM d)
SELECT s.kf AS kind_from, s.kt AS kind_to,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM p GROUP BY 1, 2
"""


def _q_span_media_density(spark, sf_dir):
    from osm_hadoop_spark.operators.span_stats import media_density

    return media_density(_interleaved_kind_docs(spark, sf_dir))


_ORACLE_SPAN_MEDIA_DENSITY = f"""
WITH d AS ({_DUCK_KIND_DOCS})
SELECT doc_id, CAST(len(kinds) AS INT) AS n_spans,
       CAST(len(list_filter(kinds, k -> k = 'media')) AS INT) AS n_media
FROM d
"""


# ---------------------------------------------------------------------------
# media-asset dedup (operators/media_dedup.py): collapse duplicate media
# assets to canonical refs and rewrite documents, preserving the span
# sequence everywhere but the substituted media_ref cells. Assets are
# simulated deterministically (ref r -> content r % 100, ~5 mirrors per
# asset) so the DuckDB twin re-derives identical content hashes; the
# rewrite query proves the whole chain (explode -> map join -> ordered
# reassembly -> fingerprint) end-to-end as ONE value-oracled row per doc.


def _media_ref_docs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    null_s = F.lit(None).cast("string")

    def media_span(ref_expr, off):
        return F.struct(
            F.lit("media").alias("kind"),
            null_s.alias("text"),
            F.concat(F.lit("media://"), ref_expr.cast("string")).alias(
                "media_ref"
            ),
            F.lit(off).cast("int").alias("offset"),
        )

    return o.select(
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("o_orderpriority").alias("text"),
                null_s.alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            media_span(F.col("o_orderkey") % 499, 1),
            media_span((F.col("o_orderkey") * 7) % 499, 2),
        ).alias("spans"),
    )


def _media_content_h():
    # production: h60 over asset bytes; simulation: ref r -> content r % 100
    c = F.substring(F.col("media_ref"), 9, 10).cast("bigint") % 100
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("asset"), c.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def _q_media_asset_dedup(spark, sf_dir):
    from osm_hadoop_spark.operators.media_dedup import (
        asset_table,
        canonical_assets,
    )

    docs = _media_ref_docs(spark, sf_dir)
    return canonical_assets(asset_table(docs, _media_content_h()))


_DUCK_REFS = """
  SELECT r, 'media://' || CAST(r AS VARCHAR) AS media_ref,
         {h} AS content_h
  FROM range(0, 499) t(r)
""".format(h=_duck_h60("'asset' || CAST(r % 100 AS VARCHAR)"))

_DUCK_LIVE_REFS = """
  SELECT DISTINCT r FROM (
    SELECT o_orderkey % 499 AS r FROM orders
    UNION ALL SELECT (o_orderkey * 7) % 499 FROM orders)
"""

_ORACLE_MEDIA_ASSET_DEDUP = f"""
WITH refs AS ({_DUCK_REFS}),
live AS ({_DUCK_LIVE_REFS})
SELECT content_h, min(media_ref) AS canonical_ref,
       CAST(count(*) AS BIGINT) AS n_refs
FROM refs JOIN live USING (r)
GROUP BY content_h
"""


def _q_media_rewrite_fp(spark, sf_dir):
    from osm_hadoop_spark.operators.media_dedup import (
        asset_table,
        ref_to_canonical,
        rewrite_documents,
    )
    from osm_hadoop_spark.sources.spans import span_fingerprint60

    docs = _media_ref_docs(spark, sf_dir)
    ref_map = ref_to_canonical(asset_table(docs, _media_content_h()))
    return span_fingerprint60(rewrite_documents(docs, ref_map))


_ORACLE_MEDIA_REWRITE_FP = f"""
WITH refs AS ({_DUCK_REFS}),
live AS ({_DUCK_LIVE_REFS}),
canon AS (
  SELECT content_h, min(media_ref) AS canonical_ref
  FROM refs JOIN live USING (r) GROUP BY content_h),
rmap AS (
  SELECT refs.r, canon.canonical_ref
  FROM refs JOIN canon USING (content_h)),
d AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS doc_id,
         [ 'text' || chr(2) || o_orderpriority || chr(2) || '' || chr(2) || '0',
           'media' || chr(2) || '' || chr(2) || m1.canonical_ref || chr(2) || '1',
           'media' || chr(2) || '' || chr(2) || m2.canonical_ref || chr(2) || '2'
         ] AS span_strs
  FROM orders
  JOIN rmap m1 ON m1.r = o_orderkey % 499
  JOIN rmap m2 ON m2.r = (o_orderkey * 7) % 499)
SELECT doc_id,
       {_duck_h60("array_to_string(span_strs, chr(1))")} AS span_fp
FROM d
"""


# ---------------------------------------------------------------------------
# distributed exact moment matrix (operators/linalg.py): the one-pass
# partial-Gram shape (one slim row per Arrow batch crosses the exchange —
# the vectors never shuffle), fixed-point floor(x*2^10) quantization shared
# with the PQ index so the DuckDB twin re-derives identical int64 moments
# by brute-force pair self-join. PCA power iteration consumes the same
# rows driver-side (pytest-pinned against numpy.linalg.eigh).


def _q_gram_matrix(spark, sf_dir):
    from osm_hadoop_spark.operators.linalg import gram_moments

    return gram_moments(_t(spark, sf_dir, "embeddings"))


_ORACLE_GRAM_MATRIX = """
WITH q AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i))
SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS val
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
UNION ALL
SELECT CAST(-1 AS INT), i, CAST(sum(v) AS BIGINT) FROM q GROUP BY 2
UNION ALL
SELECT CAST(-1 AS INT), CAST(-1 AS INT), CAST(count(*) AS BIGINT)
FROM embeddings
"""


# ---------------------------------------------------------------------------
# chi-square token drift (operators/textstats.py::token_drift_chi2): exact
# 2x2 contingency chi-square per token between the 'en' slice and its
# complement, fraction emitted UNREDUCED as decimal-integer strings so the
# cross-engine compare is exact (Spark DECIMAL(38,0) vs DuckDB HUGEINT).


def _q_token_drift(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import token_drift_chi2

    return token_drift_chi2(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en", min_total=5
    )


_ORACLE_TOKEN_DRIFT = f"""
WITH t AS (
  SELECT lang = 'en' AS sl, lower(tok) AS token
  FROM documents, unnest({_DUCK_TOKS}) AS u(tok)),
per AS (
  SELECT token,
         CAST(sum(CASE WHEN sl THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(count(*) AS BIGINT) AS ab_tot
  FROM t GROUP BY token),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
               CAST(sum(ab_tot) AS BIGINT) AS n FROM per),
x AS (
  SELECT token, a, ab_tot, na, n,
         ab_tot - a AS b, na - a AS c, n - na - ab_tot + a AS d
  FROM per, tot)
SELECT token, a, b,
       CAST(CAST(n AS HUGEINT)
            * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
            * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
            AS VARCHAR) AS chi2_num,
       CAST(CAST(ab_tot AS HUGEINT) * (n - ab_tot)
            * CAST(na AS HUGEINT) * (n - na) AS VARCHAR) AS chi2_den
FROM x WHERE ab_tot >= 5
"""


# ---------------------------------------------------------------------------
# per-key autocorrelation moments (operators/timeseries.py::acf_stats):
# all lags from ONE window sort, slim lag unpivot, exact quantized int64
# moment sums; the twin re-derives identical leads with DuckDB windows.


def _q_acf_stats(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import acf_stats

    return acf_stats(_t(spark, sf_dir, "events"), max_lag=5)


_ORACLE_ACF = """
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
         ts, event_id
  FROM events),
l AS (SELECT unnest(generate_series(1, 5)) AS lag_n),
p AS (
  SELECT event_type, lag_n, v AS x,
         lead(v, lag_n) OVER (PARTITION BY event_type, lag_n
                              ORDER BY ts, event_id) AS y
  FROM d CROSS JOIN l)
SELECT event_type, CAST(lag_n AS INT) AS lag_n,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       CAST(sum(x * y) AS BIGINT) AS sxy,
       CAST(sum(x * x) AS BIGINT) AS sxx,
       CAST(sum(y * y) AS BIGINT) AS syy
FROM p WHERE y IS NOT NULL
GROUP BY event_type, lag_n
"""


# ---------------------------------------------------------------------------
# discrete-Fréchet trajectory-similarity join (operators/frechet.py):
# anchor-cell blocked candidate pairs, batch-vectorized DP refine. The
# DuckDB twin REPLAYS the DP cell-by-cell in a recursive CTE carrying
# (prev row, current row prefix) — an inductive derivation of the same
# recurrence, exercised over every candidate pair.

_FRECHET_TAU2 = 30000


def _frechet_traj(spark, sf_dir):
    """Shared hash-derived trajectory fixture (frechet + dtw joins)."""
    from osm_hadoop_spark.operators.textstats import h60

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    tid = F.col("o_orderkey")
    d = o.select(
        tid.alias("tid"),
        tid.cast("string").alias("ts_"),
        (h60(F.concat(F.lit("tx"), tid.cast("string"))) % 4000).alias("x0"),
        (h60(F.concat(F.lit("ty"), tid.cast("string"))) % 4000).alias("y0"),
        (tid % 4 + 3).cast("int").alias("m"),
    )
    h = ("cast(conv(substring(md5(concat('{tag}', ts_, '_', "
         "cast(i as string))), 1, 15), 16, 10) as bigint)")
    return d.select(
        "tid",
        F.expr("x0 div 256").alias("cellx"),
        F.expr("y0 div 256").alias("celly"),
        F.expr(
            "transform(sequence(1, m), i -> x0 + "
            + h.format(tag="dx") + " % 81 - 40)"
        ).alias("xs"),
        F.expr(
            "transform(sequence(1, m), i -> y0 + "
            + h.format(tag="dy") + " % 81 - 40)"
        ).alias("ys"),
    )


def _q_dtw_join(spark, sf_dir):
    """DTW trajectory join (operators/dtw.py) over the SAME trajectory
    fixture and same-cell candidates as frechet_traj_join — the sum-
    semiring sibling, unthresholded so every candidate pair's exact
    integer DTW cost is value-checked."""
    from osm_hadoop_spark.operators.dtw import dtw_join

    return dtw_join(_frechet_traj(spark, sf_dir))


def _oracle_dtw() -> str:
    i2 = "(CASE WHEN j + 1 < n THEN i ELSE i + 1 END)"
    j2 = "(CASE WHEN j + 1 < n THEN j + 1 ELSE 0 END)"
    d2v = (
        f"((axs[{i2} + 1] - bxs[{j2} + 1]) * (axs[{i2} + 1] - bxs[{j2} + 1])"
        f" + (ays[{i2} + 1] - bys[{j2} + 1]) * (ays[{i2} + 1] - bys[{j2} + 1]))"
    )
    val = (
        f"CASE WHEN {j2} = 0 THEN {d2v} + cur[1] "
        f"WHEN {i2} = 0 THEN {d2v} + cur[{j2}] "
        f"ELSE {d2v} + least(prev[{j2} + 1], prev[{j2}], cur[{j2}]) "
        f"END"
    )
    hx = _duck_h60("'dx' || ts_ || '_' || CAST(i AS VARCHAR)")
    hy = _duck_h60("'dy' || ts_ || '_' || CAST(i AS VARCHAR)")
    return f"""
WITH RECURSIVE t AS (
  SELECT o_orderkey AS tid, CAST(o_orderkey AS VARCHAR) AS ts_,
         {_duck_h60("'tx' || CAST(o_orderkey AS VARCHAR)")} % 4000 AS x0,
         {_duck_h60("'ty' || CAST(o_orderkey AS VARCHAR)")} % 4000 AS y0,
         CAST(o_orderkey % 4 + 3 AS INT) AS m
  FROM orders WHERE o_orderkey % 11 = 0),
traj AS (
  SELECT tid, x0 // 256 AS cellx, y0 // 256 AS celly,
         list_transform(range(1, m + 1), i -> x0 + {hx} % 81 - 40) AS xs,
         list_transform(range(1, m + 1), i -> y0 + {hy} % 81 - 40) AS ys
  FROM t),
pairs AS (
  SELECT a.tid AS ta, b.tid AS tb,
         a.xs AS axs, a.ys AS ays, b.xs AS bxs, b.ys AS bys,
         len(a.xs) AS m, len(b.xs) AS n
  FROM traj a JOIN traj b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.tid < b.tid),
dp AS (
  SELECT ta, tb, m, n, axs, ays, bxs, bys,
         0 AS i, 0 AS j,
         CAST([] AS BIGINT[]) AS prev,
         [(axs[1] - bxs[1]) * (axs[1] - bxs[1])
          + (ays[1] - bys[1]) * (ays[1] - bys[1])] AS cur
  FROM pairs
  UNION ALL
  SELECT ta, tb, m, n, axs, ays, bxs, bys,
         {i2} AS i, {j2} AS j,
         CASE WHEN {j2} = 0 THEN cur ELSE prev END AS prev,
         CASE WHEN {j2} = 0 THEN [{val}]
              ELSE list_append(cur, {val}) END AS cur
  FROM dp WHERE NOT (i = m - 1 AND j = n - 1))
SELECT ta AS tid_a, tb AS tid_b, cur[n] AS dtw_d2
FROM dp
WHERE i = m - 1 AND j = n - 1
"""


def _q_frechet_join(spark, sf_dir):
    from osm_hadoop_spark.operators.frechet import frechet_join

    return frechet_join(_frechet_traj(spark, sf_dir), tau_sq=_FRECHET_TAU2)


def _oracle_frechet() -> str:
    i2 = "(CASE WHEN j + 1 < n THEN i ELSE i + 1 END)"
    j2 = "(CASE WHEN j + 1 < n THEN j + 1 ELSE 0 END)"
    d2v = (
        f"((axs[{i2} + 1] - bxs[{j2} + 1]) * (axs[{i2} + 1] - bxs[{j2} + 1])"
        f" + (ays[{i2} + 1] - bys[{j2} + 1]) * (ays[{i2} + 1] - bys[{j2} + 1]))"
    )
    val = (
        f"CASE WHEN {j2} = 0 THEN greatest({d2v}, cur[1]) "
        f"WHEN {i2} = 0 THEN greatest({d2v}, cur[{j2}]) "
        f"ELSE greatest({d2v}, least(prev[{j2} + 1], prev[{j2}], cur[{j2}])) "
        f"END"
    )
    hx = _duck_h60("'dx' || ts_ || '_' || CAST(i AS VARCHAR)")
    hy = _duck_h60("'dy' || ts_ || '_' || CAST(i AS VARCHAR)")
    return f"""
WITH RECURSIVE t AS (
  SELECT o_orderkey AS tid, CAST(o_orderkey AS VARCHAR) AS ts_,
         {_duck_h60("'tx' || CAST(o_orderkey AS VARCHAR)")} % 4000 AS x0,
         {_duck_h60("'ty' || CAST(o_orderkey AS VARCHAR)")} % 4000 AS y0,
         CAST(o_orderkey % 4 + 3 AS INT) AS m
  FROM orders WHERE o_orderkey % 11 = 0),
traj AS (
  SELECT tid, x0 // 256 AS cellx, y0 // 256 AS celly,
         list_transform(range(1, m + 1), i -> x0 + {hx} % 81 - 40) AS xs,
         list_transform(range(1, m + 1), i -> y0 + {hy} % 81 - 40) AS ys
  FROM t),
pairs AS (
  SELECT a.tid AS ta, b.tid AS tb,
         a.xs AS axs, a.ys AS ays, b.xs AS bxs, b.ys AS bys,
         len(a.xs) AS m, len(b.xs) AS n
  FROM traj a JOIN traj b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.tid < b.tid),
dp AS (
  SELECT ta, tb, m, n, axs, ays, bxs, bys,
         0 AS i, 0 AS j,
         CAST([] AS BIGINT[]) AS prev,
         [(axs[1] - bxs[1]) * (axs[1] - bxs[1])
          + (ays[1] - bys[1]) * (ays[1] - bys[1])] AS cur
  FROM pairs
  UNION ALL
  SELECT ta, tb, m, n, axs, ays, bxs, bys,
         {i2} AS i, {j2} AS j,
         CASE WHEN {j2} = 0 THEN cur ELSE prev END AS prev,
         CASE WHEN {j2} = 0 THEN [{val}]
              ELSE list_append(cur, {val}) END AS cur
  FROM dp WHERE NOT (i = m - 1 AND j = n - 1))
SELECT ta AS tid_a, tb AS tid_b, cur[n] AS frechet_d2
FROM dp
WHERE i = m - 1 AND j = n - 1 AND cur[n] <= {_FRECHET_TAU2}
"""


# ---------------------------------------------------------------------------
# weighted priority sampling (operators/sampling.py::priority_sample):
# Duffield-Lund-Thorup top-k-by-w/u, exact integer priorities via h60 and
# integer division, WindowGroupLimit partial top-k per stratum.


def _q_priority_sample(spark, sf_dir):
    from osm_hadoop_spark.operators.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents")
    return priority_sample(
        docs, key="source", id_col="doc_id", weight_col="n_chars", k=5
    ).select("source", "doc_id", "sample_pri")


_ORACLE_PRIORITY_SAMPLE = f"""
WITH h AS (
  SELECT source, doc_id,
         (CAST(n_chars AS HUGEINT) * {2**30}) //
         (({_duck_h60("'p0' || CAST(doc_id AS VARCHAR)")} % {2**30}) + 1)
           AS sample_pri
  FROM documents),
r AS (
  SELECT source, doc_id, CAST(sample_pri AS BIGINT) AS sample_pri,
         row_number() OVER (PARTITION BY source
                            ORDER BY sample_pri DESC, doc_id ASC) AS rn
  FROM h)
SELECT source, doc_id, sample_pri FROM r WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# bilinear raster upsample (operators/resample_raster.py): join-free
# scatter of (2k-1)^2 weighted contributions per coarse cell into one hash
# aggregate, completeness by the exact weight-sum == k^2 predicate. The
# twin GATHERS instead (anchor + three LEFT-JOINed corners with per-corner
# presence rules) — two independent derivations of the same surface.


def _q_bilinear_upsample(spark, sf_dir):
    from osm_hadoop_spark.operators.resample_raster import bilinear_upsample

    return bilinear_upsample(_los_dem(spark, sf_dir), k=4)


def _oracle_bilinear() -> str:
    return f"""
WITH dem AS ({_los_dem_sql()}),
c AS (
  SELECT d.cx, d.cy, d.elev AS v00, r.elev AS v10, u.elev AS v01,
         q.elev AS v11
  FROM dem d
  LEFT JOIN dem r ON r.cx = d.cx + 1 AND r.cy = d.cy
  LEFT JOIN dem u ON u.cx = d.cx AND u.cy = d.cy + 1
  LEFT JOIN dem q ON q.cx = d.cx + 1 AND q.cy = d.cy + 1),
g AS (
  SELECT cx * 4 + fx AS px, cy * 4 + fy AS py,
         (4 - fx) * (4 - fy) * v00 + fx * (4 - fy) * COALESCE(v10, 0)
         + (4 - fx) * fy * COALESCE(v01, 0)
         + fx * fy * COALESCE(v11, 0) AS val_num
  FROM c, range(0, 4) t1(fx), range(0, 4) t2(fy)
  WHERE (fx = 0 OR v10 IS NOT NULL)
    AND (fy = 0 OR v01 IS NOT NULL)
    AND (fx = 0 OR fy = 0 OR v11 IS NOT NULL))
SELECT CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
       CAST(val_num AS BIGINT) AS val_num
FROM g
"""


# ---------------------------------------------------------------------------
# PCA projection (operators/linalg.py::pca_project): map-only broadcast
# matmul against quantized principal directions, exact integer scores in
# pure codegen. Derived-literal oracle (the IVF shared-fit discipline):
# the engine fits directions from the DISTRIBUTED exact moment table, the
# oracle from NumPy over the same parquet — both moment paths yield
# identical integers and share the same float power recursion, so the
# embedded direction literals agree bit-for-bit.


def _q_pca_project(spark, sf_dir):
    from osm_hadoop_spark.operators.linalg import (
        gram_moments,
        pca_directions_q,
        pca_project,
    )

    emb = _t(spark, sf_dir, "embeddings")
    dirs = pca_directions_q(gram_moments(emb), r=2)
    return pca_project(emb, dirs)


def _oracle_pca_project() -> str | None:
    import os

    from osm_hadoop_spark.operators.linalg import pca_directions_numpy

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    if not os.path.exists(path):
        return None
    dirs = pca_directions_numpy(path, r=2)
    d1 = "[" + ", ".join(str(x) for x in dirs[0]) + "]"
    d2 = "[" + ", ".join(str(x) for x in dirs[1]) + "]"
    return f"""
WITH q AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
dirs AS (SELECT {d1}::BIGINT[] AS u1, {d2}::BIGINT[] AS u2)
SELECT vec_id,
       CAST(sum(v * u1[i]) AS BIGINT) AS pc1_q,
       CAST(sum(v * u2[i]) AS BIGINT) AS pc2_q
FROM q, dirs
GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# rendezvous sharding (operators/sharding.py): map-only argmax assignment
# + the migration-diff query (adding a shard moves keys ONLY onto it).

_HRW_SHARDS = ["shard-a", "shard-b", "shard-c", "shard-d", "shard-e"]


def _q_hrw_migration(spark, sf_dir):
    from osm_hadoop_spark.operators.sharding import hrw_migration

    return hrw_migration(
        _t(spark, sf_dir, "customer"), "c_custkey", _HRW_SHARDS, "shard-f"
    )


def _oracle_hrw() -> str:
    shards = ", ".join(f"('{s}')" for s in _HRW_SHARDS)
    h = _duck_h60("CAST(c_custkey AS VARCHAR) || '@' || s.name")
    return f"""
WITH s6(name) AS (VALUES {shards}, ('shard-f')),
sc AS (
  SELECT c_custkey, s.name AS shard, {h} AS score,
         s.name = 'shard-f' AS is_new
  FROM customer, s6 s),
r AS (
  SELECT c_custkey, shard, is_new,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY score DESC, shard DESC) AS rn_all,
         row_number() OVER (PARTITION BY c_custkey, is_new
                            ORDER BY score DESC, shard DESC) AS rn_grp
  FROM sc),
o AS (SELECT c_custkey, shard AS old_shard FROM r
      WHERE NOT is_new AND rn_grp = 1),
n AS (SELECT c_custkey, shard AS new_shard FROM r WHERE rn_all = 1)
SELECT old_shard, new_shard, CAST(count(*) AS BIGINT) AS n_keys
FROM o JOIN n USING (c_custkey) GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# mergeable-sketch hierarchy rollup (operators/sketch.py::hll_merge): the
# engine computes coarse-cell HLL registers by MERGING fine-cell register
# sets (max per bucket); the oracle computes the coarse registers directly
# from the raw visits — agreement proves the lossless re-aggregation law,
# not just the hash arithmetic.


def _q_hll_tile_rollup(spark, sf_dir):
    from osm_hadoop_spark.operators.sketch import hll_merge, hll_registers
    from osm_hadoop_spark.operators.textstats import h60

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id").cast("string")
    visits = ev.select(
        (
            (h60(F.concat(F.lit("etx"), e)) % 128) * 128
            + h60(F.concat(F.lit("ety"), e)) % 128
        ).alias("fine_cell"),
        "user_id",
    )
    fine = hll_registers(visits, "fine_cell", "user_id", p=6)
    coarse = hll_merge(
        fine,
        (F.expr("fine_cell div 128 div 16") * 8
         + F.expr("(fine_cell % 128) div 16")),
        "coarse_cell",
    )
    return coarse.select(
        "coarse_cell", "bucket", F.col("max_rho").cast("int").alias("max_rho")
    )


_ORACLE_HLL_ROLLUP = f"""
WITH v AS (
  SELECT ({_duck_h60("'etx' || CAST(event_id AS VARCHAR)")} % 128) // 16 * 8
         + ({_duck_h60("'ety' || CAST(event_id AS VARCHAR)")} % 128) // 16
           AS coarse_cell,
         user_id
  FROM events),
h AS (SELECT coarse_cell,
             {_duck_h60("concat('hll:', CAST(user_id AS VARCHAR))")} AS h
      FROM v)
SELECT coarse_cell, h % 64 AS bucket,
  CAST(MAX(CASE WHEN (h >> 6) = 0 THEN 55
                ELSE 55 - length(bin(h >> 6)) END) AS INT) AS max_rho
FROM h GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# greedy max-coverage selection (operators/selection.py): the submodular
# greedy sweep as a k-round argmax ladder (bounded covered set broadcast
# anti-join, one argmax row per round). The twin UNROLLS the rounds as
# chained CTEs re-deriving each round's argmax from scratch — no learned
# literals anywhere.

_COVER_ROUNDS = 6


def _q_greedy_cover(spark, sf_dir):
    from osm_hadoop_spark.operators.selection import (
        greedy_cover,
        word_gram_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return greedy_cover(word_gram_pairs(docs, n=3), k=_COVER_ROUNDS)


def _oracle_greedy_cover() -> str:
    rounds = []
    for r in range(_COVER_ROUNDS):
        prev_sel = " UNION ALL ".join(
            f"SELECT doc_id FROM s{t}" for t in range(r)
        )
        not_sel = (
            f"AND doc_id NOT IN ({prev_sel})" if r else ""
        )
        cov = (
            f"AND gram NOT IN (SELECT g.gram FROM g JOIN ({prev_sel}) p "
            f"ON g.doc_id = p.doc_id)" if r else ""
        )
        rounds.append(f"""
s{r} AS (
  SELECT {r} AS sel_round, doc_id, count(*) AS n_new_grams
  FROM g WHERE 1 = 1 {not_sel} {cov}
  GROUP BY doc_id
  ORDER BY n_new_grams DESC, doc_id ASC LIMIT 1)""")
    union = " UNION ALL ".join(f"SELECT * FROM s{t}"
                               for t in range(_COVER_ROUNDS))
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, {_duck_h60(_GRAM3)} AS gram
  FROM toks_t, unnest(generate_series(1, greatest(len(toks) - 2, 0)))
       AS u(i)),
{','.join(rounds)}
SELECT CAST(sel_round AS BIGINT) AS sel_round, doc_id,
       CAST(n_new_grams AS BIGINT) AS n_new_grams
FROM ({union})
"""


# ---------------------------------------------------------------------------
# distributed suffix ranking (operators/suffix.py): Manber-Myers prefix
# doubling, no global window anywhere (two-level prefix-sum dense ranks).
# The twin materializes suffix STRINGS and dense-ranks them with a plain
# ORDER BY — byte-wise UTF-8 order equals the engine's codepoint order, so
# the derivations share no mechanism. Docs are clipped to 128 chars to
# bound the driver/bench corpus (the operator itself is length-agnostic).


def _suffix_ranks_build(spark, sf_dir):
    from osm_hadoop_spark.operators.suffix import suffix_ranks

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 128).alias("text")
    )
    return suffix_ranks(docs)


def _q_suffix_ranks(spark, sf_dir):
    # the prefix-doubling fixpoint is the most expensive stage in the
    # registry and feeds BOTH this query and lcp_repeat_mining — cache it
    # per (session, sf_dir) like the assembly stage (the same
    # materialized-inter-stage posture; results identical either way)
    return _assembly_cached(spark, sf_dir, "suffix_ranks", _suffix_ranks_build)


_ORACLE_SUFFIX_RANKS = """
WITH p AS (
  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i) AS suf
  FROM (SELECT doc_id, substr(text, 1, 128) AS text FROM documents),
       unnest(generate_series(1, length(text))) AS t(i)
  WHERE length(text) > 0)
SELECT doc_id, pos,
       CAST(dense_rank() OVER (ORDER BY suf) - 1 AS BIGINT) AS suffix_rank
FROM p
"""


# ---------------------------------------------------------------------------
# LCP array over the suffix ranking (operators/suffix.py::lcp_adjacent):
# repeated-substring mining via rank-adjacency EQUI-join + the prefix-
# monotonicity LCP count. The twin re-ranks suffix strings with ORDER BY
# and applies the same adjacency/LCP definitions to ITS ranking.


def _q_lcp_repeats(spark, sf_dir):
    from osm_hadoop_spark.operators.suffix import lcp_adjacent

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 128).alias("text")
    )
    ranks = _assembly_cached(
        spark, sf_dir, "suffix_ranks", _suffix_ranks_build
    )
    return lcp_adjacent(ranks, docs, horizon=64, min_lcp=8)


_ORACLE_LCP_REPEATS = """
WITH docs128 AS (
  SELECT doc_id, substr(text, 1, 128) AS text FROM documents),
p AS (
  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i) AS suf,
         substr(text, i, 64) AS pre
  FROM docs128, unnest(generate_series(1, length(text))) AS t(i)
  WHERE length(text) > 0),
r AS (
  SELECT doc_id, pos, pre,
         dense_rank() OVER (ORDER BY suf) - 1 AS rnk,
         row_number() OVER (PARTITION BY suf ORDER BY doc_id, pos) AS rep_rn
  FROM p),
reps AS (SELECT rnk, doc_id, pos, pre FROM r WHERE rep_rn = 1),
j AS (
  SELECT a.rnk AS rank,
         len(list_filter(range(1, 65), i ->
             substr(a.pre, 1, CAST(i AS INT))
             = substr(b.pre, 1, CAST(i AS INT)))) AS lcp,
         a.doc_id AS doc_a, a.pos AS pos_a,
         b.doc_id AS doc_b, b.pos AS pos_b
  FROM reps a JOIN reps b ON a.rnk + 1 = b.rnk)
SELECT CAST(rank AS BIGINT) AS rank, CAST(lcp AS INT) AS lcp,
       doc_a, pos_a, doc_b, pos_b
FROM j WHERE lcp >= 8
"""


# ---------------------------------------------------------------------------
# Needleman-Wunsch token alignment (operators/align.py): the alignment
# family — batch-vectorized DP over candidate doc pairs, exact integer
# scores; the twin replays the recurrence in a recursive CTE with the
# closed-form gap base row (Fréchet oracle pattern, NW recurrence).


def _q_nw_align(spark, sf_dir):
    from osm_hadoop_spark.operators.align import nw_align
    from osm_hadoop_spark.operators.textstats import tokens_col

    docs = _t(spark, sf_dir, "documents")
    tk = F.expr(
        "transform(slice(_t, 1, 16), t -> "
        "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    )
    d = (
        docs.select("doc_id", tokens_col().alias("_t"))
        .select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 1)
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tb"))
    pairs = a.join(
        b,
        (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 2 == 0),
    )
    return nw_align(pairs)


_ORACLE_NW_ALIGN = f"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         list_transform(list_slice({{toks}}, 1, 16),
                        tk -> {_duck_h60('tk')}) AS tk
  FROM documents),
elig AS (SELECT doc_id, tk, len(tk) AS l FROM t WHERE len(tk) >= 1),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.tk AS ta, b.tk AS tb,
         a.l AS m, b.l AS n
  FROM elig a JOIN elig b
    ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0),
dp AS (
  SELECT da, db, ta, tb, m, n, 1 AS i, 0 AS j,
         list_transform(range(0, n + 1), c -> -c) AS prev,
         [CAST(-1 AS BIGINT)] AS cur
  FROM pairs
  UNION ALL
  SELECT da, db, ta, tb, m, n,
         CASE WHEN j < n THEN i ELSE i + 1 END,
         CASE WHEN j < n THEN j + 1 ELSE 0 END,
         CASE WHEN j < n THEN prev ELSE cur END,
         CASE WHEN j < n
           THEN list_append(cur, greatest(
                  prev[j + 1]
                    + CASE WHEN ta[i] = tb[j + 1] THEN 2 ELSE -1 END,
                  prev[j + 2] - 1,
                  cur[j + 1] - 1))
           ELSE [CAST(-(i + 1) AS BIGINT)] END
  FROM dp WHERE NOT (i = m AND j = n))
SELECT da AS doc_a, db AS doc_b, CAST(cur[n + 1] AS BIGINT) AS align_score
FROM dp WHERE i = m AND j = n
""".format(toks=_DUCK_TOKS)


# ---------------------------------------------------------------------------
# fixed-point EWMA state summaries (operators/timeseries.py::ewma_final):
# ordered collect + one codegen fold; DuckDB list_reduce twin over the
# identically-ordered list.


def _q_ewma_users(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import ewma_final

    return ewma_final(_t(spark, sf_dir, "events"))


_ORACLE_EWMA = """
WITH d AS (
  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v, ts, event_id
  FROM events),
g AS (
  SELECT user_id, list(v ORDER BY ts, event_id, v) AS ser
  FROM d GROUP BY user_id)
SELECT user_id, CAST(len(ser) AS INT) AS n_events,
       CAST(list_reduce(ser, (acc, x) ->
            CAST(floor((3 * acc + x) / 4) AS BIGINT)) AS BIGINT) AS ewma_q
FROM g
"""


# ---------------------------------------------------------------------------
# Strahler stream order (operators/hydrology.py::strahler_order): bounded-
# round fixpoint over the shared D8 forest; per round the children census
# reduces through a (parent, order) partial agg then ONE max-struct argmax.
# The twin unrolls the identical rounds over the shared dirs CTE.

_STRAHLER_ROUNDS = 8


def _q_strahler(spark, sf_dir):
    from osm_hadoop_spark.operators.hydrology import strahler_order

    return strahler_order(_los_dem(spark, sf_dir), _STRAHLER_ROUNDS)


def _oracle_strahler() -> str:
    rounds = []
    for t in range(1, _STRAHLER_ROUNDS + 1):
        rounds.append(f"""
o{t} AS (
  SELECT c.cx, c.cy, COALESCE(s.v, 1) AS o
  FROM cells c LEFT JOIN (
    SELECT px, py, o + CASE WHEN cnt >= 2 THEN 1 ELSE 0 END AS v
    FROM (
      SELECT px, py, o, cnt,
             row_number() OVER (PARTITION BY px, py ORDER BY o DESC) AS rn
      FROM (
        SELECT p.nx AS px, p.ny AS py, ch.o, count(*) AS cnt
        FROM o{t - 1} ch JOIN ptr p ON ch.cx = p.cx AND ch.cy = p.cy
        GROUP BY 1, 2, 3))
    WHERE rn = 1) s
  ON c.cx = s.px AND c.cy = s.py)""")
    return f"""
WITH {_d8_dir_ctes()},
ptr AS (SELECT cx, cy, nx, ny FROM dirs WHERE dir > 0),
cells AS (SELECT cx, cy FROM dem),
o0 AS (SELECT cx, cy, CAST(1 AS BIGINT) AS o FROM cells),
{','.join(rounds)}
SELECT cx, cy, CAST(o AS BIGINT) AS strahler FROM o{_STRAHLER_ROUNDS}
"""


# ---------------------------------------------------------------------------
# robust median/MAD outlier census (timeseries.robust_outlier_stats):
# rank-DEFINED medians (never an engine median() builtin), exact int64.


def _q_robust_outliers(spark, sf_dir):
    from osm_hadoop_spark.operators.timeseries import robust_outlier_stats

    return robust_outlier_stats(_t(spark, sf_dir, "events"))


_ORACLE_ROBUST = """
WITH d AS (
  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v, event_id
  FROM events),
r AS (
  SELECT user_id, v, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY v, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM d),
med AS (
  SELECT user_id, v AS med_q, n AS n_events
  FROM r WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)),
dd AS (
  SELECT d.user_id, abs(d.v - m.med_q) AS ad, d.event_id, m.med_q,
         m.n_events
  FROM d JOIN med m USING (user_id)),
r2 AS (
  SELECT user_id, ad, med_q, n_events,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ad, event_id) AS rn
  FROM dd),
mad AS (
  SELECT user_id, ad AS mad_q, med_q, n_events
  FROM r2 WHERE rn = CAST(floor((n_events + 1) / 2.0) AS BIGINT))
SELECT m.user_id, CAST(m.n_events AS BIGINT) AS n_events, m.med_q, m.mad_q,
       CAST(sum(CASE WHEN dd.ad > 3 * m.mad_q THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM mad m JOIN dd ON dd.user_id = m.user_id
GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# corpus vocabulary growth + key-skew audit (operators/textstats.py):
# first-occurrence bucketing (no prefix rescans) and the exact-integer
# Gini shuffle-planning diagnostic.


def _q_vocab_growth(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), step=10, ngram=2)


_ORACLE_VOCAB_GROWTH = f"""
WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
t AS (
  SELECT doc_id, lower(toks[u.i]) || ' ' || lower(toks[u.i + 1]) AS token
  FROM d, unnest(range(1, len(toks))) AS u(i)),
f AS (SELECT token, min(doc_id) AS fd FROM t GROUP BY 1),
b AS (SELECT fd // 10 AS b, count(*) AS new_tokens FROM f GROUP BY 1)
SELECT CAST((b + 1) * 10 AS BIGINT) AS k_docs,
       CAST(new_tokens AS BIGINT) AS new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY b
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM b
"""


def _q_key_skew(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import key_skew_audit

    return key_skew_audit(_t(spark, sf_dir, "events"), "event_type",
                          "user_id")


_ORACLE_KEY_SKEW = """
WITH c AS (
  SELECT event_type AS grp, user_id AS k, count(*) AS c
  FROM events GROUP BY 1, 2),
r AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY c, k) AS i,
         count(*) OVER (PARTITION BY grp) AS m
  FROM c)
SELECT grp, CAST(max(m) AS BIGINT) AS n_keys,
       CAST(sum(c) AS BIGINT) AS total_rows,
       CAST(max(c) AS BIGINT) AS top1_rows,
       CAST(sum((2 * i - m - 1) * c) AS BIGINT) AS gini_num,
       CAST(max(m) * sum(c) AS BIGINT) AS gini_den
FROM r GROUP BY grp
"""


# --- sweep-line peak concurrency (operators/sweepline.py) -------------------
# T6: max simultaneous open intervals per user + earliest instant the peak
# is reached. Same h60-derived [start, end) intervals as activity_islands
# (T5 measures coverage, T6 measures depth). All-integer -> exact twin.
def _q_peak_concurrency(spark, sf_dir):
    from osm_hadoop_spark.operators.sweepline import peak_concurrency
    from osm_hadoop_spark.operators.textstats import h60

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + h60(F.concat(F.lit("dur"), F.col("event_id").cast("string")))
            % 43_200_000_000
            + 1
        ).alias("end_us"),
    )
    return peak_concurrency(iv)


_ORACLE_PEAK_CONCURRENCY = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS start_us,
         epoch_us(ts)
           + {_duck_h60("'dur' || CAST(event_id AS VARCHAR)")} % 43200000000
           + 1 AS end_us
  FROM events),
ev AS (
  SELECT user_id, start_us AS ts, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT user_id, end_us AS ts, CAST(-1 AS BIGINT) AS delta FROM iv),
d AS (
  SELECT user_id, ts,
         sum(delta) OVER (PARTITION BY user_id ORDER BY ts, delta
                          ROWS UNBOUNDED PRECEDING) AS depth
  FROM ev),
p AS (
  SELECT user_id, ts, depth,
         max(depth) OVER (PARTITION BY user_id) AS pk
  FROM d)
SELECT user_id,
       CAST(max(pk) AS BIGINT) AS peak,
       CAST(min(CASE WHEN depth = pk THEN ts END) AS BIGINT) AS first_peak_us,
       CAST(count(*) / 2 AS BIGINT) AS n_intervals
FROM p GROUP BY user_id
"""


# --- column profiler (operators/profile.py) ---------------------------------
# ANALYZE-style exact per-column stats in ONE scan (Expand multi-distinct
# plan) + an exact fixed-bound equi-width histogram. Engine-utility family:
# what you run at ingest before choosing partition/cluster keys.
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _q_table_profile(spark, sf_dir):
    from osm_hadoop_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


_ORACLE_TABLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM orders"""
    for c in _PROFILE_COLS
)


def _q_price_histogram(spark, sf_dir):
    from osm_hadoop_spark.operators.profile import equi_width_histogram

    cents = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).alias("cents")
    )
    return equi_width_histogram(cents, "cents", lo=0, hi=60_000_000, buckets=32)


# floor(v*100) on the shared parquet doubles is one IEEE multiply + floor —
# bit-identical across engines (Spark's double->bigint CAST truncates while
# DuckDB's rounds, so the explicit floor IS the contract).
_ORACLE_PRICE_HISTOGRAM = """
SELECT CAST(greatest(0, least(31,
         floor((floor(o_totalprice * 100) - 0) * 32 / 60000000))) AS BIGINT)
         AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY 1
"""


# --- blocklist census (operators/curation.py) -------------------------------
# Curation gate: case-insensitive substring census of a literal blocklist.
# Map-side |terms|-way fan-out + tiny partial-agg groupBy; occurrence count
# is the codegen length-difference identity in BOTH engines.
_BLOCKLIST_TERMS = ["spark", "slow scan", "vector", "hash"]


def _q_blocklist_census(spark, sf_dir):
    from osm_hadoop_spark.operators.curation import blocklist_census

    return blocklist_census(_t(spark, sf_dir, "documents"), _BLOCKLIST_TERMS)


_ORACLE_BLOCKLIST = f"""
WITH t AS (SELECT unnest({[t.lower() for t in _BLOCKLIST_TERMS]!r}) AS term),
probe AS (
  SELECT t.term,
         CAST((length(lower(d.text))
               - length(replace(lower(d.text), t.term, '')))
              / length(t.term) AS BIGINT) AS occ
  FROM documents d CROSS JOIN t)
SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS n_occurrences
FROM probe WHERE occ > 0 GROUP BY term
"""


# --- leakage-safe split (operators/corpus.py) --------------------------------
# Train/val/test assignment hashed on the DEDUP CLUSTER root, so near-dups
# cannot straddle splits. Oracle re-derives clusters with the recursive
# transitive closure (independent of large/small-star) + the same h60 bucket.
def _q_leakage_split(spark, sf_dir):
    from osm_hadoop_spark.operators.corpus import leakage_safe_split
    from osm_hadoop_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, m=8, bands=4, t_num=3, t_den=10, bucket_cap=None
    ).select("doc_a", "doc_b")
    return leakage_safe_split(docs, pairs)


def _oracle_leakage_split() -> str:
    return f"""
WITH RECURSIVE {_MINHASH_CTES},
pr AS (SELECT doc_a, doc_b FROM j WHERE inter * 10 >= uni * 3),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
          UNION SELECT doc_b, doc_a FROM pr),
reach(src, dst) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
comp AS (SELECT src AS doc_id, least(src, min(dst)) AS c
         FROM reach GROUP BY src),
m AS (
  SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp USING (doc_id)),
b AS (
  SELECT doc_id, cluster_id,
         {_duck_h60("'split' || CAST(cluster_id AS VARCHAR)")} % 100 AS bk
  FROM m)
SELECT doc_id, cluster_id,
       CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


# --- span-level PII redaction (operators/curation.py) ------------------------
# Content transform INSIDE span arrays: kind/media_ref/order provably
# untouched (kinds_fp), text payloads redacted in codegen transform.
def _q_pii_redact_spans(spark, sf_dir):
    from osm_hadoop_spark.operators.curation import (
        pii_redact_spans,
        with_synthetic_pii,
    )

    docs = with_synthetic_pii(_t(spark, sf_dir, "documents"), every=3)
    null_s = F.lit(None).cast("string")
    spanned = docs.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("pii_text").alias("text"),
                null_s.alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                null_s.alias("text"),
                F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias(
                    "media_ref"
                ),
                F.lit(1).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                null_s.alias("media_ref"),
                F.lit(2).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    return pii_redact_spans(spanned)


def _oracle_pii_redact_spans() -> str:
    from osm_hadoop_spark.operators.curation import EMAIL_RE, PHONE_RE

    return f"""
WITH p AS (
  SELECT doc_id, text,
    CASE WHEN doc_id % 3 = 0
      THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
           || '@example.com or +1 555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE text END AS pii
  FROM documents),
r AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(pii, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g') AS red1,
    regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g') AS red2,
    CAST(len(regexp_extract_all(pii, '{EMAIL_RE}'))
         + len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
    CAST(len(regexp_extract_all(pii, '{PHONE_RE}'))
         + len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones
  FROM p)
SELECT doc_id, n_emails, n_phones,
  md5('text;' || red1 || ';;0|media;;m' || CAST(doc_id AS VARCHAR)
      || ';1|text;' || red2 || ';;2') AS spans_fp,
  md5('text;0|media;1|text;2') AS kinds_fp
FROM r
"""


# --- data-quality expectations (operators/profile.py) ------------------------
# Ingest gate: range/domain/unique in ONE aggregate + broadcast anti-join
# referential checks; violation census per check.
def _q_dq_orders(spark, sf_dir):
    from osm_hadoop_spark.operators.profile import expectation_census

    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return expectation_census(
        o,
        range_checks={"o_totalprice": (0, 600000)},
        domain_checks={"o_orderstatus": ["F", "O", "P"]},
        unique_cols=["o_orderkey"],
        ref_checks={"o_custkey": cust},
    )


_ORACLE_DQ_ORDERS = """
SELECT 'range:o_totalprice' AS check,
       CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                       OR o_totalprice > 600000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'domain:o_orderstatus',
       CAST(sum(CASE WHEN o_orderstatus IS NULL
                       OR o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'ref:o_custkey',
       CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
"""


# --- real media containers (operators/multimodal.py) -------------------------
# True PNG/BMP/WAV/GIF header layouts parsed with vectorized numpy gathers;
# the driver plants real BMP/WAV bytes whose fields derive from doc_id, so
# the oracle recomputes them — proving the parser inverts the real formats.
def _q_media_containers(spark, sf_dir):
    from osm_hadoop_spark.operators.multimodal import (
        parse_container_metadata,
        synth_real_containers,
    )

    docs = synth_real_containers(
        _t(spark, sf_dir, "documents").select("doc_id")
    )
    return parse_container_metadata(docs)


_ORACLE_MEDIA_CONTAINERS = """
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS fmt,
  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 640 + 1 ELSE -1 END AS INT)
    AS width,
  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 480 + 1 ELSE -1 END AS INT)
    AS height,
  CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE doc_id % 3 + 1 END AS INT)
    AS channels,
  CAST(CASE WHEN doc_id % 2 = 0 THEN -1
            ELSE 8000 + (doc_id % 5) * 4000 END AS INT) AS sample_rate,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 16 END AS INT) AS bit_depth,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 54 + doc_id % 16
            ELSE 44 + doc_id % 16 END AS BIGINT) AS n_bytes
FROM documents
"""


# --- spatial autocorrelation (operators/spatialstats.py) ---------------------
# Anselin local Moran's I over an observed-cell lattice with rook weights;
# exact integer scaling z' = n*x - S clears the mean's denominator.
def _lattice_cells(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    e = _t(spark, sf_dir, "events").select(
        (h60(F.concat(F.lit("mx"), F.col("event_id").cast("string"))) % 60)
        .alias("cx"),
        (h60(F.concat(F.lit("my"), F.col("event_id").cast("string"))) % 60)
        .alias("cy"),
    )
    return e.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))


def _q_morans_lisa(spark, sf_dir):
    from osm_hadoop_spark.operators.spatialstats import morans_i_local

    return morans_i_local(_lattice_cells(spark, sf_dir))


def _q_morans_global(spark, sf_dir):
    from osm_hadoop_spark.operators.spatialstats import morans_i_global

    return morans_i_global(_lattice_cells(spark, sf_dir))


_MORANS_CTES = f"""
pts AS (
  SELECT {_duck_h60("'mx' || CAST(event_id AS VARCHAR)")} % 60 AS cx,
         {_duck_h60("'my' || CAST(event_id AS VARCHAR)")} % 60 AS cy
  FROM events),
cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2),
st AS (SELECT count(*) AS nn, sum(n) AS s FROM cells),
z AS (SELECT cx, cy, CAST(nn * n - s AS BIGINT) AS z
      FROM cells CROSS JOIN st),
nbr AS (
  SELECT a.cx, a.cy, a.z,
         CAST(sum(b.z) AS BIGINT) AS neigh_sum,
         CAST(count(*) AS BIGINT) AS n_neighbors
  FROM z a
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
  JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  GROUP BY a.cx, a.cy, a.z),
lisa AS (
  SELECT z.cx, z.cy, z.z AS z_scaled,
         coalesce(nbr.neigh_sum, 0) AS neigh_sum,
         coalesce(nbr.n_neighbors, 0) AS n_neighbors,
         CAST(z.z * coalesce(nbr.neigh_sum, 0) AS BIGINT) AS lisa_num
  FROM z LEFT JOIN nbr ON z.cx = nbr.cx AND z.cy = nbr.cy)
"""

_ORACLE_MORANS_LISA = f"""
WITH {_MORANS_CTES}
SELECT cx, cy, z_scaled, CAST(neigh_sum AS BIGINT) AS neigh_sum,
       n_neighbors, lisa_num
FROM lisa
"""

def _q_getis_ord(spark, sf_dir):
    from osm_hadoop_spark.operators.spatialstats import getis_ord_gi

    return getis_ord_gi(_lattice_cells(spark, sf_dir))


_ORACLE_GETIS_ORD = f"""
WITH pts AS (
  SELECT {_duck_h60("'mx' || CAST(event_id AS VARCHAR)")} % 60 AS cx,
         {_duck_h60("'my' || CAST(event_id AS VARCHAR)")} % 60 AS cy
  FROM events),
cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2),
st AS (SELECT count(*) AS nn, sum(n) AS s FROM cells),
win AS (
  SELECT a.cx, a.cy,
         CAST(sum(b.n) AS BIGINT) AS window_sum,
         CAST(count(*) AS BIGINT) AS k
  FROM cells a
  CROSS JOIN (VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  GROUP BY a.cx, a.cy)
SELECT cx, cy, window_sum, k,
       CAST(nn * window_sum - k * s AS BIGINT) AS gi_num
FROM win CROSS JOIN st
"""


_ORACLE_MORANS_GLOBAL = f"""
WITH {_MORANS_CTES}
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n_neighbors) AS BIGINT) AS w_sum,
       CAST(sum(lisa_num) AS BIGINT) AS num,
       CAST(sum(z_scaled * z_scaled) AS BIGINT) AS den
FROM lisa
"""


# --- mixture rebalancing (operators/corpus.py) -------------------------------
# Exact-rational down-sampling plan to hit target lang proportions; the
# binding group keeps all, others keep p_g = t_g*c_b/(t_b*c_g) via the
# deterministic h60 gate. Oracle shares the target constants as literals.
_MIX_TARGETS = {
    "en": (40, 100), "de": (15, 100), "es": (15, 100),
    "fr": (15, 100), "zh": (15, 100),
}


def _q_mixture_rebalance(spark, sf_dir):
    from osm_hadoop_spark.operators.corpus import mixture_rebalance

    return mixture_rebalance(
        _t(spark, sf_dir, "documents"), _MIX_TARGETS, group_col="lang"
    )


def _oracle_mixture_rebalance() -> str:
    from math import lcm

    gs = sorted(_MIX_TARGETS)
    k = lcm(*[_MIX_TARGETS[g][0] * _MIX_TARGETS[g][1] for g in gs])
    case = lambda f: "CASE grp " + " ".join(  # noqa: E731
        f"WHEN '{g}' THEN {f(g)}" for g in gs
    ) + " END"
    scale = case(lambda g: k * _MIX_TARGETS[g][1] // _MIX_TARGETS[g][0])
    num = case(lambda g: _MIX_TARGETS[g][0])
    den = case(lambda g: _MIX_TARGETS[g][1])
    num_b = num.replace("CASE grp", "CASE b_grp")
    den_b = den.replace("CASE grp", "CASE b_grp")
    langs = ", ".join(f"'{g}'" for g in gs)
    return f"""
WITH c AS (
  SELECT lang AS grp, count(*) AS n_in FROM documents
  WHERE lang IN ({langs}) GROUP BY 1),
b AS (
  SELECT grp AS b_grp, n_in AS c_b FROM c
  ORDER BY n_in * ({scale}), grp LIMIT 1),
plan AS (
  SELECT c.grp, c.n_in,
         ({num}) * ({den_b}) * b.c_b AS keep_num,
         ({num_b}) * ({den}) * c.n_in AS keep_den
  FROM c CROSS JOIN b),
g AS (
  SELECT d.lang AS grp, count(*) AS n_kept
  FROM documents d JOIN plan ON d.lang = plan.grp
  WHERE {_duck_h60("'mix' || CAST(doc_id AS VARCHAR)")} % plan.keep_den
        < plan.keep_num
  GROUP BY 1)
SELECT plan.grp AS lang, CAST(n_in AS BIGINT) AS n_in,
       CAST(keep_num AS BIGINT) AS keep_num,
       CAST(keep_den AS BIGINT) AS keep_den,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
FROM plan LEFT JOIN g USING (grp)
"""


# --- contrastive negative sampling (operators/sampling.py) -------------------
# Deterministic consistent-hash negatives with near-dup exclusion (the LSH
# pair set): reproducible draws, no RNG, no corpus self-join.
def _q_negative_samples(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import minhash_lsh_pairs
    from osm_hadoop_spark.operators.sampling import negative_samples

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, m=8, bands=4, t_num=3, t_den=10, bucket_cap=None
    ).select("doc_a", "doc_b")
    anchors = docs.where(F.col("doc_id") % 10 == 0)
    return negative_samples(docs, anchors, k=4, buckets=64, exclude=pairs)


def _oracle_negative_samples() -> str:
    h = lambda e: _duck_h60(e)  # noqa: E731
    return f"""
WITH {_MINHASH_CTES},
pr AS (SELECT doc_a, doc_b FROM j WHERE inter * 10 >= uni * 3),
ex AS (SELECT doc_a AS anchor_id, doc_b AS neg_id FROM pr
       UNION ALL SELECT doc_b, doc_a FROM pr),
db AS (
  SELECT doc_id AS neg_id,
         {h("'neg|' || CAST(doc_id AS VARCHAR)")} % 64 AS bucket
  FROM documents),
probes AS (
  SELECT doc_id AS anchor_id, i.i AS probe,
         {h("'neg|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i.i AS VARCHAR)")}
           % 64 AS bucket
  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
  WHERE doc_id % 10 = 0),
negcand AS (
  SELECT p.anchor_id, p.probe, d.neg_id
  FROM probes p JOIN db d USING (bucket)
  WHERE d.neg_id <> p.anchor_id),
negc2 AS (
  SELECT c.anchor_id, c.probe, c.neg_id
  FROM negcand c LEFT JOIN ex
    ON c.anchor_id = ex.anchor_id AND c.neg_id = ex.neg_id
  WHERE ex.anchor_id IS NULL),
negr AS (
  SELECT anchor_id, probe, neg_id,
         {h("'neg|' || CAST(anchor_id AS VARCHAR) || '|' || CAST(probe AS VARCHAR) || '|' || CAST(neg_id AS VARCHAR)")}
           AS rk
  FROM negc2)
SELECT anchor_id, CAST(probe AS BIGINT) AS probe, neg_id
FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id, probe
                                   ORDER BY rk, neg_id) AS rn FROM negr)
WHERE rn = 1
"""


# --- sorted-neighborhood dedup (operators/dedup.py) --------------------------
# Hernandez-Stolfo blocking: ONE strip-partitioned sort, fixed-width
# neighborhood via lead() — linear candidate count, skew-free by
# construction. Oracle replays it as a rank-band self-join.
def _q_dedup_snm(spark, sf_dir):
    from osm_hadoop_spark.operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        _t(spark, sf_dir, "documents"), window=4, k=3, min_jaccard_pct=30
    )


_ORACLE_DEDUP_SNM = f"""
WITH toks AS (SELECT doc_id, {{toks}} AS toks FROM documents),
sh AS (SELECT doc_id, {{shingles}} AS sh FROM toks),
keyed AS (
  SELECT doc_id, sh, sh[1] AS bk, sh[1] >> 50 AS strip
  FROM sh WHERE len(sh) > 0),
rk AS (
  SELECT doc_id, sh, strip,
         row_number() OVER (PARTITION BY strip ORDER BY bk, doc_id) AS rn
  FROM keyed),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_n,
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
              AS BIGINT) AS union_n
  FROM rk a JOIN rk b
    ON a.strip = b.strip AND b.rn BETWEEN a.rn + 1 AND a.rn + 3)
SELECT doc_a, doc_b, inter_n, union_n
FROM cand WHERE inter_n * 100 >= 30 * union_n
""".format(toks=_DUCK_TOKS, shingles=_DUCK_SHINGLES)


# --- media context windows (operators/span_stats.py) ------------------------
# Interleaved-payload axis: per media span, the contiguous text-run length on
# each side — the caption-pairing primitive. Pure codegen array algebra; only
# media positions explode. DuckDB twin uses 1-indexed list algebra.
def _q_media_context(spark, sf_dir):
    from osm_hadoop_spark.operators.span_stats import media_context_windows

    return media_context_windows(_interleaved_kind_docs(spark, sf_dir))


_ORACLE_MEDIA_CONTEXT = """
WITH d AS ({kind_docs}),
m AS (
  SELECT doc_id, kinds, len(kinds) AS n,
         unnest(list_filter(range(0, len(kinds)),
                            i -> kinds[i + 1] = 'media')) AS mo
  FROM d)
SELECT doc_id, CAST(mo AS BIGINT) AS media_offset,
       CAST(mo - 1 - coalesce(list_max(list_filter(range(0, n),
              j -> j < mo AND kinds[j + 1] <> 'text')), -1) AS BIGINT)
         AS n_pre_text,
       CAST(coalesce(list_min(list_filter(range(0, n),
              j -> j > mo AND kinds[j + 1] <> 'text')), n) - mo - 1 AS BIGINT)
         AS n_post_text
FROM m
""".format(kind_docs=_DUCK_KIND_DOCS)


# --- SCD2 dimension build (operators/scd.py) --------------------------------
# T7: change log -> type-2 validity intervals with no-op collapse; the
# producer of what asof_join consumes. All-integer timestamps -> exact twin.
def _q_scd2_user_status(spark, sf_dir):
    from osm_hadoop_spark.operators.scd import scd2_build

    changes = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "event_type",
    )
    return scd2_build(changes, "user_id", "ts_us", ["event_type"], "event_id")


_ORACLE_SCD2 = """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
p AS (
  SELECT user_id, ts_us, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS pe,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS rn
  FROM c),
s AS (SELECT * FROM p WHERE rn = 1 OR event_type IS DISTINCT FROM pe)
SELECT user_id, event_type,
       ts_us AS valid_from,
       lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
            - 1 AS BIGINT) AS version,
       lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         IS NULL AS is_current
FROM s
"""


# --- island gaps (operators/islands.py) --------------------------------------
# T5b: the uncovered spans between a user's activity islands — downtime
# reporting; same h60 intervals as activity_islands.
def _q_activity_gaps(spark, sf_dir):
    from osm_hadoop_spark.operators.islands import island_gaps
    from osm_hadoop_spark.operators.textstats import h60

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + h60(F.concat(F.lit("dur"), F.col("event_id").cast("string")))
            % 43_200_000_000
            + 1
        ).alias("end_us"),
    )
    return island_gaps(iv)


_ORACLE_GAPS = f"""
WITH iv AS (
  SELECT user_id, event_id AS interval_id, epoch_us(ts) AS start_us,
         epoch_us(ts)
           + {_duck_h60("'dur' || CAST(event_id AS VARCHAR)")} % 43200000000
           + 1 AS end_us
  FROM iv_src),
staged AS (
  SELECT user_id, start_us, end_us,
         max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, interval_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pme,
         interval_id
  FROM iv),
lab AS (
  SELECT user_id, start_us, end_us,
         CAST(sum(CASE WHEN pme IS NULL OR start_us > pme THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY start_us, interval_id
                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS island
  FROM staged),
isl AS (
  SELECT user_id, island, min(start_us) AS island_start,
         max(end_us) AS island_end
  FROM lab GROUP BY user_id, island),
g AS (
  SELECT user_id,
         lag(island_end) OVER (PARTITION BY user_id ORDER BY island)
           AS gap_start,
         island_start AS gap_end
  FROM isl)
SELECT user_id, gap_start, gap_end,
       CAST(gap_end - gap_start AS BIGINT) AS gap_us
FROM g WHERE gap_start IS NOT NULL
""".replace("FROM iv_src", "FROM events")


# --- table reconciliation (operators/reconcile.py) --------------------------
# Anti-entropy bucketed content checksum + Merkle-style diff. The diff query
# plants a deterministic mutation (doc 7's text changed, doc 11 dropped) in
# snapshot B and must localize EXACTLY those buckets.
_RECON_COLS = ["doc_id", "text", "lang", "source"]


def _q_table_checksum(spark, sf_dir):
    from osm_hadoop_spark.operators.reconcile import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "documents"), "doc_id", _RECON_COLS, buckets=64
    )


def _duck_checksum(src: str) -> str:
    canon = "concat_ws('|', CAST(doc_id AS VARCHAR), text, lang, source)"
    return f"""
  SELECT {_duck_h60("CAST(doc_id AS VARCHAR)")} % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor({_duck_h60(canon)}) AS BIGINT) AS xor60
  FROM {src} GROUP BY 1"""


_ORACLE_TABLE_CHECKSUM = _duck_checksum("documents")


def _q_snapshot_diff(spark, sf_dir):
    from osm_hadoop_spark.operators.reconcile import checksum_diff, table_checksum

    docs = _t(spark, sf_dir, "documents")
    mutated = docs.where(F.col("doc_id") != 11).select(
        "doc_id",
        F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(
            F.col("text")
        ).alias("text"),
        "lang",
        "source",
    )
    cs = lambda d: table_checksum(d, "doc_id", _RECON_COLS, buckets=64)  # noqa: E731
    return checksum_diff(cs(docs), cs(mutated))


_ORACLE_SNAPSHOT_DIFF = f"""
WITH mut AS (
  SELECT doc_id,
         CASE WHEN doc_id = 7 THEN 'tampered' ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id != 11),
ca AS ({_duck_checksum("documents")}),
cb AS ({_duck_checksum("mut")})
SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
       ca.n_rows AS n_rows_a, cb.n_rows AS n_rows_b,
       ca.xor60 AS xor_a, cb.xor60 AS xor_b,
       CASE WHEN ca.n_rows IS DISTINCT FROM cb.n_rows THEN 'count'
            ELSE 'content' END AS status
FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
WHERE ca.n_rows IS DISTINCT FROM cb.n_rows
   OR ca.xor60 IS DISTINCT FROM cb.xor60
"""


# --- companion detection (operators/trajectory.py::comovement) -------------
# T5: convoy/flock mining — entity pairs within Chebyshev radius at
# >= min_run CONSECUTIVE shared ticks. Fixture: each user gets a sticky
# h60 base position on a 96x96 grid plus a per-tick wobble in [0, 4), one
# position per (user, tick = event_id % 48). Engine = per-tick 3x3
# grid-blocked equi-join + gaps-and-islands; oracle = the BRUTE all-pairs
# per-tick join with the same island fold — different candidate
# generation, identical pair-run set (proves the blocking is lossless).
_CM_T = 48
_CM_BASE = 96
_CM_WOB = 4
_CM_R = 5
_CM_MINRUN = 3


def _cm_pings(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    u = F.col("user_id").cast("string")
    t = F.col("tick").cast("string")
    key = F.concat(u, F.lit("_"), t)
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", (F.col("event_id") % _CM_T).alias("tick"))
        .distinct()
        .select(
            "user_id",
            "tick",
            (h60(F.concat(F.lit("cbx"), u)) % _CM_BASE
             + h60(F.concat(F.lit("cwx"), key)) % _CM_WOB).alias("x"),
            (h60(F.concat(F.lit("cby"), u)) % _CM_BASE
             + h60(F.concat(F.lit("cwy"), key)) % _CM_WOB).alias("y"),
        )
    )


def _q_comovement(spark, sf_dir):
    from osm_hadoop_spark.operators.trajectory import comovement

    return comovement(
        _cm_pings(spark, sf_dir), radius=_CM_R, min_run=_CM_MINRUN
    )


def _oracle_comovement() -> str:
    hu = lambda tag: _duck_h60(f"'{tag}' || CAST(user_id AS VARCHAR)")  # noqa: E731
    hk = lambda tag: _duck_h60(  # noqa: E731
        f"'{tag}' || CAST(user_id AS VARCHAR) || '_' || CAST(tick AS VARCHAR)"
    )
    return f"""
WITH tk AS (
  SELECT DISTINCT user_id, event_id % {_CM_T} AS tick FROM events),
p AS (
  SELECT user_id, tick,
         {hu("cbx")} % {_CM_BASE} + {hk("cwx")} % {_CM_WOB} AS x,
         {hu("cby")} % {_CM_BASE} + {hk("cwy")} % {_CM_WOB} AS y
  FROM tk),
co AS (
  SELECT a.user_id AS a, b.user_id AS b, a.tick AS tick
  FROM p a JOIN p b
    ON a.tick = b.tick AND a.user_id < b.user_id
  WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= {_CM_R}),
runs AS (
  SELECT a, b,
         tick - row_number() OVER (PARTITION BY a, b ORDER BY tick) AS isl
  FROM co),
rl AS (
  SELECT a, b, isl, count(*) AS run_len FROM runs GROUP BY 1, 2, 3)
SELECT a, b,
       CAST(sum(CASE WHEN run_len >= {_CM_MINRUN} THEN 1 ELSE 0 END) AS BIGINT)
         AS episodes,
       CAST(max(run_len) AS BIGINT) AS max_run,
       CAST(sum(CASE WHEN run_len >= {_CM_MINRUN} THEN run_len ELSE 0 END)
            AS BIGINT) AS co_ticks
FROM rl GROUP BY a, b
HAVING sum(CASE WHEN run_len >= {_CM_MINRUN} THEN 1 ELSE 0 END) >= 1
"""


# --- discrete 1-center (operators/hull.py::discrete_one_center) ------------
# E-family minimax sibling of way_diameter: the site minimizing the
# maximum squared distance to the way's points. Engine prunes the inner
# max to HULL vertices (farthest point is always extreme) in one Arrow
# pass + a JVM transform fold — zero shuffles; oracle is the brute
# candidates x points double join, proving the pruning lossless.
def _q_one_center(spark, sf_dir):
    from osm_hadoop_spark.operators.hull import discrete_one_center

    return discrete_one_center(
        _ways_geom(spark, sf_dir).filter(F.size("xs") >= 2)
    )


_ORACLE_ONE_CENTER = f"""
WITH nodes AS ({_NODES_SQL}), wn AS ({_WAY_NODES_SQL}),
w AS (SELECT o_orderkey AS way_id FROM orders),
j AS (
  SELECT wn.way_id, CAST(n.lon AS BIGINT) AS x, CAST(n.lat AS BIGINT) AS y
  FROM wn JOIN nodes n USING (node_id) JOIN w ON wn.way_id = w.way_id),
np AS (SELECT way_id, count(*) AS n_pts FROM j GROUP BY 1 HAVING count(*) > 1),
cand AS (
  SELECT c.way_id, c.x, c.y,
         max((c.x - p.x) * (c.x - p.x) + (c.y - p.y) * (c.y - p.y)) AS r2
  FROM j c JOIN j p ON c.way_id = p.way_id
  GROUP BY 1, 2, 3),
rk AS (
  SELECT way_id, x, y, r2,
         row_number() OVER (PARTITION BY way_id ORDER BY r2, x, y) AS rn
  FROM cand)
SELECT rk.way_id, CAST(np.n_pts AS BIGINT) AS n_pts, rk.r2,
       rk.x AS cx, rk.y AS cy
FROM rk JOIN np USING (way_id) WHERE rn = 1
"""


# --- record linkage (operators/linkage.py::fs_link) ------------------------
# Fellegi-Sunter pair scoring over a perturbed-copy fixture: side B is
# side A with h60-driven per-field noise. Engine = blocked equi-join on
# the city field (the weights make the blocking PROVABLY lossless: max
# score with city disagreeing = 24 < threshold 28); oracle = brute
# all-pairs scoring with NO blocking — equality is the recall proof.
_FS_FIELDS = [("name", 24, 12), ("city", 16, 8), ("band", 8, 4)]
_FS_TH = 28


def _fs_sides(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60

    k = F.col("c_custkey").cast("string")

    def base(tag, mod):
        return h60(F.concat(F.lit(tag), k)) % mod

    def pert(tag, ptag, mod, pmod):
        b = base(tag, mod)
        return F.when(
            h60(F.concat(F.lit(ptag), k)) % pmod == 0, (b + 1) % mod
        ).otherwise(b)

    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        base("ln", 500).alias("name"),
        base("lc", 200).alias("city"),
        base("lb", 50).alias("band"),
    )
    b = cust.select(
        (F.col("c_custkey") + 1000000).alias("b_id"),
        pert("ln", "pn", 500, 10).alias("name"),
        pert("lc", "pc", 200, 8).alias("city"),
        pert("lb", "pb", 50, 5).alias("band"),
    )
    return a, b


def _q_record_linkage(spark, sf_dir):
    from osm_hadoop_spark.operators.linkage import fs_link

    a, b = _fs_sides(spark, sf_dir)
    return fs_link(a, b, _FS_FIELDS, block_field="city", threshold=_FS_TH)


def _oracle_record_linkage() -> str:
    h = lambda tag: _duck_h60(f"'{tag}' || CAST(c_custkey AS VARCHAR)")  # noqa: E731

    def pert(tag, ptag, mod, pmod):
        return (
            f"CASE WHEN {h(ptag)} % {pmod} = 0 "
            f"THEN ({h(tag)} % {mod} + 1) % {mod} ELSE {h(tag)} % {mod} END"
        )

    terms = " + ".join(
        f"CASE WHEN a.{n} = b.{n} THEN {wa} ELSE -{wd} END"
        for n, wa, wd in _FS_FIELDS
    )
    return f"""
WITH a AS (
  SELECT c_custkey AS a_id,
         {h("ln")} % 500 AS name, {h("lc")} % 200 AS city,
         {h("lb")} % 50 AS band
  FROM customer),
b AS (
  SELECT c_custkey + 1000000 AS b_id,
         {pert("ln", "pn", 500, 10)} AS name,
         {pert("lc", "pc", 200, 8)} AS city,
         {pert("lb", "pb", 50, 5)} AS band
  FROM customer)
SELECT a_id, b_id, CAST({terms} AS BIGINT) AS score
FROM a JOIN b ON TRUE
WHERE {terms} >= {_FS_TH}
"""


# --- D8 flow length (operators/hydrology.py::flow_path_length) -------------
# Longest upstream chain per cell over the shared synthetic DEM; same
# bounded-round contract as flow_accum/strahler. The twin unrolls the
# identical max-propagation rounds over the shared dirs CTE.
def _q_flow_length(spark, sf_dir):
    from osm_hadoop_spark.operators.hydrology import flow_path_length

    return flow_path_length(_los_dem(spark, sf_dir), _STRAHLER_ROUNDS)


def _oracle_flow_length() -> str:
    rounds = []
    for t in range(1, _STRAHLER_ROUNDS + 1):
        rounds.append(f"""
f{t} AS (
  SELECT c.cx, c.cy, COALESCE(s.v, 0) AS fl
  FROM cells c LEFT JOIN (
    SELECT p.nx AS px, p.ny AS py, max(ch.fl) + 1 AS v
    FROM f{t - 1} ch JOIN ptr p ON ch.cx = p.cx AND ch.cy = p.cy
    GROUP BY 1, 2) s
  ON c.cx = s.px AND c.cy = s.py)""")
    return f"""
WITH {_d8_dir_ctes()},
ptr AS (SELECT cx, cy, nx, ny FROM dirs WHERE dir > 0),
cells AS (SELECT cx, cy FROM dem),
f0 AS (SELECT cx, cy, CAST(0 AS BIGINT) AS fl FROM cells),
{','.join(rounds)}
SELECT cx, cy, CAST(fl AS BIGINT) AS fl FROM f{_STRAHLER_ROUNDS}
"""


# --- boilerplate line removal (operators/curation.py) ----------------------
# CCNet/RefinedWeb line filter: docs are split into 8-token "lines" with
# a planted per-source header (every doc) and footer (every other doc);
# a line occurring in >= 40% of its source's docs is boilerplate. The
# header (100%) and footer (~50%) must drop, body lines survive; fp pins
# the exact surviving (pos, line) sequence.
_BP_LINE_TOKS = 8
_BP_PCT = 40


def _bp_lines(spark, sf_dir):
    from osm_hadoop_spark.operators.textstats import h60, tokens_col

    t = tokens_col()
    nb = F.expr(f"div(size(t) + {_BP_LINE_TOKS - 1}, {_BP_LINE_TOKS})")
    body = F.when(
        nb > 0,
        F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: F.array_join(
                F.slice(F.col("t"), i * _BP_LINE_TOKS + 1, _BP_LINE_TOKS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    footer = F.when(
        h60(F.concat(F.lit("bf"), F.col("doc_id").cast("string"))) % 2 == 0,
        F.array(F.concat(F.lit("FTR "), F.col("source"))),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.concat(
        F.array(F.concat(F.lit("HDR "), F.col("source"))), body, footer
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", t.alias("t"))
        .select("doc_id", "source", F.posexplode(lines).alias("pos", "line"))
    )


def _q_boilerplate(spark, sf_dir):
    from osm_hadoop_spark.operators.curation import strip_boilerplate_lines

    return strip_boilerplate_lines(_bp_lines(spark, sf_dir), _BP_PCT)


def _oracle_boilerplate() -> str:
    k = _BP_LINE_TOKS
    return f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents),
la AS (
  SELECT doc_id, source,
         list_concat(
           list_concat(
             ['HDR ' || source],
             list_transform(
               generate_series(0, CAST((len(t) + {k - 1}) // {k} AS INT) - 1),
               i -> array_to_string(list_slice(t, i * {k} + 1, i * {k} + {k}), ' '))),
           CASE WHEN {_duck_h60("'bf' || CAST(doc_id AS VARCHAR)")} % 2 = 0
                THEN ['FTR ' || source]
                ELSE CAST([] AS VARCHAR[]) END) AS ls
  FROM toks),
ln AS (
  SELECT doc_id, source, u.i - 1 AS pos, ls[u.i] AS line
  FROM la, UNNEST(generate_series(1, len(ls))) AS u(i)),
census AS (
  SELECT source, line, count(DISTINCT doc_id) AS df
  FROM ln GROUP BY 1, 2),
gsize AS (
  SELECT source, count(DISTINCT doc_id) AS n FROM ln GROUP BY 1),
fl AS (
  SELECT c.source, c.line, (c.df * 100 >= {_BP_PCT} * g.n) AS bp
  FROM census c JOIN gsize g USING (source))
SELECT ln.doc_id,
       CAST(sum(CASE WHEN NOT bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN NOT bp
                THEN (pos + 1) * ({_duck_h60("ln.line")} % {1 << 40})
                ELSE 0 END) AS BIGINT) AS fp
FROM ln JOIN fl ON ln.source = fl.source AND ln.line = fl.line
GROUP BY ln.doc_id
"""


# --- shot boundaries (operators/multimodal.py::shot_boundaries) ------------
# Video-cut detection over the sampled frame signatures: Hamming >= 33
# of consecutive h60 sigs (60-bit mean 30, sd ~3.9 for independent
# frames, so the synthetic corpus yields a real mix of cut/no-cut).
# Twin = the media-frames byte derivation + the same lag/bit_count fold.
_SHOT_T = 33


def _q_shot_bounds(spark, sf_dir):
    from osm_hadoop_spark.operators.multimodal import (
        sample_frames,
        shot_boundaries,
        synth_media_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    media = synth_media_bytes(docs).select("doc_id", "media")
    return shot_boundaries(sample_frames(media, k=4), threshold=_SHOT_T)


def _oracle_shot_bounds() -> str:
    return f"""
WITH base AS ({_ORACLE_MEDIA_FRAMES}),
sig AS (
  SELECT doc_id, slot, {_duck_h60("frame_hex")} % {1 << 60} AS sig
  FROM base),
lg AS (
  SELECT doc_id, slot, sig,
         lag(sig) OVER (PARTITION BY doc_id ORDER BY slot) AS ps
  FROM sig),
h AS (
  SELECT doc_id, slot,
         CASE WHEN ps IS NULL THEN NULL
              ELSE bit_count(xor(sig, ps)) END AS ham
  FROM lg)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN ham >= {_SHOT_T} THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS n_shots,
       CAST(coalesce(max(ham), 0) AS BIGINT) AS max_ham,
       CAST(sum(CASE WHEN ham >= {_SHOT_T} THEN slot ELSE 0 END) AS BIGINT)
         AS bslots
FROM h GROUP BY doc_id
"""


def _q_greedy_matching(spark, sf_dir):
    """Deterministic maximal matching (operators/matching.py) on the
    shared hypercube+ring graph, capped at 4000 vertices like the
    coloring query (same oracle-cost reasoning) — provably equal to
    sequential greedy in (h60 priority, u, v) edge order, which the
    unrolled twin replays. Fixpoint in 6-7 parallel rounds at every SF
    (measured); the twin unrolls 10."""
    from osm_hadoop_spark.operators.matching import greedy_matching

    edges = _kcore_edges(spark, sf_dir).filter(
        (F.col("u") <= 4000) & (F.col("v") <= 4000)
    )
    return greedy_matching(edges)


def _oracle_greedy_matching(rounds: int = 10) -> str:
    gate = _duck_h60("'rg' || u || '_' || k")
    pr = _duck_h60("'me' || a || '_' || b")
    parts = [f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
hyper AS (
  SELECT u, xor(u, 1 << k) AS v
  FROM pk, (SELECT unnest(generate_series(0, 11)) AS k)
  WHERE {gate} % 4 <> 0),
dir AS (
  SELECT u, v FROM (
    SELECT u, v FROM hyper UNION ALL SELECT u, u + 1 AS v FROM pk) e
  WHERE v IN (SELECT u FROM pk)),
a0 AS MATERIALIZED (
  SELECT a, b, {pr} AS p FROM (
    SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM dir
    WHERE u <> v AND u <= 4000 AND v <= 4000))"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
w{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM a{i-1} e
  WHERE NOT EXISTS (
    SELECT 1 FROM a{i-1} o
    WHERE (o.a IN (e.a, e.b) OR o.b IN (e.a, e.b))
      AND NOT (o.a = e.a AND o.b = e.b)
      AND (o.p < e.p OR (o.p = e.p AND (o.a < e.a
           OR (o.a = e.a AND o.b < e.b)))))),
m{i} AS (SELECT a AS n FROM w{i} UNION SELECT b FROM w{i}),
a{i} AS MATERIALIZED (
  SELECT e.a, e.b, e.p FROM a{i-1} e
  WHERE e.a NOT IN (SELECT n FROM m{i})
    AND e.b NOT IN (SELECT n FROM m{i}))""")
    all_w = " UNION ALL ".join(f"SELECT a, b FROM w{i}"
                               for i in range(1, rounds + 1))
    parts.append(f"""
SELECT a AS u, b AS v FROM ({all_w})""")
    return "".join(parts)


def _bridge_edges(spark, sf_dir):
    """Per-block chain + sparse chords graph over part: every block of
    8 ids carries its path (u, u+1) plus ~2.5 hash-gated chords, so
    bridges (~31% of edges — chain edges no chord covers) and
    2-edge-connected cores both occur, and graph eccentricity (hence
    the operator's BFS round count) is <= 7 at every SF."""
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    chain = (
        pk.select("u", (F.col("u") + 1).alias("v"))
        .filter(F.expr("(u + 1) div 8 = u div 8"))
        .join(pk.select(F.col("u").alias("v")), "v", "semi")
    )
    blk = pk.select("u", F.expr("u div 8").alias("blk"))
    gate = h60(
        F.concat(
            F.lit("br"), F.col("u").cast("string"),
            F.lit("_"), F.col("v").cast("string"),
        )
    )
    extra = (
        blk.join(blk.select(F.col("u").alias("v"), F.col("blk")), "blk")
        .filter(F.col("u") < F.col("v"))
        .filter(gate % 11 == 0)
        .select("u", "v")
    )
    return chain.unionByName(extra)


def _q_dyad_census(spark, sf_dir):
    """Holland-Leinhardt dyad census (operators/graphstats.py) over a
    derived DIRECTED block graph: forward arcs u->u+1 / u->u+3 inside
    each 32-block plus hash-gated reverse arcs, so mutual, asymmetric,
    and null dyads all occur."""
    from osm_hadoop_spark.operators.graphstats import dyad_census
    from osm_hadoop_spark.operators.textstats import h60

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    ids = pk.select(F.col("u").alias("v"))

    def fwd(step):
        return (
            pk.select("u", (F.col("u") + step).alias("v"))
            .filter(F.expr(f"(u + {step}) div 32 = u div 32"))
            .join(ids, "v", "semi")
        )

    f1 = fwd(1)
    rev = (
        f1.filter(h60(F.concat(F.lit("dy"), F.col("u").cast("string"))) % 3
                  == 0)
        .select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    arcs = f1.unionByName(fwd(3)).unionByName(rev)
    return dyad_census(arcs)


_ORACLE_DYAD = f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
f1 AS (SELECT u, u + 1 AS v FROM pk
       WHERE (u + 1) // 32 = u // 32 AND u + 1 IN (SELECT u FROM pk)),
f3 AS (SELECT u, u + 3 AS v FROM pk
       WHERE (u + 3) // 32 = u // 32 AND u + 3 IN (SELECT u FROM pk)),
rev AS (SELECT v AS u, u AS v FROM f1
        WHERE {_duck_h60("'dy' || u")} % 3 = 0),
a AS (SELECT DISTINCT u AS s, v AS d FROM (
        SELECT * FROM f1 UNION ALL SELECT * FROM f3
        UNION ALL SELECT * FROM rev) WHERE u <> v),
pairs AS (SELECT least(s, d) AS a, greatest(s, d) AS b,
                 count(*) AS dirs
          FROM a GROUP BY 1, 2),
nodes AS (SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_nodes
          FROM (SELECT s AS n FROM a UNION ALL SELECT d FROM a)),
cens AS (SELECT CAST(sum(dirs) AS BIGINT) AS n_arcs,
                CAST(sum(CASE WHEN dirs = 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS mutual,
                CAST(sum(CASE WHEN dirs = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS asym
         FROM pairs)
SELECT n_nodes, n_arcs, mutual, asym,
       CAST(n_nodes * (n_nodes - 1) // 2 - mutual - asym AS BIGINT)
         AS nulls
FROM nodes, cens
"""


def _q_triad_census(spark, sf_dir):
    """Full 16-type directed triad census (operators/graphstats.py::
    triad_census, Batagelj-Mrvar subtraction) over the same directed
    block graph as dyad_census — the MAN ladder completed."""
    from osm_hadoop_spark.operators.graphstats import triad_census

    pk = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("u"))
    ids = pk.select(F.col("u").alias("v"))

    def fwd(step):
        return (
            pk.select("u", (F.col("u") + step).alias("v"))
            .filter(F.expr(f"(u + {step}) div 32 = u div 32"))
            .join(ids, "v", "semi")
        )

    from osm_hadoop_spark.operators.textstats import h60

    f1 = fwd(1)
    rev = (
        f1.filter(h60(F.concat(F.lit("dy"), F.col("u").cast("string"))) % 3
                  == 0)
        .select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # SPARSE u+2 arcs close one third of the (u, u+1, u+2) triangles so
    # the 030/120/210 tiers populate while open stars (021D/U) survive;
    # rev arcs supply the mutual dyads inside them
    f2 = fwd(2).filter(
        h60(F.concat(F.lit("t2"), F.col("u").cast("string"))) % 3 == 0
    )
    return triad_census(
        f1.unionByName(f2).unionByName(fwd(3)).unionByName(rev)
    )


def _oracle_triad_census() -> str:
    from osm_hadoop_spark.operators.graphstats import _triad_map64

    case = "CASE code6 " + " ".join(
        f"WHEN {c} THEN '{nm}'" for c, nm in sorted(_triad_map64().items())
    ) + " END"
    all_names = ", ".join(
        f"('{nm}')" for nm in sorted(set(_triad_map64().values()))
    )
    return f"""
WITH pk AS (SELECT p_partkey AS u FROM part),
f1 AS (SELECT u, u + 1 AS v FROM pk
       WHERE (u + 1) // 32 = u // 32 AND u + 1 IN (SELECT u FROM pk)),
f2 AS (SELECT u, u + 2 AS v FROM pk
       WHERE (u + 2) // 32 = u // 32 AND u + 2 IN (SELECT u FROM pk)
         AND {_duck_h60("'t2' || u")} % 3 = 0),
f3 AS (SELECT u, u + 3 AS v FROM pk
       WHERE (u + 3) // 32 = u // 32 AND u + 3 IN (SELECT u FROM pk)),
rev AS (SELECT v AS u, u AS v FROM f1
        WHERE {_duck_h60("'dy' || u")} % 3 = 0),
a AS (SELECT DISTINCT u AS s, v AS d FROM (
        SELECT * FROM f1 UNION ALL SELECT * FROM f2
        UNION ALL SELECT * FROM f3
        UNION ALL SELECT * FROM rev) WHERE u <> v),
dy AS (SELECT least(s, d) AS lo, greatest(s, d) AS hi,
              max(CASE WHEN s < d THEN 1 ELSE 0 END)
              + 2 * max(CASE WHEN s > d THEN 1 ELSE 0 END) AS code
       FROM a GROUP BY 1, 2),
inc AS (SELECT lo AS c, hi AS o FROM dy
        UNION ALL SELECT hi AS c, lo AS o FROM dy),
tri AS (
  SELECT DISTINCT least(l.c, l.o, r.o) AS i,
         l.c + l.o + r.o - least(l.c, l.o, r.o)
           - greatest(l.c, l.o, r.o) AS j,
         greatest(l.c, l.o, r.o) AS k
  FROM inc l JOIN inc r ON r.c = l.c AND l.o < r.o),
coded AS (
  SELECT coalesce(dij.code, 0) AS dij, coalesce(dik.code, 0) AS dik,
         coalesce(djk.code, 0) AS djk
  FROM tri
  LEFT JOIN dy dij ON dij.lo = tri.i AND dij.hi = tri.j
  LEFT JOIN dy dik ON dik.lo = tri.i AND dik.hi = tri.k
  LEFT JOIN dy djk ON djk.lo = tri.j AND djk.hi = tri.k),
lab AS (
  SELECT {case.replace("code6", "(dij + 4 * dik + 16 * djk)")} AS triad,
         CAST(dij IN (1, 2) AS INT) + CAST(dik IN (1, 2) AS INT)
           + CAST(djk IN (1, 2) AS INT) AS n_asym,
         CAST(dij = 3 AS INT) + CAST(dik = 3 AS INT)
           + CAST(djk = 3 AS INT) AS n_mut
  FROM coded),
enum AS (SELECT triad, CAST(count(*) AS BIGINT) AS n_triads
         FROM lab GROUP BY triad),
sums AS (SELECT CAST(count(*) AS BIGINT) AS t_enum,
                CAST(coalesce(sum(n_asym), 0) AS BIGINT) AS a_in,
                CAST(coalesce(sum(n_mut), 0) AS BIGINT) AS m_in
         FROM lab),
dyg AS (SELECT CAST(sum(CASE WHEN code <> 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS a_dy,
               CAST(sum(CASE WHEN code = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS m_dy
        FROM dy),
nn AS (SELECT CAST(count(DISTINCT n) AS BIGINT) AS n
       FROM (SELECT s AS n FROM a UNION ALL SELECT d FROM a)),
sc AS (SELECT a_dy * (n - 2) - a_in AS c012,
              m_dy * (n - 2) - m_in AS c102,
              n * (n - 1) // 2 * (n - 2) // 3 - t_enum
                - (a_dy * (n - 2) - a_in) - (m_dy * (n - 2) - m_in) AS c003
       FROM nn, dyg, sums),
frame(triad) AS (VALUES {all_names})
SELECT f.triad,
       CAST(CASE WHEN f.triad = '003' THEN sc.c003
                 WHEN f.triad = '012' THEN sc.c012
                 WHEN f.triad = '102' THEN sc.c102
                 ELSE coalesce(e.n_triads, 0) END AS BIGINT) AS n_triads
FROM frame f LEFT JOIN enum e ON e.triad = f.triad, sc
"""


def _q_bipartite(spark, sf_dir):
    """Per-component bipartiteness census (operators/graphstats.py::
    bipartite_census) over the bridge-fixture block graph: chains alone
    are bipartite, chords close odd cycles in about half the blocks —
    BFS parity from each component's minimum node, odd edges counted."""
    from osm_hadoop_spark.operators.graphstats import bipartite_census

    return bipartite_census(_bridge_edges(spark, sf_dir))


_ORACLE_BIPARTITE = f"""
WITH RECURSIVE
pk AS (SELECT p_partkey AS u FROM part),
chain AS (
  SELECT u, u + 1 AS v FROM pk
  WHERE (u + 1) // 8 = u // 8 AND u + 1 IN (SELECT u FROM pk)),
extra AS (
  SELECT a.u AS u, b.u AS v
  FROM pk a JOIN pk b ON a.u // 8 = b.u // 8 AND a.u < b.u
  WHERE {_duck_h60("'br' || a.u || '_' || b.u")} % 11 = 0),
ce AS (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
  FROM (SELECT u, v FROM chain UNION ALL SELECT u, v FROM extra)
  WHERE u <> v),
badj AS (SELECT u, v FROM ce UNION ALL SELECT v AS u, u AS v FROM ce),
allr(n0, n, hops) AS (
  SELECT u, u, 0 FROM (SELECT u FROM ce UNION SELECT v FROM ce)
  UNION
  SELECT r.n0, a.v, r.hops + 1
  FROM allr r JOIN badj a ON a.u = r.n
  WHERE r.hops < 16),
mind AS (SELECT n0, n, min(hops) AS d FROM allr GROUP BY n0, n),
comp AS (SELECT n0 AS node, min(n) AS component FROM mind GROUP BY n0),
lv AS (
  SELECT m.n AS node, m.n0 AS component, m.d % 2 AS par
  FROM mind m
  WHERE m.n0 IN (SELECT DISTINCT component FROM comp)),
odd AS (
  SELECT lu.component,
         CAST(sum(CASE WHEN lu.par = lw.par THEN 1 ELSE 0 END) AS BIGINT)
           AS odd_edges
  FROM ce JOIN lv lu ON lu.node = ce.u JOIN lv lw ON lw.node = ce.v
  GROUP BY lu.component),
nn AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
       FROM lv GROUP BY component)
SELECT nn.component, nn.n_nodes,
       CAST(coalesce(odd.odd_edges, 0) AS BIGINT) AS odd_edges
FROM nn LEFT JOIN odd ON odd.component = nn.component
"""


def _bridge_flags_build(spark, sf_dir):
    from osm_hadoop_spark.operators.bridges import bridge_census

    return bridge_census(_bridge_edges(spark, sf_dir))


def _q_bridge_census(spark, sf_dir):
    """Exact bridge detection (operators/bridges.py): BFS spanning
    forest + ancestor closure + Tarjan's non-tree cover rule. The twin
    is the OPPOSITE mechanism — brute remove-each-edge reachability.
    The flags frame is session-cached (_assembly_cached) so the
    two_edge_components query reuses it instead of re-running the
    whole fixpoint chain."""
    return _assembly_cached(spark, sf_dir, "bridge_flags",
                            _bridge_flags_build)


def _q_two_edge_components(spark, sf_dir):
    """2-edge-connected components (operators/bridges.py): connected
    components over the non-bridge edge set (shared cached flags),
    singletons kept."""
    from osm_hadoop_spark.operators.bridges import two_edge_components

    flags = _assembly_cached(spark, sf_dir, "bridge_flags",
                             _bridge_flags_build)
    return two_edge_components(_bridge_edges(spark, sf_dir), flags=flags)


_DUCK_BRIDGE_EDGES = f"""
pk AS (SELECT p_partkey AS u FROM part),
chain AS (
  SELECT u, u + 1 AS v FROM pk
  WHERE (u + 1) // 8 = u // 8 AND u + 1 IN (SELECT u FROM pk)),
extra AS (
  SELECT a.u AS u, b.u AS v
  FROM pk a JOIN pk b ON a.u // 8 = b.u // 8 AND a.u < b.u
  WHERE {_duck_h60("'br' || a.u || '_' || b.u")} % 11 = 0),
ce AS (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
  FROM (SELECT u, v FROM chain UNION ALL SELECT u, v FROM extra)
  WHERE u <> v),
badj AS (SELECT u, v FROM ce UNION ALL SELECT v AS u, u AS v FROM ce),
reach(eu, ev, n) AS (
  SELECT u, v, u FROM ce
  UNION
  SELECT r.eu, r.ev, a.v
  FROM reach r JOIN badj a ON a.u = r.n
  WHERE NOT (least(a.u, a.v) = r.eu AND greatest(a.u, a.v) = r.ev)
),
br AS (
  SELECT ce.u, ce.v FROM ce
  WHERE NOT EXISTS (SELECT 1 FROM reach r
                    WHERE r.eu = ce.u AND r.ev = ce.v AND r.n = ce.v))
"""

_ORACLE_BRIDGES = f"""
WITH RECURSIVE
{_DUCK_BRIDGE_EDGES}
SELECT ce.u, ce.v,
       EXISTS (SELECT 1 FROM br
               WHERE br.u = ce.u AND br.v = ce.v) AS is_bridge
FROM ce
"""

_ORACLE_TWO_ECC = f"""
WITH RECURSIVE
{_DUCK_BRIDGE_EDGES},
nb AS (
  SELECT ce.u, ce.v FROM ce
  WHERE NOT EXISTS (SELECT 1 FROM br
                    WHERE br.u = ce.u AND br.v = ce.v)),
nbadj AS (SELECT u, v FROM nb UNION ALL SELECT v AS u, u AS v FROM nb),
r2(n0, n) AS (
  SELECT u, u FROM (SELECT u FROM ce UNION SELECT v FROM ce)
  UNION
  SELECT r2.n0, a.v FROM r2 JOIN nbadj a ON a.u = r2.n
)
SELECT n0 AS node, CAST(min(n) AS BIGINT) AS comp2 FROM r2 GROUP BY n0
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # geospatial core (SURVEY section 2)
        "way_assembly_wkt": _q_way_assembly,        # J1+J2+E1/E3, F5 (codegen WKT)
        "way_assembly_wkt_arrow": _q_way_assembly_arrow,  # same, pandas-UDF WKT
        "relation_assembly_wkt": _q_relation_assembly,  # J1'/J2' second level
        "multipolygon_assembly": _q_multipolygon_assembly,  # ring chain/orient/holes
        "pip_multipolygon_holes": _q_pip_multipolygon,  # E8 with hole exclusion
        "zonal_multipolygon": _q_zonal_multipolygon,    # A5 over hole-aware zones
        "grid_snap": _q_grid_snap,                  # E4+E12
        "pixel_precedence": _q_pixel_precedence,    # A1 (+F8 class domain)
        "pixel_counts": _q_pixel_counts,            # A3
        "tile_point_z14": _q_tile_point,            # J5/E10
        "tile_point_jvm_z14": _q_tile_point_jvm,   # J5, streaming-shared JVM cells
        "osm_apply_diff": _q_apply_diff,            # changeset application (osmosis rules)
        "osm_derive_diff": _q_derive_diff,          # changeset derivation (inverse)
        "span_kind_rle": _q_span_kind_rle,          # interleaving RLE, zero-shuffle codegen
        "span_transition_matrix": _q_span_transitions,  # modality bigram matrix
        "span_media_density": _q_span_media_density,    # per-doc media share (int pair)
        "media_asset_dedup": _q_media_asset_dedup,  # asset-level content dedup
        "media_rewrite_fp": _q_media_rewrite_fp,    # canonical-ref doc rewrite
        "gram_matrix_fp": _q_gram_matrix,           # one-pass exact moment matrix
        "token_drift_chi2": _q_token_drift,         # exact slice-drift chi-square
        "acf_lag_stats": _q_acf_stats,              # windowed ACF moment sums
        "frechet_traj_join": _q_frechet_join,       # blocked trajectory similarity
        "priority_sample_w": _q_priority_sample,    # weighted top-k sampling
        "bilinear_upsample_k4": _q_bilinear_upsample,  # join-free raster resample
        "pca_project_q": _q_pca_project,            # broadcast-matmul projection
        "hrw_shard_migration": _q_hrw_migration,    # rendezvous re-shard diff
        "hll_tile_rollup": _q_hll_tile_rollup,      # sketch-merge hierarchy proof
        "greedy_cover_sel": _q_greedy_cover,        # submodular coverage ladder
        "suffix_rank_global": _q_suffix_ranks,      # prefix-doubling suffix array
        "lcp_repeat_mining": _q_lcp_repeats,        # LCP repeated substrings
        "nw_align_pairs": _q_nw_align,              # token-sequence alignment DP
        "ewma_user_state": _q_ewma_users,           # fixed-point ordered fold
        "strahler_order_d8": _q_strahler,           # drainage-network hierarchy
        "flow_length_d8": _q_flow_length,           # longest upstream chain (D8)
        "robust_outlier_mad": _q_robust_outliers,   # rank-defined median/MAD
        "vocab_growth_curve": _q_vocab_growth,      # Heaps-law corpus audit
        "key_skew_audit": _q_key_skew,              # exact Gini shuffle planning
        "peak_concurrency": _q_peak_concurrency,    # T6 sweep-line max depth
        "table_profile_orders": _q_table_profile,   # one-scan ANALYZE stats
        "price_histogram_b32": _q_price_histogram,  # exact fixed-bound histogram
        "blocklist_census": _q_blocklist_census,    # curation blocklist gate
        "boilerplate_lines": _q_boilerplate,        # CCNet line filter + cleaned fp
        "table_checksum_docs": _q_table_checksum,   # anti-entropy bucket checksum
        "snapshot_diff_buckets": _q_snapshot_diff,  # Merkle-style snapshot diff
        "dedup_sorted_neighborhood": _q_dedup_snm,  # SNM linear-candidate dedup
        "leakage_safe_split": _q_leakage_split,     # cluster-rooted train/val/test
        "negative_samples_k4": _q_negative_samples,  # consistent-hash negatives
        "mixture_rebalance_lang": _q_mixture_rebalance,  # exact-rational mixture
        "morans_lisa_g60": _q_morans_lisa,          # local spatial autocorrelation
        "morans_global_g60": _q_morans_global,      # global Moran's I (exact ints)
        "getis_ord_gi_g60": _q_getis_ord,           # Gi* hot-spot numerators
        "media_container_meta": _q_media_containers,  # real PNG/BMP/WAV/GIF parse
        "dq_expectations_orders": _q_dq_orders,     # ingest data-quality gate
        "pii_redact_spans": _q_pii_redact_spans,    # in-span PII scrub, order-proof
        "media_context_windows": _q_media_context,  # caption-pairing primitive
        "scd2_user_status": _q_scd2_user_status,    # T7 change log -> versions
        "activity_gaps": _q_activity_gaps,          # T5b island complement
        "way_length_mm": _q_way_length,             # geodesic measure (exact int sum)
        "cell_rollup_z14_z7": _q_cell_rollup,       # hierarchical cell rollup
        "s2_cell_assign_l12": _q_s2_cells,          # from-scratch S2 (Hilbert) index
        "s2_region_contain": _q_s2_region_contain,  # mixed-level containment equi-join
        "s2_cover_l7": _q_s2_cover,                 # S2 envelope cover (E9 twin)
        "s2_cover_overlap": _q_s2_overlap,          # cover algebra: |A ∩ B| in leaves
        "s2_cover_adaptive_l9": _q_s2_cover_adaptive,  # mixed-level RegionCoverer
        "s2_cover_join_l9": _q_s2_cover_join,       # J3 filter-and-refine on S2
        "tile_cover_count_z5": _q_tile_cover,       # E9 (J3 filter stage)
        "tile_cover_jvm_z5": _q_tile_cover_jvm,     # E9, whole-stage-codegen path
        "tile_refine_z10": _q_tile_refine,          # J3 exact refine
        "tile_refine_jvm_z10": _q_tile_refine_jvm,  # J3 refine, zero-Python codegen
        "planet_e2e": _q_planet_e2e,                # full pipeline composition
        "buffered_cover_z13": _q_buffered_cover,    # E6+E9 buffered filter stage
        "buffered_cover_jvm_z13": _q_buffered_cover_jvm,  # round-5 zero-Python twin
        "rasterize_bresenham": _q_rasterize_bresenham,  # E4+E5+F8 raster map side
        "min_class_pixels": _q_min_class,           # A2 (SparkRasterizer variant)
        "tile_bitset_or": _q_bitset_or,             # A6 bitset OR composite
        "pip_triangles": _q_pip,                    # E8 refine / PIP containment
        "polygon_fill_spans": _q_polygon_fill,      # A-family: interior scanline fill
        "polylabel_grid": _q_polylabel,             # pole of inaccessibility (label point)
        "simplify_dp_ways": _q_simplify_dp,         # Douglas-Peucker simplification
        "chaikin_smooth_r3": _q_chaikin,            # corner-cutting smoothing
        "vw_simplify_r3": _q_vw,                    # Visvalingam-Whyatt simplification
        "str_pack_c32": _q_str_pack,                # STR R-tree bulk packing
        "interval_schedule_greedy": _q_interval_schedule,  # max non-overlap selection
        "mann_kendall_cells": _q_mann_kendall,      # per-cell trend census
        "mrl_deciles_sketch": _q_mrl_deciles,       # deterministic quantile sketch
        "seasonal_anomaly_dow": _q_seasonal_anomaly,  # day-of-week profile + anomaly
        "gearys_c_g60": _q_gearys_c,                # pair-difference autocorrelation
        "ripley_k_multi": _q_ripley_k,              # multi-scale point-pattern census
        "haar_energy_l5": _q_haar_energy,           # per-key wavelet scale energies
        "benford_digits": _q_benford,               # first-digit audit census
        "gini_quantity": _q_gini,                   # exact concentration numerator
        "allen_census_13": _q_allen_census,         # interval-algebra relation census
        "encoding_anomaly_census": _q_encoding_anomalies,  # mojibake/control screening
        "integral_image_g29": _q_integral_image,    # summed-area table cascade
        "pair_confusion_docs": _q_pair_confusion,   # clustering-eval Rand numerators
        "variogram_lags8": _q_variogram,            # multi-lag geostatistics census
        "skyline_layers_4": _q_skyline_layers,      # onion frontier ranking
        "oov_census_v120": _q_oov_census,           # corpus-relative OOV quality
        "four_clique_blocks": _q_four_cliques,      # k=4 clique listing
        "kendall_tau_daily": _q_kendall_tau,        # bivariate rank concordance
        "dominance_counts_b250": _q_dominance,      # joint-CDF / k-dominance scores
        "ecdf_drift_ks_cvm": _q_ecdf_drift,         # exact two-sample drift gate
        "mann_whitney_u": _q_mann_whitney,          # rank-sum location test
        "phrase_gazetteer": _q_phrase_census,       # multi-token dictionary tagging
        "spearman_rank_sums": _q_spearman,          # tie-aware rank correlation
        "pettitt_changepoint": _q_pettitt,          # rank-based break detection
        "ordinal_patterns_o3": _q_ordinal_patterns,  # Bandt-Pompe motif census
        "twap_month": _q_twap,                      # holding-time-weighted mean
        "km_lifetable_cohorts": _q_km_lifetable,    # censoring-aware churn table
        "json_key_census": _q_json_key_census,      # semi-structured schema census
        "assortativity_sums": _q_assortativity,     # degree-correlation scalar sums
        "rich_club_ladder": _q_rich_club,           # elite-core degree census
        "emerging_hotspots": _q_emerging_hotspots,  # Gi* x Mann-Kendall composition
        "geohash_points_p7": _q_geohash_points,     # E-family: geohash cell index
        "way_polygon_contain": _q_way_polygon,      # way x boundary-polygon join
        "knn_nodes": _q_knn,                        # J6
        "zonal_points_z14": _q_zonal,               # A5/E16
        "way_tag_filter": _q_tag_filter,            # F1
        # relational coverage
        "agg_pricing_summary": _q_pricing,          # A-family partial+final agg
        "broadcast_dim_join": _q_dim_join,          # J4
        "window_topk_orders": _q_window_topk,       # ranking window
        "sessionize_events": _q_sessionize,         # lag window / sessionization
        "asof_join_events": _q_asof_join,           # as-of (point-in-time) join
        "interval_join_events": _q_interval_join,   # bucketized interval overlap join
        "semi_anti_customers": _q_semi_anti,        # semi/anti joins
        "exact_quantiles_events": _q_exact_quantiles,  # percentile agg
        "running_total_orders": _q_running_total,   # cumulative window agg
        "cube_lineitem": _q_cube_lineitem,          # one-pass CUBE grouping sets
        "pivot_event_counts": _q_pivot_events,      # long -> wide pivot
        "rollup_orders": _q_rollup_orders,          # grouping sets / rollup
        # training-data pipeline additions
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "jaccard_join_exact": _q_jaccard_join_exact,  # PPJoin prefix filter, complete recall
        "fuzzy_join_ed1": _q_fuzzy_join,            # PassJoin edit-distance blocking
        "record_linkage_fs": _q_record_linkage,     # Fellegi-Sunter lossless blocking
        "dup_substring_spans": _q_dup_substrings,   # cross-doc repeated-span extraction
        "inverted_index": _q_inverted_index,        # sharded postings full-text index
        "cooccurrence_pmi": _q_cooccurrence,        # word co-occurrence / PMI stats
        "dedup_clusters": _q_dedup_clusters,        # pairs -> components (large/small-star)
        "dbscan_hotspots": _q_dbscan_clusters,      # exact grid DBSCAN (density clustering)
        "emst_blocks_b12": _q_emst_blocks,          # distributed Boruvka spanning forest
        "single_linkage_cut": _q_single_linkage,    # dendrogram flat cut at T
        "single_linkage_ladder": _q_linkage_ladder,  # merge curve over 4 cuts
        "kde_hotspots": _q_kde_hotspots,            # separable integer-kernel density grid
        "distance_pairs_r40": _q_distance_pairs,    # distance-band join (grid equi-join)
        "join_counts_grid": _q_join_counts,         # spatial autocorrelation (join counts)
        "hot_regions": _q_hot_regions,              # 4-connected region labeling (CC)
        "morph_close_hotspots": _q_morph_close,     # morphological closing (map algebra)
        "trip_segments": _q_trip_segments,          # trajectory split on gap/teleport
        "comovement_pairs_r5": _q_comovement,       # convoy/companion detection (T5)
        "dissolve_regions": _q_dissolve_regions,    # shared-edge polygon dissolve
        "pyramid_counts": _q_pyramid_counts,        # 2x overview pyramid (gdaladdo analog)
        "od_matrix": _q_od_matrix,                  # origin-destination flow rollup
        "way_crossings": _q_way_crossings,          # planar overlay intersection join
        "clip_segments_z": _q_clip_segments,        # exact Liang-Barsky tile clip
        "contour_cells_t2": _q_contour,             # marching-squares contour segments
        "ways_self_intersect": _q_self_intersect,   # ST_IsSimple violation stream
        "funnel_conversion": _q_funnel,             # greedy first-match funnel fold
        "quadtree_leaves_c64": _q_quadtree,         # occupancy-capped spatial partitioner
        "way_noding_edges": _q_way_noding,          # junction split -> routing edges
        "merge_chains_ways": _q_merge_chains,       # LineMerger degree-2 chains
        "lm_bigram_scores": _q_lm_scores,           # corpus-MLE LM quality gate
        "zonal_mode_grid": _q_zonal_mode,           # zonal majority, pinned tie-break
        "retention_cohorts": _q_retention,          # first-day cohort retention matrix
        "trend_per_user": _q_trend,                 # exact integer OLS statistics
        "cusum_changepoint": _q_cusum,              # integer CUSUM argmax split
        "theil_sen_slope": _q_theil_sen,            # robust median pairwise slope
        "k_core_9": _q_k_core,                      # Matula-Beck peeling fixpoint
        "k_truss_4": _q_k_truss,                    # triangle-support edge peel
        "subtree_rollup_div3": _q_subtree_rollup,   # recursive-CTE twin, doubling closure
        "scc_components": _q_scc,                   # directed mutual-reach components
        "weighted_median_part": _q_weighted_median, # exact no-buffer weighted median
        "basket_pair_lift": _q_basket_lift,         # association rules, integer lift
        "mis_greedy_h60": _q_luby_mis,              # deterministic Luby MIS
        "bridge_census": _q_bridge_census,          # cut edges (Tarjan cover rule)
        "two_edge_components": _q_two_edge_components,  # bridge-free classes
        "matching_greedy": _q_greedy_matching,      # maximal matching (line-graph MIS)
        "dyad_census": _q_dyad_census,              # directed reciprocity M-A-N
        "bipartite_census": _q_bipartite,           # 2-colorability / odd cycles
        "triad_census_man": _q_triad_census,        # 16-type directed triads
        "coloring_greedy_jp": _q_greedy_coloring,   # Jones-Plassmann greedy coloring
        "rolling_wau_7": _q_rolling_wau,            # DAU / trailing-7d WAU
        "colocation_pi_r40": _q_colocation,         # participation counts per class pair
        "viewshed_census_r12": _q_viewshed,         # per-observer visible-cell count
        "ams_f2_users": _q_ams_f2,                  # sign-sketch self-join size
        "equi_depth_bins_d10": _q_equi_depth,       # exact rank decile boundaries
        "containment_join_c80": _q_containment_join,  # asymmetric near-dup class
        "bootstrap_reps_b16": _q_bootstrap,         # one-pass resampled aggregates
        "butterfly_census": _q_butterflies,         # bipartite 4-cycle motif count
        "activity_islands": _q_activity_islands,    # gaps-and-islands interval merge
        "graph_bfs_h5": _q_graph_bfs,               # multi-source BFS hop distance
        "hyperball_reach_h3": _q_hyperball,         # HLL ball-size sketches
        "kmv_overlap_events": _q_kmv_overlap,       # theta-style set intersection
        "cost_distance_r6": _q_cost_distance,       # raster least-cost surface
        "dtw_traj_join": _q_dtw_join,               # sum-semiring warping join
        "dwell_segments": _q_dwell_segments,        # stay-point detection (T4)
        "ivm_merge_orders": _q_ivm_merge,           # incremental view maintenance
        "attribution_touch": _q_attribution,        # first/last-touch credit
        "geodesic_pairs_50km": _q_geodesic_pairs,   # great-circle distance band
        "graph_sssp_h4": _q_graph_sssp,             # bounded-hop weighted SSSP
        "widest_path_h4": _q_widest_path,           # bottleneck-capacity routing
        "temporal_ea_r4": _q_temporal_ea,           # time-respecting reachability
        "pagerank_r3": _q_pagerank,                 # fixed-point integer PageRank
        "random_walks_l4": _q_random_walks,         # DeepWalk corpus generation
        "stress_centrality_h4": _q_stress,          # integer shortest-path census
        "link_pred_cn": _q_linkpred,                # common-neighbor candidates
        "label_prop_r3": _q_labelprop,              # deterministic LPA communities
        "modularity_by_lpa": _q_modularity,         # partition quality census
        "ppr_seeded_r3": _q_ppr,                    # personalized PageRank
        "snap_points_r50": _q_snap_points,          # nearest-segment map matching
        "viterbi_match_t5": _q_viterbi,             # HMM map matching DP table
        "triangle_blocks": _q_triangles,            # degree-ordered triangle join
        "clustering_coeff": _q_clustering_coeff,    # local cc, exact fixed-point
        "focal_stats_3x3": _q_focal_stats,          # raster map-algebra focal window
        "gradient_sobel": _q_gradient,              # multi-kernel sparse convolution
        "affine_warp_near": _q_affine_warp,         # raster warp: computed-key gather
        "convex_hull_ways": _q_convex_hull,         # monotone chain vs exclusion oracle
        "min_rect_groups": _q_min_rect,             # rotating-calipers exact MBR
        "simplify_hausdorff": _q_simplify_hausdorff,  # simplification error bound
        "idw_surface": _q_idw_surface,              # scatter IDW vs gather oracle
        "chunk_documents": _q_chunk_documents,      # passage windows, single stage
        "cdc_chunk_spans": _q_cdc_chunks,           # content-defined chunking
        "pack_documents": _q_pack_documents,        # sequence packing (concat-and-chunk)
        "bpe_apply_tokens": _q_bpe_tokens,          # ordered BPE merge-rank folds
        "bpe_train_merges": _q_bpe_train,           # iterative pair-census training
        "decontam_4gram": _q_decontam,              # benchmark eval-leak gate
        "way_diameter": _q_way_diameter,            # hull-reduced farthest pair
        "one_center_ways": _q_one_center,           # discrete minimax facility (hull-pruned)
        "pareto_skyline": _q_pareto_skyline,        # single-sort dominance frontier
        "hex_bin_density": _q_hex_density,          # from-scratch hex cell index
        "hex_smooth_density": _q_hex_smooth,        # ring-1 hex neighborhood sum
        "hex_parent_rollup": _q_hex_parent,         # multiresolution hex pyramid
        "segment_orientation": _q_segment_orientation,  # trig-free compass rose
        "pip_outside": _q_pip_outside,              # spatial anti-join
        "dedup_simhash": _q_dedup_simhash,
        "embedding_topk": _q_embedding_topk,
        "embedding_neardup": _q_embedding_neardup,  # derived oracle (plane literals)
        "semdedup_prune_k8": _q_semdedup,           # SemDeDup cluster prune (int-exact)
        "bitext_margin_mine": _q_bitext_mine,       # CCMatrix-style margin retrieval
        "url_canonicalize": _q_url_canonicalize,    # RFC3986-safe URL normal form
        "url_domain_census": _q_url_census,         # registrable-domain rollup
        "ann_lsh_topk": _q_ann_lsh,                 # derived oracle (plane literals)
        "ann_ivf_topk": _q_ann_ivf,                 # derived oracle (centroid literals)
        "ann_pq_topk": _q_ann_pq,                   # product quantization, integer ADC
        "ann_sq8_topk": _q_ann_sq8,                 # int8 scalar-quantized ranking
        "tiff_zonal_strips": _q_tiff_zonal,
        "media_metadata": _q_media_metadata,
        "media_frame_sample": _q_media_frames,      # byte-level frame sampling
        "media_shot_bounds": _q_shot_bounds,        # Hamming-cut shot detection
        "span_roundtrip_fp": _q_span_roundtrip,
        "stratified_sample": _q_stratified_sample,
        "sample_topk_per_key": _q_sample_topk,
        "token_count": _q_token_count,
        "bm25_topk_terms": _q_bm25_topk,            # corpus-relative term weighting
        "quality_scores": _q_quality,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "corpus_prep_e2e": _q_corpus_prep,          # full LLM-pipeline composition
        "repetition_signals": _q_repetition_signals,  # Gopher-style repetition gate
        "decontaminate_ngrams": _q_decontaminate,   # benchmark decontamination
        "dsir_select_k200": _q_dsir_select,         # hashed-ngram importance resampling
        "pii_redact": _q_pii_redact,                # PII detect + redact
        "way_shoelace": _q_way_shoelace,            # exact polygon area/centroid
        "tile_coverage_c256": _q_tile_coverage,     # clamped-Green exact coverage
        "areal_interp_c256": _q_areal_interp,       # dasymetric disaggregation
        "kmeans_lloyd_r3": _q_kmeans,               # exact-integer Lloyd rounds
        "hilbert_layout_keys": _q_hilbert_layout,   # space-filling-curve layout
        "zorder_bbox_scan": _q_zorder_bbox,         # exact z-range data skipping
        "hilbert_bulk_scan": _q_hilbert_bulk_scan,  # distributed range planner
        "balanced_ranges_b32": _q_balanced_ranges,  # exact range-partition planner
        "bloom_prune_semijoin": _q_bloom_semijoin,  # runtime-filter join pruning
        "heavy_hitters_tokens": _q_heavy_hitters,   # 2-pass Misra-Gries exact top-k
        "hll_user_registers": _q_hll_registers,     # deterministic HLL sketch state
        "cm_user_freq": _q_count_min,               # count-min point estimates
        "resample_ffill_events": _q_resample_ffill,  # dense series + gap fill
        "resample_interp_events": _q_resample_interp,  # exact linear interpolation
        "line_of_sight_dem": _q_line_of_sight,      # DEM intervisibility
        "d8_flow_dir": _q_d8_flow_dir,              # D8 steepest-descent drainage
        "horn_terrain": _q_horn_terrain,            # Horn slope/aspect/hillshade
        "hillshade_ieee": _q_hillshade,             # bit-exact float hillshade
        "flow_accum_r6": _q_flow_accum,             # bounded-round flow accumulation
        "watershed_basins_d5": _q_watershed,        # pointer-doubling basin labels
    }


def oracle_sql() -> dict[str, str]:
    oracles = {
        "way_assembly_wkt": _ORACLE_WAY_ASSEMBLY,
        "way_assembly_wkt_arrow": _ORACLE_WAY_ASSEMBLY,
        "relation_assembly_wkt": _ORACLE_RELATION_ASSEMBLY,
        "multipolygon_assembly": _ORACLE_MULTIPOLYGON_ASSEMBLY,
        "pip_multipolygon_holes": _ORACLE_PIP_MULTIPOLYGON,
        "zonal_multipolygon": _ORACLE_ZONAL_MULTIPOLYGON,
        "grid_snap": _ORACLE_GRID_SNAP,
        "pixel_precedence": _ORACLE_PIXEL_PRECEDENCE,
        "pixel_counts": _ORACLE_PIXEL_COUNTS,
        "tile_point_z14": _ORACLE_TILE_POINT,
        "tile_point_jvm_z14": _ORACLE_TILE_POINT,
        "osm_apply_diff": _ORACLE_APPLY_DIFF,
        "osm_derive_diff": _ORACLE_DERIVE_DIFF,
        "span_kind_rle": _ORACLE_SPAN_RLE,
        "span_transition_matrix": _ORACLE_SPAN_TRANSITIONS,
        "span_media_density": _ORACLE_SPAN_MEDIA_DENSITY,
        "media_asset_dedup": _ORACLE_MEDIA_ASSET_DEDUP,
        "media_rewrite_fp": _ORACLE_MEDIA_REWRITE_FP,
        "gram_matrix_fp": _ORACLE_GRAM_MATRIX,
        "token_drift_chi2": _ORACLE_TOKEN_DRIFT,
        "acf_lag_stats": _ORACLE_ACF,
        "frechet_traj_join": _oracle_frechet(),
        "dtw_traj_join": _oracle_dtw(),
        "priority_sample_w": _ORACLE_PRIORITY_SAMPLE,
        "bilinear_upsample_k4": _oracle_bilinear(),
        "hrw_shard_migration": _oracle_hrw(),
        "hll_tile_rollup": _ORACLE_HLL_ROLLUP,
        "greedy_cover_sel": _oracle_greedy_cover(),
        "suffix_rank_global": _ORACLE_SUFFIX_RANKS,
        "lcp_repeat_mining": _ORACLE_LCP_REPEATS,
        "nw_align_pairs": _ORACLE_NW_ALIGN,
        "ewma_user_state": _ORACLE_EWMA,
        "strahler_order_d8": _oracle_strahler(),
        "flow_length_d8": _oracle_flow_length(),
        "robust_outlier_mad": _ORACLE_ROBUST,
        "vocab_growth_curve": _ORACLE_VOCAB_GROWTH,
        "key_skew_audit": _ORACLE_KEY_SKEW,
        "peak_concurrency": _ORACLE_PEAK_CONCURRENCY,
        "table_profile_orders": _ORACLE_TABLE_PROFILE,
        "price_histogram_b32": _ORACLE_PRICE_HISTOGRAM,
        "blocklist_census": _ORACLE_BLOCKLIST,
        "boilerplate_lines": _oracle_boilerplate(),
        "table_checksum_docs": _ORACLE_TABLE_CHECKSUM,
        "snapshot_diff_buckets": _ORACLE_SNAPSHOT_DIFF,
        "dedup_sorted_neighborhood": _ORACLE_DEDUP_SNM,
        "media_context_windows": _ORACLE_MEDIA_CONTEXT,
        "scd2_user_status": _ORACLE_SCD2,
        "activity_gaps": _ORACLE_GAPS,
        "way_length_mm": _oracle_way_length(),
        "cell_rollup_z14_z7": _ORACLE_CELL_ROLLUP,
        "tile_cover_count_z5": _ORACLE_TILE_COVER,
        "tile_cover_jvm_z5": _ORACLE_TILE_COVER,
        "tile_refine_z10": _ORACLE_TILE_REFINE,
        "tile_refine_jvm_z10": _ORACLE_TILE_REFINE,
        "planet_e2e": _ORACLE_PLANET_E2E,
        "buffered_cover_z13": _ORACLE_BUFFERED_COVER,
        "buffered_cover_jvm_z13": _ORACLE_BUFFERED_COVER,
        "rasterize_bresenham": _ORACLE_RASTERIZE,
        "min_class_pixels": _ORACLE_MIN_CLASS,
        "tile_bitset_or": _ORACLE_BITSET_OR,
        "pip_triangles": _ORACLE_PIP,
        "polygon_fill_spans": _ORACLE_POLYGON_FILL,
        "polylabel_grid": _ORACLE_POLYLABEL,
        "simplify_dp_ways": _ORACLE_SIMPLIFY_DP,
        "chaikin_smooth_r3": _oracle_chaikin(),
        "vw_simplify_r3": _oracle_vw(),
        "str_pack_c32": _oracle_str_pack(),
        "interval_schedule_greedy": _oracle_interval_schedule(),
        "mann_kendall_cells": _ORACLE_MANN_KENDALL,
        "mrl_deciles_sketch": _oracle_mrl_deciles(),
        "seasonal_anomaly_dow": _ORACLE_SEASONAL,
        "gearys_c_g60": _ORACLE_GEARY,
        "ripley_k_multi": _oracle_ripley_k(),
        "haar_energy_l5": _oracle_haar_energy(),
        "benford_digits": _ORACLE_BENFORD,
        "gini_quantity": _ORACLE_GINI,
        "allen_census_13": _ORACLE_ALLEN,
        "encoding_anomaly_census": _oracle_encoding_anomalies(),
        "integral_image_g29": _ORACLE_INTEGRAL,
        "pair_confusion_docs": _ORACLE_PAIR_CONFUSION,
        "variogram_lags8": _oracle_variogram(),
        "skyline_layers_4": _oracle_skyline_layers(),
        "oov_census_v120": _ORACLE_OOV,
        "four_clique_blocks": _ORACLE_FOUR_CLIQUES,
        "kendall_tau_daily": _ORACLE_KENDALL,
        "dominance_counts_b250": _ORACLE_DOMINANCE,
        "ecdf_drift_ks_cvm": _ORACLE_ECDF,
        "mann_whitney_u": _ORACLE_MANN_WHITNEY,
        "phrase_gazetteer": _oracle_phrase_census(),
        "spearman_rank_sums": _ORACLE_SPEARMAN,
        "pettitt_changepoint": _ORACLE_PETTITT,
        "ordinal_patterns_o3": _ORACLE_ORDINAL,
        "twap_month": _ORACLE_TWAP,
        "km_lifetable_cohorts": _ORACLE_KM,
        "json_key_census": _ORACLE_JSON_KEYS,
        "assortativity_sums": _ORACLE_ASSORT,
        "rich_club_ladder": _oracle_rich_club(),
        "emerging_hotspots": _ORACLE_EMERGING,
        "geohash_points_p7": _oracle_geohash_points(),
        "way_polygon_contain": _ORACLE_WAY_POLYGON,
        "knn_nodes": _ORACLE_KNN,
        "zonal_points_z14": _ORACLE_ZONAL,
        "way_tag_filter": _ORACLE_TAG_FILTER,
        "agg_pricing_summary": _ORACLE_PRICING,
        "broadcast_dim_join": _ORACLE_DIM_JOIN,
        "window_topk_orders": _ORACLE_WINDOW_TOPK,
        "sessionize_events": _ORACLE_SESSIONIZE,
        "asof_join_events": _ORACLE_ASOF_JOIN,
        "interval_join_events": _ORACLE_INTERVAL_JOIN,
        "semi_anti_customers": _ORACLE_SEMI_ANTI,
        "exact_quantiles_events": _ORACLE_EXACT_QUANTILES,
        "running_total_orders": _ORACLE_RUNNING_TOTAL,
        "cube_lineitem": _ORACLE_CUBE,
        "pivot_event_counts": _ORACLE_PIVOT_EVENTS,
        "rollup_orders": _ORACLE_ROLLUP_ORDERS,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_ngram_jaccard": _ORACLE_DEDUP_JACCARD,
        "dedup_minhash_lsh": _ORACLE_DEDUP_MINHASH,
        "jaccard_join_exact": _ORACLE_JACCARD_EXACT,
        "fuzzy_join_ed1": _oracle_fuzzy_join(),
        "dup_substring_spans": _ORACLE_DUP_SUBSTRINGS,
        "inverted_index": _ORACLE_INVERTED_INDEX,
        "cooccurrence_pmi": _ORACLE_COOCCURRENCE,
        "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
        "dbscan_hotspots": _ORACLE_DBSCAN,
        "emst_blocks_b12": _oracle_emst_blocks(),
        "single_linkage_cut": _oracle_single_linkage(),
        "single_linkage_ladder": _oracle_linkage_ladder(),
        "kde_hotspots": _ORACLE_KDE,
        "distance_pairs_r40": _ORACLE_DISTANCE_PAIRS,
        "join_counts_grid": _ORACLE_JOIN_COUNTS,
        "hot_regions": _ORACLE_HOT_REGIONS,
        "morph_close_hotspots": _ORACLE_MORPH_CLOSE,
        "trip_segments": _ORACLE_TRIPS,
        "comovement_pairs_r5": _oracle_comovement(),
        "record_linkage_fs": _oracle_record_linkage(),
        "dissolve_regions": _ORACLE_DISSOLVE,
        "pyramid_counts": _ORACLE_PYRAMID,
        "od_matrix": _ORACLE_OD,
        "way_crossings": _ORACLE_CROSSINGS,
        "clip_segments_z": _ORACLE_CLIP,
        "contour_cells_t2": _oracle_contour(),
        "ways_self_intersect": _ORACLE_SELF_INTERSECT,
        "funnel_conversion": _ORACLE_FUNNEL,
        "quadtree_leaves_c64": _ORACLE_QUADTREE,
        "way_noding_edges": _ORACLE_WAY_NODING,
        "merge_chains_ways": _oracle_merge_chains(),
        "lm_bigram_scores": _ORACLE_LM,
        "zonal_mode_grid": _ORACLE_ZONAL_MODE,
        "retention_cohorts": _ORACLE_RETENTION,
        "trend_per_user": _ORACLE_TREND,
        "cusum_changepoint": _ORACLE_CUSUM,
        "theil_sen_slope": _ORACLE_THEIL_SEN,
        "k_core_9": _oracle_k_core(),
        "k_truss_4": _oracle_k_truss(),
        "subtree_rollup_div3": _ORACLE_SUBTREE,
        "scc_components": _ORACLE_SCC,
        "weighted_median_part": _ORACLE_WMEDIAN,
        "basket_pair_lift": _ORACLE_BASKET_LIFT,
        "mis_greedy_h60": _oracle_luby_mis(),
        "bridge_census": _ORACLE_BRIDGES,
        "two_edge_components": _ORACLE_TWO_ECC,
        "matching_greedy": _oracle_greedy_matching(),
        "dyad_census": _ORACLE_DYAD,
        "bipartite_census": _ORACLE_BIPARTITE,
        "triad_census_man": _oracle_triad_census(),
        "coloring_greedy_jp": _oracle_greedy_coloring(),
        "rolling_wau_7": _ORACLE_ROLLING_WAU,
        "colocation_pi_r40": _ORACLE_COLOCATION,
        "viewshed_census_r12": _oracle_viewshed(),
        "ams_f2_users": _ORACLE_AMS_F2,
        "equi_depth_bins_d10": _ORACLE_EQUI_DEPTH,
        "containment_join_c80": _ORACLE_CONTAINMENT,
        "bootstrap_reps_b16": _ORACLE_BOOTSTRAP,
        "butterfly_census": _ORACLE_BUTTERFLY,
        "activity_islands": _ORACLE_ISLANDS,
        "graph_bfs_h5": _ORACLE_GRAPH_BFS,
        "graph_sssp_h4": _ORACLE_GRAPH_SSSP,
        "widest_path_h4": _ORACLE_WIDEST_PATH,
        "temporal_ea_r4": _oracle_temporal_ea(),
        "pagerank_r3": _oracle_pagerank(),
        "random_walks_l4": _oracle_random_walks(),
        "stress_centrality_h4": _oracle_stress(),
        "link_pred_cn": _oracle_linkpred(),
        "label_prop_r3": _oracle_labelprop(),
        "modularity_by_lpa": _oracle_modularity(),
        "ppr_seeded_r3": _oracle_ppr(),
        "snap_points_r50": _ORACLE_SNAP,
        "viterbi_match_t5": _oracle_viterbi(),
        "triangle_blocks": _ORACLE_TRIANGLES,
        "clustering_coeff": _ORACLE_CLUSTERING,
        "focal_stats_3x3": _ORACLE_FOCAL,
        "gradient_sobel": _ORACLE_GRADIENT,
        "affine_warp_near": _ORACLE_AFFINE_WARP,
        "convex_hull_ways": _ORACLE_HULL,
        "min_rect_groups": _oracle_min_rect(),
        "simplify_hausdorff": _ORACLE_HAUSDORFF,
        "idw_surface": _oracle_idw(),
        "chunk_documents": _ORACLE_CHUNKS,
        "cdc_chunk_spans": _oracle_cdc_chunks(),
        "pack_documents": _ORACLE_PACK_DOCS,
        "bpe_apply_tokens": _oracle_bpe(),
        "decontam_4gram": _ORACLE_DECONTAM,
        "way_diameter": _ORACLE_DIAMETER,
        "one_center_ways": _ORACLE_ONE_CENTER,
        "pareto_skyline": _ORACLE_SKYLINE,
        "hex_bin_density": _oracle_hex(),
        "hex_parent_rollup": _oracle_hex_parent(),
        "hex_smooth_density": _oracle_hex_smooth(),
        "segment_orientation": _ORACLE_ORIENTATION,
        "pip_outside": _ORACLE_PIP_OUTSIDE,
        "dedup_simhash": _ORACLE_DEDUP_SIMHASH,
        "embedding_topk": _ORACLE_EMBEDDING_TOPK,
        "ann_sq8_topk": _ORACLE_ANN_SQ8,
        "tiff_zonal_strips": _ORACLE_TIFF_ZONAL,
        "media_metadata": _ORACLE_MEDIA_METADATA,
        "media_frame_sample": _ORACLE_MEDIA_FRAMES,
        "media_shot_bounds": _oracle_shot_bounds(),
        "span_roundtrip_fp": _ORACLE_SPAN_ROUNDTRIP,
        "stratified_sample": _ORACLE_STRATIFIED,
        "sample_topk_per_key": _ORACLE_SAMPLE_TOPK,
        "token_count": _ORACLE_TOKEN_COUNT,
        "bm25_topk_terms": _ORACLE_BM25_TOPK,
    }
    oracles.update(_build_text_oracles())
    oracles["corpus_prep_e2e"] = _oracle_corpus_prep()
    oracles["repetition_signals"] = _ORACLE_REPETITION
    oracles["decontaminate_ngrams"] = _ORACLE_DECONTAMINATE
    oracles["dsir_select_k200"] = _ORACLE_DSIR_SELECT
    oracles["pii_redact"] = _oracle_pii_redact()
    oracles["pii_redact_spans"] = _oracle_pii_redact_spans()
    oracles["leakage_safe_split"] = _oracle_leakage_split()
    oracles["negative_samples_k4"] = _oracle_negative_samples()
    oracles["mixture_rebalance_lang"] = _oracle_mixture_rebalance()
    oracles["morans_lisa_g60"] = _ORACLE_MORANS_LISA
    oracles["morans_global_g60"] = _ORACLE_MORANS_GLOBAL
    oracles["getis_ord_gi_g60"] = _ORACLE_GETIS_ORD
    oracles["media_container_meta"] = _ORACLE_MEDIA_CONTAINERS
    oracles["dq_expectations_orders"] = _ORACLE_DQ_ORDERS
    oracles["way_shoelace"] = _oracle_way_shoelace()
    oracles["tile_coverage_c256"] = _oracle_tile_coverage()
    oracles["areal_interp_c256"] = _oracle_areal_interp()
    oracles["kmeans_lloyd_r3"] = _oracle_kmeans()
    oracles["hilbert_layout_keys"] = _oracle_hilbert_layout()
    oracles["zorder_bbox_scan"] = _oracle_zorder_bbox()
    oracles["hilbert_bulk_scan"] = _oracle_hilbert_bulk_scan()
    oracles["balanced_ranges_b32"] = _ORACLE_BALANCED_RANGES
    oracles["bloom_prune_semijoin"] = _ORACLE_BLOOM_SEMIJOIN
    oracles["heavy_hitters_tokens"] = _ORACLE_HEAVY_HITTERS
    oracles["hll_user_registers"] = _ORACLE_HLL_REGISTERS
    oracles["hyperball_reach_h3"] = _ORACLE_HYPERBALL
    oracles["cost_distance_r6"] = _ORACLE_COST_DISTANCE
    oracles["kmv_overlap_events"] = _ORACLE_KMV_OVERLAP
    oracles["dwell_segments"] = _ORACLE_DWELL
    oracles["ivm_merge_orders"] = _ORACLE_IVM
    oracles["attribution_touch"] = _ORACLE_ATTRIBUTION
    oracles["geodesic_pairs_50km"] = _oracle_geodesic_pairs()
    oracles["cm_user_freq"] = _ORACLE_COUNT_MIN
    oracles["resample_ffill_events"] = _ORACLE_RESAMPLE_FFILL
    oracles["resample_interp_events"] = _ORACLE_RESAMPLE_INTERP
    oracles["line_of_sight_dem"] = _oracle_line_of_sight()
    oracles["d8_flow_dir"] = _oracle_d8_flow_dir()
    oracles["horn_terrain"] = _oracle_horn_terrain()
    oracles["hillshade_ieee"] = _oracle_hillshade()
    oracles["flow_accum_r6"] = _oracle_flow_accum()
    oracles["watershed_basins_d5"] = _oracle_watershed()
    oracles["s2_cell_assign_l12"] = _oracle_s2_cells()
    oracles["s2_region_contain"] = _oracle_s2_region_contain()
    oracles["s2_cover_l7"] = _oracle_s2_cover()
    oracles["s2_cover_overlap"] = _oracle_s2_overlap()
    oracles["s2_cover_adaptive_l9"] = _oracle_s2_cover(level=9, adaptive=True)
    oracles["s2_cover_join_l9"] = _ORACLE_S2_COVER_JOIN
    oracles["ann_lsh_topk"] = _oracle_ann_lsh()
    oracles["embedding_neardup"] = _oracle_embedding_neardup()
    ivf = _oracle_ann_ivf()
    if ivf is not None:
        oracles["ann_ivf_topk"] = ivf
    pq = _oracle_ann_pq()
    if pq is not None:
        oracles["ann_pq_topk"] = pq
    sdd = _oracle_semdedup()
    if sdd is not None:
        oracles["semdedup_prune_k8"] = sdd
    oracles["bitext_margin_mine"] = _ORACLE_BITEXT_MINE
    oracles["url_canonicalize"] = _oracle_url_canonicalize()
    oracles["url_domain_census"] = _oracle_url_census()
    pca = _oracle_pca_project()
    if pca is not None:
        oracles["pca_project_q"] = pca
    bpt = _oracle_bpe_train()
    if bpt is not None:
        oracles["bpe_train_merges"] = bpt
    return oracles
