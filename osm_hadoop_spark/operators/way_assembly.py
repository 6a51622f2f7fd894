"""Entity reconstruction: J1 node<->waynode equi-join + J2 way assembly.

Reference semantics:
  J1 (NodeJoiner.scala:101-192): one tagged-union shuffle joins nodes onto
     waynode refs by node_id, re-keyed by way_id; ways pass through. Errors
     if a node_id resolves to != 1 node (:183) or a way_id to > 1 way (:173).
  J2 (WayBuilder.scala:71-105): group referenced waynodes by way_id, sort by
     ordinal, build a LineString, serialize WKT into the tag map under
     "geometry"; ways with < 2 coords are dropped (:95 — F5).

Spark-first re-expression: Catalyst takes two-input joins natively, so the
tagged-union trick disappears. J1 is a plain inner equi-join (sort-merge or
shuffled-hash chosen by the planner; AQE splits skewed node_ids). J2 is
`array_sort(collect_list(struct(ordinal, lon, lat)))` — a single bounded
groupBy-shuffle on way_id (way fan-in is bounded by OSM's 2000-node way cap,
so the collected array is small) followed by a broadcast-friendly join back
to the way tag table.

Geometry stays columnar (xs/ys array<double>) — WKT only on demand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def join_node_coords(nodes: DataFrame, way_nodes: DataFrame) -> DataFrame:
    """J1: way_nodes ⋈ nodes on node_id -> (way_id, ordinal, lon, lat).

    Equivalent of NodeJoiner's reduce output (ReferencedWayNodeWritable,
    NodeJoiner.scala:177-189) re-keyed by way_id.
    """
    return way_nodes.join(nodes, "node_id", "inner").select(
        "way_id", "ordinal", "lon", "lat"
    )


def check_unique(df: DataFrame, key: str, what: str) -> None:
    """Replicates the reference's hard uniqueness errors
    (NodeJoiner.scala:173,183) as an explicit assertion stage (action)."""
    dup = (
        df.groupBy(key).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"Found {dup[0]['count']} {what} for {key}={dup[0][key]}, there should only be one."
        )


def assemble_ways(ways: DataFrame, referenced: DataFrame) -> DataFrame:
    """J2: group referenced waynodes by way_id, ordinal-sort, attach to tags.

    Output: (way_id, tags, xs: array<double>, ys: array<double>, n_pts).
    Ways with < 2 joined coords are dropped (F5, WayBuilder.scala:95).
    Duplicate ordinals keep deterministic order via array_sort on the full
    (ordinal, lon, lat) struct.
    """
    pts = (
        referenced.groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ordinal", "lon", "lat"))
            ).alias("pts")
        )
        .filter(F.size("pts") > 1)
    )
    return (
        pts.join(ways, "way_id", "inner")
        .select(
            "way_id",
            "tags",
            # struct-field extraction over the array is codegen; a
            # transform() lambda would be re-evaluated interpreted by every
            # downstream expression Catalyst pushes below this projection
            F.col("pts.lon").alias("xs"),
            F.col("pts.lat").alias("ys"),
            F.size("pts").alias("n_pts"),
        )
    )


@F.pandas_udf(T.StringType())
def _linestring_wkt_udf(xs, ys):
    import pandas as pd

    from osm_hadoop_spark.functions.geometry import format_linestring_wkt

    return pd.Series(
        [format_linestring_wkt(x, y) for x, y in zip(xs, ys)], dtype="object"
    )


@F.pandas_udf(T.BinaryType())
def _linestring_wkb_udf(xs, ys):
    import pandas as pd

    from osm_hadoop_spark.functions.geometry import linestrings_to_wkb

    return pd.Series(linestrings_to_wkb(xs, ys), dtype="object")


def with_wkb(ways_geom: DataFrame, col_name: str = "geometry_wkb") -> DataFrame:
    """Attach the JTS-big-endian WKB serialization (E2; WayLoader.scala:90,
    108-109 — the reference's HBase storage codec). Binary column, preferred
    over WKT for any persisted geometry."""
    return ways_geom.withColumn(col_name, _linestring_wkb_udf("xs", "ys"))


def with_wkt(
    ways_geom: DataFrame, col_name: str = "geometry_wkt", impl: str = "jvm"
) -> DataFrame:
    """Attach the reference-parity WKT serialization (WayBuilder.scala:97-101,
    JTS WKTWriter format). Edge/output concern only — internal kernels use
    the columnar xs/ys representation.

    Default impl='jvm' renders inside whole-stage codegen
    (functions/geometry_sql.py) — byte-identical to the Python formatter on
    every IEEE-754 band (property-pinned in test_way_assembly.py), with no
    Python workers: at planet scale WKT emission for billions of ways is
    pure codegen. impl='arrow' keeps the pandas-UDF reference path."""
    if impl == "jvm":
        from osm_hadoop_spark.functions.geometry_sql import sql_linestring_wkt

        return ways_geom.withColumn(
            col_name, sql_linestring_wkt(F.col("xs"), F.col("ys"))
        )
    if impl != "arrow":
        raise ValueError(f"unknown impl {impl!r} (use 'jvm' or 'arrow')")
    return ways_geom.withColumn(col_name, _linestring_wkt_udf("xs", "ys"))


def build_ways_geom(documents: DataFrame, tag_keys: list[str] | None = None,
                    validate: bool = False) -> DataFrame:
    """documents -> assembled ways: the Phase-1 spine (SURVEY.md section 7).

    scan -> span parse (JVM from_json) -> F1 tag filter -> J1 join -> J2
    assembly. `validate=True` runs the reference's uniqueness assertions
    on the input.

    Both entity kinds are parsed in ONE physical pass over documents
    (spans.parse_entities — the reference's one-mapper dispatch,
    NodeJoiner.scala:110-141) into a slim union frame, persisted
    MEMORY_AND_DISK; ways, way_nodes and nodes all derive from it. The F1
    tag filter (spans.has_any_tag) applies before the persist, and
    therefore before waynode emission — the reference's filter-then-emit
    order (NodeJoiner.scala:110-122).
    """
    from pyspark import StorageLevel

    from osm_hadoop_spark.sources import spans as S

    ent = S.parse_entities(documents)
    if tag_keys:
        ent = ent.filter(F.col("is_node") | S.has_any_tag(tag_keys))
    ent = ent.persist(StorageLevel.MEMORY_AND_DISK)
    wf = ent.filter(~F.col("is_node")).select("way_id", "tags", "nds")
    nodes = ent.filter(F.col("is_node")).select("node_id", "lon", "lat")
    ways = wf.select("way_id", "tags")
    way_nodes = S.explode_way_nodes(wf)
    if validate:
        check_unique(nodes, "node_id", "nodes")
        check_unique(ways, "way_id", "ways")
    referenced = join_node_coords(nodes, way_nodes)
    return assemble_ways(ways, referenced)
