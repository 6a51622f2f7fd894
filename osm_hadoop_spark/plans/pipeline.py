"""Staged pipeline with snapshot checkpoint / resume + lineage metrics.

The reference's restartability model is per-stage SequenceFile
materialization (NodeJoiner output feeds WayBuilder, SURVEY.md section 3.1);
ours is per-stage catalog snapshots (Iceberg when available, Parquet
fallback — sources/catalog.py) carrying row counts, byte sizes and
per-partition lineage. `Pipeline.run(resume=True)` skips any stage whose
snapshot already exists — exactly like re-launching the reference's job
chain after a mid-pipeline failure.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from osm_hadoop_spark.sources.catalog import SnapshotCatalog


@dataclass
class StageResult:
    name: str
    skipped: bool
    seconds: float
    snapshot: dict | None


@dataclass
class Pipeline:
    spark: SparkSession
    catalog: SnapshotCatalog
    stages: list[tuple[str, Callable[["Pipeline"], DataFrame]]] = field(default_factory=list)

    def stage(self, name: str):
        def deco(fn):
            self.stages.append((name, fn))
            return fn
        return deco

    def table(self, name: str) -> DataFrame:
        return self.catalog.read(name)

    def run(self, resume: bool = True) -> list[StageResult]:
        results = []
        for name, fn in self.stages:
            t0 = time.time()
            if resume and self.catalog.exists(name):
                results.append(StageResult(name, True, time.time() - t0, None))
                continue
            df = fn(self)
            snap = self.catalog.write(df, name)
            results.append(StageResult(name, False, time.time() - t0, snap))
        return results


def planet_pipeline(spark: SparkSession, catalog: SnapshotCatalog,
                    documents: DataFrame, tag_keys: list[str] | None = None,
                    zoom: int = 14,
                    max_length_deg: float | None = None,
                    relations: bool = False) -> Pipeline:
    """The 4-stage reference planet pipeline as a checkpointed Pipeline:
    parse -> join -> assemble -> tile-assign/count (SURVEY.md section 3.1),
    each stage a resumable snapshot.

    `max_length_deg` applies the reference's F6 long-geometry guard
    (WayRasterizer drops assembled geometries longer than 50 planar degrees
    — corrupt/degenerate ways) before the spatial join, exactly where the
    reference applies it: after assembly, before the per-tile work.

    `relations=True` appends the J1'/J2' second-level reconstruction as two
    more resumable stages (relations parse snapshot, assembled relation
    geometry snapshot) — the relation-level analog of the reference's
    NodeJoiner->WayBuilder SequenceFile handoff. Relation members must see
    ALL assembled ways, not just the tag-filtered extract (OSM multipolygon
    member ways are typically untagged), so with `tag_keys` set the
    relation branch adds its own unfiltered assembly stages
    (ways_all / referenced_all / ways_geom_all) instead of silently
    dropping members; with no tag filter it reuses the ways_geom snapshot.
    """
    from osm_hadoop_spark.operators.rasterize import planar_length_col
    from osm_hadoop_spark.operators.tile_join import assign_tiles, tile_counts
    from osm_hadoop_spark.operators.way_assembly import (
        assemble_ways,
        join_node_coords,
    )
    from osm_hadoop_spark.sources import spans as S

    p = Pipeline(spark, catalog)

    @p.stage("nodes")
    def _nodes(pl):
        return S.parse_nodes(documents)

    @p.stage("ways")
    def _ways(pl):
        # (way_id, tags, nds): carrying nds in the snapshot lets the
        # way_nodes stage derive refs WITHOUT re-scanning documents — one
        # documents pass per span kind, total 2 for the whole pipeline.
        w = S.parse_ways_with_nds(documents)
        return S.filter_ways_by_tags(w, tag_keys) if tag_keys else w

    @p.stage("way_nodes")
    def _way_nodes(pl):
        return S.explode_way_nodes(pl.table("ways"))

    @p.stage("referenced")
    def _referenced(pl):
        return join_node_coords(pl.table("nodes"), pl.table("way_nodes"))

    @p.stage("ways_geom")
    def _ways_geom(pl):
        return assemble_ways(pl.table("ways"), pl.table("referenced"))

    @p.stage("tile_assignments")
    def _assign(pl):
        wg = pl.table("ways_geom")
        if max_length_deg is not None:
            wg = wg.filter(planar_length_col() <= max_length_deg)  # F6
        return assign_tiles(wg, zoom=zoom, tms=False)

    @p.stage("tile_counts")
    def _counts(pl):
        return tile_counts(pl.table("tile_assignments"))

    if relations:
        from pyspark.sql import functions as F

        from osm_hadoop_spark.operators.relation_assembly import (
            assemble_relations,
            with_multilinestring_wkt,
        )

        member_geom_table = "ways_geom"
        if tag_keys:
            # members must not vanish with the F1 extract filter — build the
            # unfiltered assembly alongside (nodes snapshot is reused)
            member_geom_table = "ways_geom_all"

            @p.stage("ways_all")
            def _ways_all(pl):
                return S.parse_ways_with_nds(documents)

            @p.stage("referenced_all")
            def _referenced_all(pl):
                return join_node_coords(
                    pl.table("nodes"), S.explode_way_nodes(pl.table("ways_all"))
                )

            @p.stage("ways_geom_all")
            def _ways_geom_all(pl):
                return assemble_ways(
                    pl.table("ways_all").select("way_id", "tags"),
                    pl.table("referenced_all"),
                )

        @p.stage("relations")
        def _relations(pl):
            return S.parse_relations(documents)

        @p.stage("relations_geom")
        def _relations_geom(pl):
            rels = pl.table("relations")
            members = (
                S.explode_relation_members(rels)
                .filter(F.col("member_type") == "way")
                .select("rel_id", F.col("ref").alias("way_id"), "ordinal", "role")
            )
            out = assemble_relations(rels, members, pl.table(member_geom_table))
            # snapshot-friendly: nested array<array<double>> columns swapped
            # for the WKT edge form, matching how the reference persists
            # geometry as text in the tag map (WayBuilder.scala:97-101)
            return with_multilinestring_wkt(out).drop("xs", "ys")

    return p
