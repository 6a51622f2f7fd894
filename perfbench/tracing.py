"""Traced iterations: spans around the package's public calls, one Spark job
group per layer, and the per-layer table built from spans and the event log.

A traced iteration swaps the package's public functions for wrappers that
open a span, set the layer's job group, run the original and force its
output (persist + count), so every span times only its own work. The chain
itself is still composed by the package (`build_ways_geom`,
`planet_pipeline`); the wrappers are removed when the iteration ends."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from probes import jvm_gc_s

LAYERS = [
    "session", "spans", "way_assembly.j1", "way_assembly.j2", "tile_join.j3",
    "tile_join.a4", "tile_join.burn", "tile_join.or", "catalog", "pipeline",
]
# planet_pipeline stage -> layer of the public call it makes
PLANET_STAGES = {
    "nodes": "spans", "ways": "spans", "way_nodes": "spans",
    "referenced": "way_assembly.j1", "ways_geom": "way_assembly.j2",
    "tile_assignments": "tile_join.j3", "tile_counts": "tile_join.a4",
}

# (name, unit) of every per-layer metric; a layer a workload does not run
# reports 0
PER_LAYER = [
    ("session.start_s", "s"), ("session.gc_s", "s"),
    ("spans.span_s", "s"), ("spans.task_s", "s"), ("spans.cpu_s", "s"), ("spans.gc_s", "s"),
    ("spans.max_task_s", "s"), ("spans.input_mb", "MB"), ("spans.rows_in", "count"),
    ("spans.rows_out", "count"), ("spans.parsed_ratio", "ratio"),
    ("way_assembly.j1.span_s", "s"), ("way_assembly.j1.task_s", "s"), ("way_assembly.j1.gc_s", "s"),
    ("way_assembly.j1.max_task_s", "s"), ("way_assembly.j1.rows_out", "count"),
    ("way_assembly.j1.shuffle_write_mb", "MB"), ("way_assembly.j1.match_ratio", "ratio"),
    ("way_assembly.j2.span_s", "s"), ("way_assembly.j2.task_s", "s"), ("way_assembly.j2.gc_s", "s"),
    ("way_assembly.j2.max_task_s", "s"), ("way_assembly.j2.shuffle_write_mb", "MB"),
    ("way_assembly.j2.spill_mb", "MB"), ("way_assembly.j2.rows_out", "count"),
    ("way_assembly.j2.kept_ratio", "ratio"),
    ("tile_join.j3.span_s", "s"), ("tile_join.j3.task_s", "s"), ("tile_join.j3.cpu_s", "s"),
    ("tile_join.j3.gc_s", "s"), ("tile_join.j3.max_task_s", "s"), ("tile_join.j3.candidates", "count"),
    ("tile_join.j3.pairs", "count"), ("tile_join.j3.refine_ratio", "ratio"),
    ("tile_join.j3.shuffle_write_mb", "MB"),
    ("tile_join.a4.span_s", "s"), ("tile_join.a4.task_s", "s"), ("tile_join.a4.gc_s", "s"),
    ("tile_join.a4.max_task_s", "s"), ("tile_join.a4.rows_out", "count"),
    ("tile_join.burn.span_s", "s"), ("tile_join.burn.task_s", "s"), ("tile_join.burn.gc_s", "s"),
    ("tile_join.burn.max_task_s", "s"), ("tile_join.burn.rows_out", "count"),
    ("tile_join.or.span_s", "s"), ("tile_join.or.task_s", "s"), ("tile_join.or.gc_s", "s"),
    ("tile_join.or.max_task_s", "s"), ("tile_join.or.shuffle_write_mb", "MB"),
    ("tile_join.or.fan_in", "ratio"),
    ("catalog.write_s", "s"), ("catalog.commit_s", "s"), ("catalog.read_s", "s"),
    ("catalog.gc_s", "s"), ("catalog.write_mb", "MB"), ("catalog.files", "count"),
    ("pipeline.span_s", "s"), ("pipeline.gc_s", "s"),
    *[(f"pipeline.{stage}_s", "s") for stage in PLANET_STAGES],
    ("trace.job_s", "s"), ("trace.untraced_job_s", "s"), ("trace.overhead_s", "s"),
]


class Tracer:
    """Spans and counters of one traced iteration, kept in memory."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix  # job-group prefix, unique per traced iteration
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.writes: list[dict] = []
        self.stages: dict[str, float] = {}
        self.aux_s = 0.0
        self._stack: list[dict] = []
        self._group = ""

    def set_group(self, name: str) -> None:
        self._group = name
        self.spark.sparkContext.setJobGroup(self.prefix + name, name)

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        rec = {"name": name, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "aux_s": 0.0, **attrs}
        gc0 = jvm_gc_s(self.spark)
        self.spans.append(rec)
        self._stack.append(rec)
        outer = self._group
        if group:
            self.set_group(group)
        try:
            yield rec
        finally:
            if group:
                self.set_group(outer)
            self._stack.pop()
            rec["end"] = time.time()
            rec["gc_s"] = jvm_gc_s(self.spark) - gc0

    @contextmanager
    def aux(self):
        """Jobs that only feed a ratio: their own group, and their time is
        taken out of every open span and of the traced iteration."""
        t0 = time.time()
        outer = self._group
        self.set_group("aux")
        try:
            yield
        finally:
            self.set_group(outer)
            dt = time.time() - t0
            self.aux_s += dt
            for rec in self._stack:
                rec["aux_s"] += dt

    @staticmethod
    def force(df):
        """Materialize a frame once so the next call reads it, not its plan."""
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df, df.count()

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"] - s["aux_s"]
        return {s["id"]: s["end"] - s["start"] - s["aux_s"] - child[s["id"]] for s in self.spans}


@contextmanager
def traced_package(tr: Tracer, planet: bool):
    """Wrap the package's public calls for one traced iteration.

    The planet pipeline forces each stage by writing its snapshot, so there
    only the pipeline and the catalog are wrapped; elsewhere every layer's
    call is."""
    from pyspark.sql import functions as F

    from osm_hadoop_spark.operators import tile_join as TJ
    from osm_hadoop_spark.operators import way_assembly as WA
    from osm_hadoop_spark.plans import pipeline as PL
    from osm_hadoop_spark.sources import catalog as CAT
    from osm_hadoop_spark.sources import spans as S

    orig = {
        (S, "parse_entities"): S.parse_entities,
        (WA, "build_ways_geom"): WA.build_ways_geom,
        (WA, "join_node_coords"): WA.join_node_coords,
        (WA, "assemble_ways"): WA.assemble_ways,
        (TJ, "assign_tiles"): TJ.assign_tiles,
        (TJ, "tile_counts"): TJ.tile_counts,
        (TJ, "rasterize_tile_bitsets"): TJ.rasterize_tile_bitsets,
        (TJ, "or_composite_bitsets"): TJ.or_composite_bitsets,
        (PL, "planet_pipeline"): PL.planet_pipeline,
        (CAT, "SnapshotCatalog"): CAT.SnapshotCatalog,
    }
    c = tr.counts

    def node_way_spans(documents) -> int:
        return S.exploded_spans(documents).filter(F.col("kind").isin("osm.node", "osm.way")).count()

    def parse_entities(documents):
        with tr.span("spans", group="spans"):
            out, n = tr.force(orig[S, "parse_entities"](documents))
        c["spans.rows_out"] += n
        with tr.aux():
            c["spans.node_way_spans"] += node_way_spans(documents)
        return out

    def build_ways_geom(*args, **kwargs):
        with tr.span("way_assembly"):
            return orig[WA, "build_ways_geom"](*args, **kwargs)

    def join_node_coords(nodes, way_nodes):
        with tr.span("way_assembly.j1", group="way_assembly.j1"):
            out, n = tr.force(orig[WA, "join_node_coords"](nodes, way_nodes))
        c["way_assembly.j1.rows_out"] += n
        with tr.aux():
            c["way_assembly.j1.refs"] += way_nodes.count()
        return out

    def assemble_ways(ways, referenced):
        with tr.span("way_assembly.j2", group="way_assembly.j2"):
            out, n = tr.force(orig[WA, "assemble_ways"](ways, referenced))
        c["way_assembly.j2.rows_out"] += n
        with tr.aux():
            c["way_assembly.j2.ways"] += ways.count()
        return out

    def assign_tiles(ways, *args, **kwargs):
        with tr.span("tile_join.j3", group="tile_join.j3"):
            out, n = tr.force(orig[TJ, "assign_tiles"](ways, *args, **kwargs))
        c["tile_join.j3.pairs"] += n
        with tr.aux():
            c["tile_join.j3.candidates"] += orig[TJ, "assign_tiles"](
                ways, *args, **{**kwargs, "refine": False}).count()
        return out

    def tile_counts(*args, **kwargs):
        with tr.span("tile_join.a4", group="tile_join.a4"):
            out, n = tr.force(orig[TJ, "tile_counts"](*args, **kwargs))
        c["tile_join.a4.rows_out"] += n
        return out

    def rasterize_tile_bitsets(*args, **kwargs):
        with tr.span("tile_join.burn", group="tile_join.burn"):
            out, n = tr.force(orig[TJ, "rasterize_tile_bitsets"](*args, **kwargs))
        c["tile_join.burn.rows_out"] += n
        return out

    def or_composite_bitsets(bitsets, *args, **kwargs):
        with tr.span("tile_join.or", group="tile_join.or"):
            out, n = tr.force(orig[TJ, "or_composite_bitsets"](bitsets, *args, **kwargs))
        c["tile_join.or.rows_out"] += n
        return out

    class SnapshotCatalog(orig[CAT, "SnapshotCatalog"]):
        def write(self, df, table, *args, **kwargs):
            layer = PLANET_STAGES[table]
            with tr.span(layer, group=f"{layer}|{table}", table=table) as rec:
                snap = super().write(df, table, *args, **kwargs)
            tr.writes.append({"table": table, "group": tr.prefix + f"{layer}|{table}",
                              "end": rec["end"], "rows": snap["rows"], "bytes": snap["bytes"],
                              "files": len(snap["partition_lineage"])})
            return snap

        def read(self, table, *args, **kwargs):
            with tr.span("catalog.read"):
                return super().read(table, *args, **kwargs)

    def planet_pipeline(spark, catalog, documents, *args, **kwargs):
        p = orig[PL, "planet_pipeline"](spark, catalog, documents, *args, **kwargs)
        run = p.run

        def traced_run(resume: bool = True):
            with tr.span("pipeline"):
                results = run(resume)
            tr.stages.update({r.name: r.seconds for r in results})
            rows = {w["table"]: w["rows"] for w in tr.writes}
            c["spans.rows_out"] += rows["nodes"] + rows["ways"] + rows["way_nodes"]
            c["way_assembly.j1.rows_out"] += rows["referenced"]
            c["way_assembly.j1.refs"] += rows["way_nodes"]
            c["way_assembly.j2.rows_out"] += rows["ways_geom"]
            c["way_assembly.j2.ways"] += rows["ways"]
            c["tile_join.j3.pairs"] += rows["tile_assignments"]
            c["tile_join.a4.rows_out"] += rows["tile_counts"]
            with tr.aux():
                c["spans.node_way_spans"] += node_way_spans(documents)
                c["spans.entities"] += (S.parse_nodes(documents).count()
                                        + S.parse_ways_with_nds(documents).count())
                ways_geom = orig[CAT, "SnapshotCatalog"].read(catalog, "ways_geom")
                c["tile_join.j3.candidates"] += orig[TJ, "assign_tiles"](
                    ways_geom, zoom=14, tms=False, refine=False).count()
            return results

        p.run = traced_run
        return p

    patched = {(PL, "planet_pipeline"): planet_pipeline,
               (CAT, "SnapshotCatalog"): SnapshotCatalog} if planet else {
        (S, "parse_entities"): parse_entities,
        (WA, "build_ways_geom"): build_ways_geom,
        (WA, "join_node_coords"): join_node_coords,
        (WA, "assemble_ways"): assemble_ways,
        (TJ, "assign_tiles"): assign_tiles,
        (TJ, "tile_counts"): tile_counts,
        (TJ, "rasterize_tile_bitsets"): rasterize_tile_bitsets,
        (TJ, "or_composite_bitsets"): or_composite_bitsets,
    }
    for (mod, name), fn in patched.items():
        setattr(mod, name, fn)
    try:
        yield
    finally:
        for (mod, name), fn in orig.items():
            setattr(mod, name, fn)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def iteration_layers(tr: Tracer, groups: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics of one traced iteration."""
    m: dict[str, float] = defaultdict(float)
    for group, g in groups.items():
        if not group.startswith(tr.prefix):
            continue
        layer = group[len(tr.prefix):].split("|")[0]
        if layer not in LAYERS:
            continue
        for key in ("task_s", "cpu_s", "shuffle_write_mb", "spill_mb", "input_mb"):
            m[f"{layer}.{key}"] += g[key]
        m[f"{layer}.max_task_s"] = max(m[f"{layer}.max_task_s"], g["max_task_s"])
        if layer == "spans":
            m["spans.rows_in"] += g["input_rows"]
    self_s = tr.self_times()
    for s in tr.spans:
        name = s["name"]
        if name in LAYERS:
            m[f"{name}.span_s"] += self_s[s["id"]]
            m[f"{name}.gc_s"] += s["gc_s"]
        if name == "catalog.read":
            m["catalog.read_s"] += s["end"] - s["start"]
        if "table" in s:  # a catalog write, forcing one pipeline stage
            m["catalog.write_s"] += s["end"] - s["start"] - s["aux_s"]
            m["catalog.gc_s"] += s["gc_s"]
    for w in tr.writes:
        last_job_end = groups.get(w["group"], {}).get("last_job_end", 0) / 1000.0
        if last_job_end:
            m["catalog.commit_s"] += max(0.0, w["end"] - last_job_end)
        m["catalog.write_mb"] += w["bytes"] / 1e6
        m["catalog.files"] += w["files"]
    for stage, seconds in tr.stages.items():
        m[f"pipeline.{stage}_s"] = seconds
    c = tr.counts
    for key in ("spans.rows_out", "way_assembly.j1.rows_out", "way_assembly.j2.rows_out",
                "tile_join.j3.pairs", "tile_join.j3.candidates", "tile_join.a4.rows_out",
                "tile_join.burn.rows_out"):
        m[key] = c[key]
    entities = c["spans.entities"] or c["spans.rows_out"]
    m["spans.parsed_ratio"] = _ratio(entities, c["spans.node_way_spans"])
    m["way_assembly.j1.match_ratio"] = _ratio(c["way_assembly.j1.rows_out"], c["way_assembly.j1.refs"])
    m["way_assembly.j2.kept_ratio"] = _ratio(c["way_assembly.j2.rows_out"], c["way_assembly.j2.ways"])
    m["tile_join.j3.refine_ratio"] = _ratio(c["tile_join.j3.pairs"], c["tile_join.j3.candidates"])
    m["tile_join.or.fan_in"] = _ratio(c["tile_join.burn.rows_out"], c["tile_join.or.rows_out"])
    return m


def layer_table(iterations: list[dict[str, float]], session: dict[str, float],
                traced_walls: list[float], untraced_walls: list[float]) -> dict[str, dict]:
    """Median over traced iterations of every per-layer metric, by name."""
    values = {name: statistics.median(it.get(name, 0.0) for it in iterations)
              for name, _unit in PER_LAYER}
    values.update(session)
    values["trace.job_s"] = statistics.median(traced_walls)
    values["trace.untraced_job_s"] = statistics.median(untraced_walls)
    values["trace.overhead_s"] = values["trace.job_s"] - values["trace.untraced_job_s"]
    return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}


def format_table(metrics: dict[str, dict]) -> str:
    rows = [f"{'metric':<36} {'value':>14}  unit"]
    rows += [f"{name:<36} {m['value']:>14.4f}  {m['unit']}" for name, m in metrics.items()]
    return "\n".join(rows)
