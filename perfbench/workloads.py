"""The benchmark's workloads: input generation, the measured chain, and the
independent twin each result is checked against.

Every chain is built from the package's public functions only. The module
attributes are looked up at call time (`WA.build_ways_geom`, `TJ.assign_tiles`
...), so a traced run can wrap them in spans without touching the package."""

from __future__ import annotations

import os
import subprocess
import sys
from dataclasses import dataclass, field
from typing import Callable

# Fixed input layout: the documents table is written as GEN_FILES parquet
# files and read back one scan split per file, whatever the host's core count
# or the files' size.
GEN_FILES = 8
SHUFFLE_PARTITIONS = 8
SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(1 << 30),
    "spark.sql.files.openCostInBytes": str(1 << 30),
}
TAG_KEYS = ["highway"]
BUFFER_DEG = 0.008333


def docs_file(path: str, i: int) -> str:
    return os.path.join(path, f"part-{i:02d}.parquet")


def _file_doc_ids(n_docs: int, layout_seed: int | None, i: int):
    """Doc indexes of file i: a contiguous range, or with `layout_seed` the
    i-th slice of a seeded permutation of all docs."""
    import numpy as np

    lo, hi = n_docs * i // GEN_FILES, n_docs * (i + 1) // GEN_FILES
    if layout_seed is None:
        return np.arange(lo, hi, dtype=np.uint64)
    order = np.random.default_rng(layout_seed).permutation(n_docs)
    return np.sort(order[lo:hi]).astype(np.uint64)


def _write_docs_files(path: str, n_docs: int, seed: int, layout_seed: int | None,
                      files: list[int]) -> None:
    """Write files `files` of the GEN_FILES-file corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm_hadoop_spark.sources.fixtures import docs_pandas

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    for i in files:
        pdf = docs_pandas(_file_doc_ids(n_docs, layout_seed, i), n_docs, seed)
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                       docs_file(path, i))


def generate_docs(path: str, n_docs: int, seed: int, layout_seed: int | None, procs: int) -> None:
    """Write the interleaved-document table as GEN_FILES parquet files.

    The rows are what `sources.fixtures.gen_documents(n_docs, seed)` yields
    (the same `docs_pandas` batches); `layout_seed` shuffles which docs share
    a file. `procs` child interpreters write the files before the Spark
    session starts, so neither the generator's Python workers nor its JVM
    heap count in the engine's time, CPU or memory."""
    os.makedirs(path)
    layout = "-" if layout_seed is None else str(layout_seed)
    children = [
        subprocess.Popen([sys.executable, os.path.abspath(__file__), path, str(n_docs), str(seed),
                          layout, *[str(i) for i in range(w, GEN_FILES, procs)]])
        for w in range(procs)
    ]
    codes = [child.wait() for child in children]
    if any(codes):
        raise RuntimeError(f"document generation failed: exit codes {codes}")


def _tile_digest(counts) -> tuple:
    """(tiles, pairs, xor of per-tile hashes) of a tile_counts frame."""
    from pyspark.sql import functions as F

    row = counts.agg(
        F.count(F.lit(1)), F.sum("n_ways"), F.bit_xor(F.xxhash64("tile_id", "n_ways"))
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


def _bitset_digest(bitsets) -> tuple:
    """(tiles, total bitset bytes, xor of per-tile hashes) of OR'd bitsets."""
    from pyspark.sql import functions as F

    row = bitsets.agg(
        F.count(F.lit(1)), F.sum(F.length("bitset")),
        F.bit_xor(F.xxhash64("tile_id", "bitset")),
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


# ---------------------------------------------------------------------------
# chains: (spark, docs_path, work_dir) -> digest tuple
# ---------------------------------------------------------------------------

def flagship_chain(spark, docs_path: str, work_dir: str, cover_impl: str = "jvm") -> tuple:
    from osm_hadoop_spark.operators import tile_join as TJ
    from osm_hadoop_spark.operators import way_assembly as WA

    docs = spark.read.parquet(docs_path)
    ways = WA.build_ways_geom(docs, tag_keys=TAG_KEYS)
    pairs = TJ.assign_tiles(ways, zoom=14, tms=False, cover_impl=cover_impl)
    return _tile_digest(TJ.tile_counts(pairs))


def flagship_twin(spark, docs_path: str, work_dir: str) -> tuple:
    """The Arrow cover+refine kernel, pinned to the jvm path by the tests."""
    return flagship_chain(spark, docs_path, work_dir, cover_impl="arrow")


def planet_chain(spark, docs_path: str, work_dir: str) -> tuple:
    from osm_hadoop_spark.plans import pipeline as PL
    from osm_hadoop_spark.sources.catalog import SnapshotCatalog

    docs = spark.read.parquet(docs_path)
    catalog = SnapshotCatalog(spark, work_dir)
    PL.planet_pipeline(spark, catalog, docs, tag_keys=TAG_KEYS, zoom=14).run(resume=False)
    return _tile_digest(catalog.read("tile_counts"))


def planet_twin(spark, docs_path: str, work_dir: str) -> tuple:
    """The in-memory jvm chain: no snapshots, same tile counts."""
    return flagship_chain(spark, docs_path, work_dir, cover_impl="jvm")


def bitsets_chain(spark, docs_path: str, work_dir: str, salted: bool = True) -> tuple:
    from osm_hadoop_spark.operators import tile_join as TJ
    from osm_hadoop_spark.operators import way_assembly as WA

    docs = spark.read.parquet(docs_path)
    bits = TJ.rasterize_tile_bitsets(WA.build_ways_geom(docs), zoom=13, buffer_deg=BUFFER_DEG)
    return _bitset_digest(TJ.or_composite_bitsets(bits, salted=salted))


def bitsets_twin(spark, docs_path: str, work_dir: str) -> tuple:
    """The single-level OR, against the measured two-level salted OR."""
    return bitsets_chain(spark, docs_path, work_dir, salted=False)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_docs: int
    warmup: int  # untimed full iterations after the primer, before the first timed one
    chain: Callable[..., tuple]
    twin: Callable[..., tuple]
    conf: dict = field(default_factory=dict)
    # None: the run's seed generates the corpus. A fixed corpus seed makes the
    # run's seed shuffle only which docs share a scan split.
    corpus_seed: int | None = None


WORKLOADS = {w.name: w for w in [
    Workload(
        "flagship_broadcast",
        "the entry() chain with default config: nodes broadcast, span parse and J3 jvm cover dominate",
        n_docs=40_000, warmup=5, chain=flagship_chain, twin=flagship_twin,
    ),
    Workload(
        "planet_snapshots",
        "planet shape: broadcast off so J1/J2 shuffle, and every stage writes and re-reads a snapshot",
        n_docs=12_000, warmup=1, chain=planet_chain, twin=planet_twin,
        conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    Workload(
        "bitsets_z13",
        "buffered z13 bitsets: Python burn and two-level OR dominate; the slowest task sets the time",
        n_docs=96, warmup=1, chain=bitsets_chain, twin=bitsets_twin,
        # a few hundred docs hold only a few node cells, and the latitudes a
        # seed gives them move the z13 pair count by 0.39 (IQR/median over
        # 20 seeds at 200 docs): the corpus is the fixtures' default seed and
        # the run's seed sets the file layout
        corpus_seed=42,
    ),
]}


if __name__ == "__main__":
    # generate_docs's child: <path> <n_docs> <seed> <layout seed or -> <file index>...
    sys.path.insert(0, os.getcwd())
    _write_docs_files(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
                      None if sys.argv[4] == "-" else int(sys.argv[4]),
                      [int(a) for a in sys.argv[5:]])
