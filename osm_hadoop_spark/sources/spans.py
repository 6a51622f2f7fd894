"""Interleaved-document span parsing (S2 analog).

The reference decodes raw PBF blobs into OSM entities inside every mapper
(DecodesOsm.scala:17-33, used at NodeJoiner.scala:102-145). Our mandated
input (BASELINE.json `input_hint`) is an Iceberg/Parquet table

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

where OSM entity payloads ride inside spans as deterministic JSON
(FIXTURES.md section 1). Parsing is 100% JVM-side: `posexplode` + `from_json`
— no Python even in vectorized form, so the scan..parse..filter prefix stays
inside WholeStageCodegen and Catalyst can push document-level filters into
the Parquet/Iceberg scan.

The span-sequence invariant (kind, text, media_ref, order) is never touched:
parsing only READS spans; document-carrying outputs keep the original `spans`
column byte-identical. `span_sequence_fingerprint` gives an order-sensitive
per-document hash used by tests and pipeline assertions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOCUMENTS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>"
)

NODE_PAYLOAD_SCHEMA = "id bigint, lon double, lat double"
WAY_PAYLOAD_SCHEMA = "id bigint, tags map<string,string>, nds array<bigint>"
RELATION_PAYLOAD_SCHEMA = (
    "id bigint, tags map<string,string>, "
    "members array<struct<type:string, ref:bigint, role:string>>"
)


def exploded_spans(documents: DataFrame) -> DataFrame:
    """documents -> one row per span, order kept via posexplode (F2 dispatch)."""
    return documents.select(
        "doc_id",
        F.posexplode("spans").alias("span_pos", "span"),
    ).select(
        "doc_id",
        "span_pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def parse_nodes(documents: DataFrame) -> DataFrame:
    """osm.node spans -> nodes(node_id, lon, lat).

    Projection F3 (NodeJoiner.scala:136-141): id/lon/lat only, lon first.
    """
    s = exploded_spans(documents).filter(F.col("kind") == "osm.node")
    p = s.select(F.from_json("text", NODE_PAYLOAD_SCHEMA).alias("n"))
    # Malformed payloads parse to NULL and are dropped (the reference would
    # abort the whole job on a corrupt blob; we degrade to row-level drop).
    return p.select(
        F.col("n.id").alias("node_id"),
        F.col("n.lon").alias("lon"),
        F.col("n.lat").alias("lat"),
    ).filter(F.col("node_id").isNotNull())


def parse_ways_with_nds(documents: DataFrame) -> DataFrame:
    """osm.way spans -> (way_id, tags, nds): ONE parse serving both the F4
    way projection and the waynode-ref emission. At planet scale the
    documents scan dominates; deriving way_nodes by exploding `nds` off this
    relation (instead of re-parsing documents) halves the osm.way input
    reads and makes the NodeJoiner.scala:110 filter-before-emit ordering
    (tag filter THEN waynode emission) structural instead of a semi-join."""
    s = exploded_spans(documents).filter(F.col("kind") == "osm.way")
    p = s.select(F.from_json("text", WAY_PAYLOAD_SCHEMA).alias("w"))
    return p.select(
        F.col("w.id").alias("way_id"),
        F.col("w.tags").alias("tags"),
        F.col("w.nds").alias("nds"),
    ).filter(F.col("way_id").isNotNull())


def explode_way_nodes(ways_with_nds: DataFrame) -> DataFrame:
    """(way_id, tags, nds) -> way_nodes(node_id, way_id, ordinal); ordinal =
    position in the nd list (NodeJoiner.scala:114-122)."""
    return ways_with_nds.select(
        "way_id", F.posexplode("nds").alias("ordinal", "node_id")
    ).select("node_id", "way_id", "ordinal")


def parse_entities(documents: DataFrame) -> DataFrame:
    """ONE documents scan -> both entity kinds in a slim union frame:
    (is_node, node_id, lon, lat, way_id, tags, nds).

    The reference dispatches nodes AND ways inside one mapper pass over
    the input (NodeJoiner.scala:110-141); the two-function form
    (parse_nodes + parse_ways_with_nds) costs two physical scans of the
    documents table per run. At planet scale the scan IS the job — this
    single-pass form halves raw-input reads (100 TB once, not twice),
    and on a bandwidth-limited host it moves the flagship's mix toward
    compute (BENCH/NOTES.md round-4). The per-kind from_json sits under
    a When branch, so each row pays exactly one parse."""
    s = exploded_spans(documents).filter(
        F.col("kind").isin("osm.node", "osm.way")
    )
    is_node = F.col("kind") == "osm.node"
    p = s.select(
        is_node.alias("is_node"),
        F.when(is_node, F.from_json("text", NODE_PAYLOAD_SCHEMA)).alias("n"),
        F.when(~is_node, F.from_json("text", WAY_PAYLOAD_SCHEMA)).alias("w"),
    )
    return p.select(
        "is_node",
        F.col("n.id").alias("node_id"),
        F.col("n.lon").alias("lon"),
        F.col("n.lat").alias("lat"),
        F.col("w.id").alias("way_id"),
        F.col("w.tags").alias("tags"),
        F.col("w.nds").alias("nds"),
    ).filter(F.col("node_id").isNotNull() | F.col("way_id").isNotNull())


def parse_relations(documents: DataFrame) -> DataFrame:
    """osm.relation spans -> relations(rel_id, tags, members).

    North-star addition: the reference's entity dispatch handles only ways
    and nodes (NodeJoiner.scala:110,136) — relations present in its own
    fixture (db-snapshot.osm:44-49, one relation with node + way members)
    are silently dropped. The north rule mandates way/relation assembly, so
    relations get the same JVM `from_json` parse as ways; malformed payloads
    degrade to row-level drops like parse_nodes."""
    s = exploded_spans(documents).filter(F.col("kind") == "osm.relation")
    p = s.select(F.from_json("text", RELATION_PAYLOAD_SCHEMA).alias("r"))
    return p.select(
        F.col("r.id").alias("rel_id"),
        F.col("r.tags").alias("tags"),
        F.col("r.members").alias("members"),
    ).filter(F.col("rel_id").isNotNull())


def explode_relation_members(relations: DataFrame) -> DataFrame:
    """(rel_id, tags, members) -> (rel_id, member_type, ref, role, ordinal);
    ordinal = position in the member list (mirrors the waynode zipWithIndex
    emission, NodeJoiner.scala:114-122, one level up)."""
    return relations.select(
        "rel_id", F.posexplode("members").alias("ordinal", "m")
    ).select(
        "rel_id",
        F.col("m.type").alias("member_type"),
        F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
        "ordinal",
    )


def has_any_tag(tag_keys: list[str]):
    """F1 tag-existence predicate (filter/EntityFilters.scala:19-23): true
    for rows whose `tags` map has at least one of `tag_keys`."""
    keys = F.array(*[F.lit(k) for k in tag_keys])
    return F.exists(F.map_keys("tags"), lambda k: F.array_contains(keys, k))


def filter_ways_by_tags(ways: DataFrame, tag_keys: list[str]) -> DataFrame:
    """F1 tag filter: keep ways having at least one of `tag_keys`."""
    return ways.filter(has_any_tag(tag_keys))


def span_fingerprint60(documents: DataFrame) -> DataFrame:
    """Order-sensitive 60-bit span-sequence fingerprint, cross-engine
    exact (the h60 convention): per span concat (kind, text, media_ref,
    offset) with \\x02 (NULLs -> ''), join spans with \\x01, md5 -> 60-bit
    int. This is the checkable form of the input_hint invariant — a
    document-carrying stage must leave it bit-identical; the driver query
    `span_roundtrip_fp` proves the arithmetic against DuckDB."""
    span_strs = F.transform(
        "spans",
        lambda s: F.concat_ws(
            "\x02",
            F.coalesce(s["kind"], F.lit("")),
            F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit("")),
            s["offset"].cast("string"),
        ),
    )
    fp = F.conv(
        F.substring(F.md5(F.concat_ws("\x01", span_strs)), 1, 15), 16, 10
    ).cast("bigint")
    return documents.select("doc_id", fp.alias("span_fp"))


def span_sequence_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-sensitive per-document hash of (kind, text, media_ref) — the
    span-sequence equality invariant checker (BASELINE.json input_hint)."""
    return documents.select(
        "doc_id",
        F.sha2(
            F.to_json(
                F.transform(
                    "spans",
                    lambda s: F.struct(
                        s["kind"].alias("kind"),
                        s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                    ),
                )
            ),
            256,
        ).alias("span_fingerprint"),
    )
