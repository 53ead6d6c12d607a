"""OSM XML ingestion — SURVEY.md §2.1 S1, the reference's native
source format, distributed.

The reference streams one XML file through `ET.iterparse` with
`elem.clear()` (single process, O(1) memory). The Spark-first form
keeps the same per-element parser — stdlib ElementTree, no extra
packages — but runs it inside `mapInPandas` over a DataFrame of XML
*fragments*, one top-level element per row, so a 100 TB extract
parses across every core of the cluster:

1. `spark.read.text` with a custom line separator splits the raw XML
   at element boundaries — a narrow, streaming scan (each task sees
   only its byte range; no document-level DOM ever exists).
2. Each fragment parses independently into typed rows for the five
   reference tables (schema.py shapes): nodes, nodes_tags, ways,
   ways_tags, ways_nodes.

`<relation>` elements — which the reference project family ignores
(SURVEY.md §1.1) — are parsed into `relations`, `relations_tags` and
`relation_members(id, member_type, member_ref, role, position)`,
completing the OSM data model (multipolygons, routes, turn
restrictions all live in relations).

The element boundary chosen for the text splitter is "\\n  <node" /
"\\n  <way" nesting-level-2 newlines — OSM extracts are one element
per line at indent level 2 (both osmosis and the API emit this
layout); the parser also tolerates fragments that arrive
whole. Malformed fragments are skipped, not raised (the validation
operator C7 owns rejects). Known limitation: a tag value containing a
literal newline followed by exactly two spaces and '<' would split
mid-element — osmosis/API output escapes newlines in attribute values
(&#10;), so the layout assumption holds for real extracts.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

NODES_SCHEMA = (
    "id bigint, lat double, lon double, user string, uid bigint, "
    "version int, changeset bigint, timestamp string"
)
WAYS_SCHEMA = (
    "id bigint, user string, uid bigint, version int, changeset bigint, "
    "timestamp string"
)
TAGS_SCHEMA = "id bigint, key string, value string, type string"
WAY_NODES_SCHEMA = "id bigint, node_id bigint, position int"
RELATIONS_SCHEMA = WAYS_SCHEMA
RELATION_MEMBERS_SCHEMA = (
    "id bigint, member_type string, member_ref bigint, role string, position int"
)

# one output relation per reference table (schema.py), plus the
# relation tables the reference family omits
_TABLE_SCHEMAS = {
    "nodes": NODES_SCHEMA,
    "nodes_tags": TAGS_SCHEMA,
    "ways": WAYS_SCHEMA,
    "ways_tags": TAGS_SCHEMA,
    "ways_nodes": WAY_NODES_SCHEMA,
    "relations": RELATIONS_SCHEMA,
    "relations_tags": TAGS_SCHEMA,
    "relation_members": RELATION_MEMBERS_SCHEMA,
}


def _split_tag_key(k: str) -> tuple[str, str]:
    """'addr:street' → ('addr', 'street'); ≥2 colons keep remainder;
    no colon → type 'regular' (data.py::shape_element semantics)."""
    if ":" in k:
        t, rest = k.split(":", 1)
        return t, rest
    return "regular", k


def _parse_element(frag: str) -> tuple[str, dict] | None:
    """Parse one top-level OSM element fragment; None if malformed or
    not a node/way."""
    try:
        elem = ET.fromstring(frag)
    except ET.ParseError:
        return None
    if elem.tag not in ("node", "way", "relation"):
        return None
    return elem.tag, _shape(elem)


def _shape(elem: ET.Element) -> dict:
    """shape_element: fixed attrs + tags (+ ordered nd refs for ways)."""
    a = elem.attrib
    shaped = {
        "id": int(a["id"]),
        "user": a.get("user"),
        "uid": int(a["uid"]) if "uid" in a else None,
        "version": int(a["version"]) if "version" in a else None,
        "changeset": int(a["changeset"]) if "changeset" in a else None,
        "timestamp": a.get("timestamp"),
    }
    if elem.tag == "node":
        shaped["lat"] = float(a["lat"]) if "lat" in a else None
        shaped["lon"] = float(a["lon"]) if "lon" in a else None
    tags = []
    for t in elem.findall("tag"):
        typ, key = _split_tag_key(t.attrib.get("k", ""))
        tags.append({"id": shaped["id"], "key": key, "value": t.attrib.get("v"), "type": typ})
    shaped["tags"] = tags
    if elem.tag == "way":
        shaped["nd"] = [
            {"id": shaped["id"], "node_id": int(nd.attrib["ref"]), "position": i}
            for i, nd in enumerate(elem.findall("nd"))
        ]
    if elem.tag == "relation":
        shaped["members"] = [
            {
                "id": shaped["id"],
                "member_type": m.attrib.get("type"),
                "member_ref": int(m.attrib["ref"]) if "ref" in m.attrib else None,
                "role": m.attrib.get("role"),
                "position": i,
            }
            for i, m in enumerate(elem.findall("member"))
        ]
    return shaped


def read_osm_fragments(spark: SparkSession, path: str) -> DataFrame:
    """Raw XML → one row per candidate element fragment. lineSep on
    nesting-level-2 newlines keeps each task's memory bounded by one
    element, the distributed analog of iterparse+clear."""
    return spark.read.option("lineSep", "\n  <").text(path)


def _parse_fragment(raw: str) -> tuple[str, dict] | None:
    """One fragment of the "\\n  <" lineSep scan (the splitter eats
    the element's leading '<' and possibly the marker of its own
    closing tag) → parsed (kind, shaped) or None for non-element
    fragments."""
    raw = raw.strip()
    if not raw or raw.startswith(("?", "<?", "osm", "/", "bounds")):
        return None
    if not raw.startswith("<"):
        # the boundary splitter consumed the leading '<'
        raw = "<" + raw
    # document close may ride on the final fragment
    if raw.endswith("</osm>"):
        raw = raw[: -len("</osm>")].rstrip()
    parsed = _parse_element(raw)
    if parsed is None and raw.startswith(("<node", "<way", "<relation")):
        # the splitter consumed "\n  <" of the element's own
        # closing tag — retry with it reconstructed
        kind = (
            "node"
            if raw.startswith("<node")
            else "way" if raw.startswith("<way") else "relation"
        )
        parsed = _parse_element(raw + f"</{kind}>")
    return parsed


def _frag_iter(batches: Iterator[pd.DataFrame], want: str) -> Iterator[pd.DataFrame]:
    nodes, node_tags, ways, way_tags, way_nodes = [], [], [], [], []
    rels, rel_tags, rel_members = [], [], []
    for pdf in batches:
        for raw in pdf["value"]:
            parsed = _parse_fragment(raw)
            if parsed is None:
                continue
            kind, shaped = parsed
            tags = shaped.pop("tags")
            if kind == "node":
                nodes.append(shaped)
                node_tags.extend(tags)
            elif kind == "way":
                way_nodes.extend(shaped.pop("nd"))
                ways.append(shaped)
                way_tags.extend(tags)
            else:
                rel_members.extend(shaped.pop("members"))
                rels.append(shaped)
                rel_tags.extend(tags)
    out = {
        "nodes": nodes,
        "nodes_tags": node_tags,
        "ways": ways,
        "ways_tags": way_tags,
        "ways_nodes": way_nodes,
        "relations": rels,
        "relations_tags": rel_tags,
        "relation_members": rel_members,
    }[want]
    cols = [f.split()[0] for f in _TABLE_SCHEMAS[want].split(", ")]
    yield pd.DataFrame(out, columns=cols)


def parse_osm_xml(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """The reference ETL main (data.py::process_map), distributed:
    returns the five shaped relations. Each relation is an
    independent lazy plan over the same fragment scan — materialize
    with sinks.write_parquet per table (the CSV-per-table analog)."""
    frags = read_osm_fragments(spark, path)

    def make(which: str) -> DataFrame:
        return frags.mapInPandas(
            lambda it, w=which: _frag_iter(it, w), schema=_TABLE_SCHEMAS[which]
        )

    return {name: make(name) for name in _TABLE_SCHEMAS}


def write_osm_sample(
    spark: SparkSession, src_path: str, out_path: str, k: int = 10
) -> int:
    """sample.py, distributed-scan edition: keep every k-th top-level
    element and write a well-formed sample .osm file. The scan and
    systematic filter are distributed; assembly is driver-side because
    a sample is small by definition (the reference's sample.osm is the
    smoke-test input, not a dataset). Returns elements written."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    frags = read_osm_fragments(spark, src_path)
    # stable element index in file order (driver-side assembly anyway,
    # so the single-partition window is not a scale concern here)
    w = W.orderBy(F.monotonically_increasing_id())
    elems = (
        frags.withColumn("__v", F.ltrim(F.col("value")))
        .filter(
            F.col("__v").startswith("node")
            | F.col("__v").startswith("way")
            | F.col("__v").startswith("<node")
            | F.col("__v").startswith("<way")
        )
        .withColumn("__i", F.row_number().over(w))
        # row_number is 1-based: (i-1) % k == 0 keeps the first element
        # for every k, including k=1 ("keep everything")
        .filter(((F.col("__i") - 1) % k) == 0)
        .select("value")
    )
    rows = [r.value for r in elems.collect()]
    with open(out_path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        for raw in rows:
            raw = raw.strip()
            if not raw.startswith("<"):
                raw = "<" + raw
            if raw.endswith("</osm>"):
                raw = raw[: -len("</osm>")].rstrip()
            for kind in ("node", "way"):
                if raw.startswith(f"<{kind}") and not raw.endswith(("/>", f"</{kind}>")):
                    raw += f"</{kind}>"
            f.write("  " + raw + "\n")
        f.write("</osm>\n")
    return len(rows)
