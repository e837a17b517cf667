"""Native OSM XML ingestion — the reference's file-format front door
(`/root/reference/osmi/main.cpp:73` via `osmium/io/any_input.hpp` accepts
.osm XML and .pbf). `sources/osm_pbf.py` reads .pbf; this module reads
XML:

- `read_osm_xml(spark, path)`: binaryFile scan → per-file iterparse in
  executors → the same minimal entities schema the span parser produces,
  so every downstream plan (nodes_view/ways_view → layers) runs unchanged
  on a real `.osm` extract. Scales across files (the natural multi-extract
  layout); one monolithic XML parses within a single task — the format is
  not splittable without an external index, the same constraint libosmium
  has single-threaded.
- `.gz` / `.bz2` payloads are decompressed by extension (planet extracts
  ship compressed).
- `write_osm_xml(path, nodes, ways)`: test/fixture-side serializer.

Relations are skipped: the reference registers no relation handler
(`osmi/Writer.hpp:51` empty default, never overridden).
"""

from __future__ import annotations

import bz2
import gzip
import io
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from xml.sax.saxutils import quoteattr

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import ENTITY_MIN_SCHEMA


def _open_bytes(path: str, content: bytes):
    if path.endswith(".gz"):
        return gzip.open(io.BytesIO(content))
    if path.endswith(".bz2"):
        return bz2.open(io.BytesIO(content))
    return io.BytesIO(content)


def _entities_from_xml(path: str, content: bytes) -> Iterator[dict]:
    # capture the root from the first 'start' event and periodically detach
    # processed children: elem.clear() alone leaves one empty Element per
    # entity accumulating on the root, linear growth on a monolithic .osm
    root = None
    cleared = 0
    for event, elem in ET.iterparse(
        _open_bytes(path, content), events=("start", "end")
    ):
        if event == "start":
            if root is None:
                root = elem
            continue
        tag = elem.tag
        if tag in ("node", "way", "relation"):
            cleared += 1
            if root is not None and cleared % 10_000 == 0:
                del root[:]
        if tag == "node":
            yield {
                "entity": "node",
                "osm_id": int(elem.attrib["id"]),
                "lat": float(elem.attrib["lat"]),
                "lon": float(elem.attrib["lon"]),
                "lastchange": elem.attrib.get("timestamp", ""),
                "tags": {c.attrib["k"]: c.attrib["v"] for c in elem if c.tag == "tag"},
                "refs": [],
            }
            elem.clear()
        elif tag == "way":
            yield {
                "entity": "way",
                "osm_id": int(elem.attrib["id"]),
                "lat": None,
                "lon": None,
                "lastchange": elem.attrib.get("timestamp", ""),
                "tags": {c.attrib["k"]: c.attrib["v"] for c in elem if c.tag == "tag"},
                "refs": [int(c.attrib["ref"]) for c in elem if c.tag == "nd"],
            }
            elem.clear()
        elif tag == "relation":
            elem.clear()


def read_osm_xml(spark: SparkSession, path: str) -> DataFrame:
    """path (file / dir / glob of .osm[.gz|.bz2]) → entities DataFrame with
    the minimal entity schema (entity, osm_id, lat, lon, lastchange, tags,
    refs) — drop-in ahead of nodes_view/ways_view."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    cols = [f.name for f in ENTITY_MIN_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                rows = list(_entities_from_xml(p, bytes(content)))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(gen, schema=ENTITY_MIN_SCHEMA)


def write_osm_xml(path: str, nodes, ways) -> str:
    """Serialize node/way dicts (the fixture generator's world shape:
    id, lat/lon or refs, tags, ts) to a .osm XML file."""
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<osm version="0.6" generator="osmi_addresses_spark">\n')
        for n in nodes:
            f.write(
                f'  <node id="{n["id"]}" lat="{n["lat"]!r}" lon="{n["lon"]!r}"'
                f' timestamp={quoteattr(n["ts"])} version="1">\n'
            )
            for k, v in n["tags"].items():
                f.write(f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>\n")
            f.write("  </node>\n")
        for w in ways:
            f.write(f'  <way id="{w["id"]}" timestamp={quoteattr(w["ts"])} version="1">\n')
            for r in w["refs"]:
                f.write(f'    <nd ref="{r}"/>\n')
            for k, v in w["tags"].items():
                f.write(f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>\n")
            f.write("  </way>\n")
        f.write("</osm>\n")
    return path
