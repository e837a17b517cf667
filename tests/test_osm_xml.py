"""Native OSM XML ingestion (sources/osm_xml.py): the XML reader must
produce entity rows identical to the span parser's for the same world, and
drive the full layer pipeline unchanged."""

import gzip
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmi_addresses_spark.sources.osm_xml import read_osm_xml, write_osm_xml  # noqa: E402
from osmi_addresses_spark.sources.parser import parse_documents  # noqa: E402


def _norm(rows):
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        out.append(
            (
                d["entity"],
                d["osm_id"],
                d["lat"],
                d["lon"],
                d["lastchange"],
                tuple(sorted((d["tags"] or {}).items())),
                tuple(d["refs"] or ()),
            )
        )
    return sorted(out, key=str)


def test_xml_matches_span_parser(spark, small_world, small_docs, tmp_path):
    p = write_osm_xml(
        str(tmp_path / "world.osm"), small_world.nodes, small_world.ways
    )
    via_xml = _norm(read_osm_xml(spark, p).collect())
    via_spans = _norm(parse_documents(small_docs, minimal=True).collect())
    assert via_xml == via_spans


def test_xml_gz_and_multifile(spark, small_world, tmp_path):
    d = tmp_path / "extracts"
    d.mkdir()
    half = len(small_world.nodes) // 2
    write_osm_xml(str(d / "a.osm"), small_world.nodes[:half], [])
    plain = str(d / "b.osm.plain")
    write_osm_xml(plain, small_world.nodes[half:], small_world.ways)
    with open(plain, "rb") as f:
        with gzip.open(str(d / "b.osm.gz"), "wb") as g:
            g.write(f.read())
    os.remove(plain)
    ents = read_osm_xml(spark, str(d))
    n_nodes = ents.filter("entity = 'node'").count()
    n_ways = ents.filter("entity = 'way'").count()
    assert n_nodes == len(small_world.nodes)
    assert n_ways == len(small_world.ways)


def test_pipeline_from_xml(spark, small_world, small_docs, tmp_path):
    from osmi_addresses_spark.io.table import TableStore
    from osmi_addresses_spark.plans.pipeline import run_all

    p = write_osm_xml(
        str(tmp_path / "world.osm"), small_world.nodes, small_world.ways
    )
    from_xml = run_all(
        spark, None, store=TableStore(str(tmp_path / "xml_store")),
        entities=read_osm_xml(spark, p),
    )
    from_docs = run_all(spark, small_docs, store=TableStore(str(tmp_path / "docs_store")))
    for layer in ("entrances", "ways_with_postal_code"):
        a = from_xml[layer]
        b = from_docs[layer]
        assert a.count() == b.count() > 0
        assert a.exceptAll(b).count() == 0, layer
