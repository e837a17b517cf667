#!/usr/bin/env python
r"""spark-submit entry point for the full layer pipeline.

Usage (cluster):
    python package.py                       # builds dist/osmi_addresses_spark.zip
    spark-submit --py-files dist/osmi_addresses_spark.zip \
        submit_job.py --input <documents parquet / .osm[.gz|.bz2] / .osm.pbf> \
        --output <warehouse dir> [--layers nodes_with_addresses,...] \
        [--format parquet|osm-xml|osm-pbf] \  # default: inferred from path
        [--vacuum-keep K]  # retire all but the newest K snapshots per layer
        [--spatialite <dir>]  # also export reference-contract .sqlite files

One path: read the input, `run_all`, `write_layers`, then the optional
vacuum and SpatiaLite export. The job is resumable: re-running with the
same --output skips every checkpoint whose manifest lineage still matches
(io/table.py); per-partition metrics land in the manifests.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table path")
    ap.add_argument("--output", required=True, help="warehouse directory")
    ap.add_argument("--layers", default=None, help="comma list; default all")
    ap.add_argument(
        "--format",
        default="auto",
        choices=["auto", "parquet", "osm-xml", "osm-pbf"],
        help="input format (auto: by file extension, parquet otherwise)",
    )
    ap.add_argument(
        "--spatialite",
        default=None,
        help="directory to export the reference's SpatiaLite .sqlite files "
        "(one per layer, MapServer/QGIS drop-in) in addition to the parquet tables",
    )
    ap.add_argument(
        "--vacuum-keep",
        type=int,
        default=None,
        metavar="K",
        help="after the run, retire all but the newest K snapshots of each "
        "written layer table",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from osmi_addresses_spark.io.table import TableStore
    from osmi_addresses_spark.plans.pipeline import run_all, write_layers

    spark = SparkSession.builder.appName("osmi-addresses-spark").getOrCreate()
    store = TableStore(args.output)

    fmt = args.format
    if fmt == "auto":
        low = args.input.lower()
        if low.endswith(".pbf"):
            fmt = "osm-pbf"
        elif low.endswith((".osm", ".osm.gz", ".osm.bz2")):
            fmt = "osm-xml"
        else:
            fmt = "parquet"
    docs = entities = None
    if fmt == "osm-pbf":
        from osmi_addresses_spark.sources.osm_pbf import read_osm_pbf

        entities = read_osm_pbf(spark, args.input)
    elif fmt == "osm-xml":
        from osmi_addresses_spark.sources.osm_xml import read_osm_xml

        entities = read_osm_xml(spark, args.input)
    else:
        docs = spark.read.parquet(args.input)
    layers = run_all(
        spark, docs, store=store, source_path=args.input, entities=entities
    )
    names = args.layers.split(",") if args.layers else None
    paths = write_layers(layers, store, layer_names=names)
    out = {"written": paths}
    # vacuum runs over the tables write_layers actually wrote (paths
    # keys), not every run_all entry — derived frames have no layer table
    if args.vacuum_keep:
        out["vacuumed"] = {
            n: store.vacuum(f"layer_{n}", keep=args.vacuum_keep)
            for n in sorted(paths)
        }
    if args.spatialite:
        from osmi_addresses_spark.io.spatialite import export_layer
        from osmi_addresses_spark.schemas import LAYER_FIELDS

        out["spatialite"] = {
            n: export_layer(layers[n], n, args.spatialite)
            for n in names or LAYER_FIELDS
        }
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
