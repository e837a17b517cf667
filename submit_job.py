#!/usr/bin/env python
r"""spark-submit entry point for the full layer pipeline.

Usage (cluster):
    python package.py                       # builds dist/osmi_addresses_spark.zip
    spark-submit --py-files dist/osmi_addresses_spark.zip \
        submit_job.py --input <documents parquet / .osm[.gz|.bz2] / .osm.pbf> \
        --output <warehouse dir> [--layers nodes_with_addresses,...] \
        [--format parquet|osm-xml|osm-pbf] \  # default: inferred from path
        [--spatialite <dir>]  # also export reference-contract .sqlite files
        [--spatialite-shards N]  # distributed export: N shards/layer + merge
        [--compact-target-mb MB]  # post-run small-file compaction (new snapshot)
        [--vacuum-keep K]  # retire all but the newest K snapshots per layer

The job is resumable: re-running with the same --output skips every table
whose manifest lineage still matches (io/table.py); per-partition metrics
land in the manifests.
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
        "--spatialite-shards",
        type=int,
        default=None,
        metavar="N",
        help="with --spatialite: write N SpatiaLite shards per layer "
        "executor-side and ATTACH-merge them into the single-file contract "
        "(the driver never streams rows; use for large layers)",
    )
    ap.add_argument(
        "--compact-target-mb",
        type=int,
        default=None,
        metavar="MB",
        help="after the run, rewrite each written layer table into "
        "~MB-sized files as a new snapshot (small-file compaction; old "
        "snapshots stay readable until --vacuum-keep retires them)",
    )
    ap.add_argument(
        "--vacuum-keep",
        type=int,
        default=None,
        metavar="K",
        help="after the run (and compaction, if any), retire all but the "
        "newest K snapshots of each written layer table",
    )
    ap.add_argument(
        "--merge-into",
        default=None,
        metavar="TABLE",
        help="MERGE mode: treat --input as an updates parquet and upsert "
        "it by --merge-keys into warehouse table TABLE (a new snapshot; "
        "the pre-merge version stays time-travel readable). Skips the "
        "pipeline entirely — the incremental-update workflow.",
    )
    ap.add_argument(
        "--merge-keys",
        default=None,
        metavar="K1,K2",
        help="comma-separated key columns for --merge-into",
    )
    ap.add_argument(
        "--merge-deletes",
        default=None,
        metavar="PATH",
        help="with --merge-into: parquet of key rows to delete",
    )
    ap.add_argument(
        "--warm",
        action="store_true",
        help="pre-load the driver JVM's analyzer/codegen classes with a "
        "2-row dry run before the real plan (worth ~10s on short jobs; a "
        "planet run amortizes it either way)",
    )
    args = ap.parse_args(argv)
    if args.spatialite_shards and not args.spatialite:
        ap.error("--spatialite-shards requires --spatialite <dir>")
    if args.merge_into and not args.merge_keys:
        ap.error("--merge-into requires --merge-keys")

    from pyspark.sql import SparkSession

    from osmi_addresses_spark.io.table import TableStore
    from osmi_addresses_spark.plans.pipeline import run_all, write_layers

    spark = SparkSession.builder.appName("osmi-addresses-spark").getOrCreate()
    if args.warm:
        from osmi_addresses_spark.session import warm_driver_plans

        warm_driver_plans(spark)
    store = TableStore(args.output)

    if args.merge_into:
        updates = spark.read.parquet(args.input)
        deletes = (
            spark.read.parquet(args.merge_deletes) if args.merge_deletes else None
        )
        path = store.merge(
            spark,
            args.merge_into,
            updates,
            [k.strip() for k in args.merge_keys.split(",")],
            deletes=deletes,
        )
        print(json.dumps({"merged": {args.merge_into: path}}))
        return 0

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
    # maintenance passes run over the tables write_layers actually wrote
    # (paths keys), not every run_all entry — derived frames without a
    # committed layer table have nothing to compact
    if args.compact_target_mb:
        from osmi_addresses_spark.plans.pipeline import layer_cluster_expr

        out["compacted"] = {}
        for n in sorted(paths):
            df = store.read(spark, f"layer_{n}")
            cl = layer_cluster_expr(df)
            out["compacted"][n] = store.compact(
                spark,
                f"layer_{n}",
                target_bytes=args.compact_target_mb << 20,
                sort_within=[cl] if cl is not None else None,
            )
    if args.vacuum_keep:
        out["vacuumed"] = {
            n: store.vacuum(f"layer_{n}", keep=args.vacuum_keep)
            for n in sorted(paths)
        }
    if args.spatialite:
        from osmi_addresses_spark.schemas import LAYER_FIELDS

        export_names = names or list(LAYER_FIELDS)
        if args.spatialite_shards:
            from osmi_addresses_spark.io.spatialite import (
                export_layer_sharded,
                merge_sqlite_shards,
            )

            out["spatialite"] = {
                n: merge_sqlite_shards(
                    export_layer_sharded(
                        layers[n], n, args.spatialite, shards=args.spatialite_shards
                    ),
                    n,
                    args.spatialite,
                )
                for n in export_names
            }
        else:
            from osmi_addresses_spark.io.spatialite import export_layer

            out["spatialite"] = {
                n: export_layer(layers[n], n, args.spatialite)
                for n in export_names
            }
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
