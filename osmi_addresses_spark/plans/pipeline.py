"""End-to-end plan: documents → the 11 reference layers + derived views
(SURVEY.md §3 query lifecycle, re-expressed as one DataFrame DAG).

Pass 1 (index build) and pass 2 (layer emit) of the reference become shared
intermediates feeding multiple sinks; the two full file scans collapse into
one parse. The two widest intermediates, `entities` and `ways_geo`, are
checkpointed to the TableStore (io.table); the smaller shared ones are
persisted. Every join below keys on uniform ids except the (name, cell)
candidate join, whose hot keys are salted (operators/nearest_street).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geom_sql as G
from ..operators import layers as L
from ..operators import views as V
from ..operators.assembly import assemble_way_geometries
from ..operators.interpolation import interpolation_plan
from ..operators.nearest_place import match_places
from ..operators.nearest_street import match_streets
from ..operators.places import build_places_index
from ..operators.streets import build_streets_index
from ..sources.parser import nodes_view, parse_documents, ways_view

WAY_CENTROID_ORD2 = 1 << 42

# When set (see track_persists), every _persist() call appends the persisted
# DataFrame here so a scoped caller (e.g. session.warm_driver_plans) can
# unpersist exactly its own caches instead of spark.catalog.clearCache()'ing
# the whole session. list.append is atomic, so the plan-construction thread
# pool below can share one tracker.
_PERSIST_TRACKER: list | None = None


@contextlib.contextmanager
def track_persists():
    """Context manager yielding a list that collects every DataFrame
    persisted via _persist() inside the block (including from run_all's
    plan-construction threads)."""
    global _PERSIST_TRACKER
    prev = _PERSIST_TRACKER
    _PERSIST_TRACKER = tracked = []
    try:
        yield tracked
    finally:
        _PERSIST_TRACKER = prev


def _persist(df: DataFrame) -> DataFrame:
    """Shared-intermediate persistence at MEMORY_AND_DISK: with the
    session's off-heap Tungsten memory the cached columnar batches stay out
    of the GC'd heap (on-heap caching of the ~9 GB of shared intermediates
    at sf10 kept the old gen full and made every match stage GC-bound, 721 s
    GC in one 1286 s stage)."""
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    tracker = _PERSIST_TRACKER
    if tracker is not None:
        tracker.append(out)
    return out


def run_all(
    spark: SparkSession,
    documents: DataFrame | None,
    store,
    source_path: str | None = None,
    entities: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Build every layer DataFrame, the six MapServer views and the shared
    intermediates they are built from. Lazy — callers trigger execution.

    There is one parse path: pre-parsed ``entities`` (e.g.
    sources/osm_xml.read_osm_xml) win, else ``documents`` are parsed by
    ``parse_documents(documents, minimal=True)`` (mapInArrow on the Python
    workers). The parsed entities are checkpointed to ``store`` (a
    TableStore) as parquet partitioned by entity type, and the assembled
    way geometries after them: every downstream consumer gets a
    column-pruned, partition-pruned scan instead of an in-memory cache that
    AQE's concurrent stage materialization would rebuild several times.
    With ``source_path`` the checkpoints are reused while that input is
    unchanged (a re-run after a crash); without it they are always
    rewritten.
    """
    parsed = entities if entities is not None else parse_documents(documents, minimal=True)
    store.write_once(
        "entities",
        lambda: parsed,
        source_path=source_path,
        partition_by=["entity"],
    )
    entities = store.read(spark, "entities")
    nodes = nodes_view(entities)
    ways = ways_view(entities)
    # the assembly subtree (explode + join + collect_list agg) is the
    # single most expensive shared intermediate — checkpoint it so no
    # consumer ever recomputes it under memory pressure
    store.write_once(
        "ways_geo",
        lambda: assemble_way_geometries(ways, nodes),
        source_path=store._dir("entities"),
    )
    ways_geo = store.read(spark, "ways_geo")

    # pass-2 eligibility: resolvable geometry + nonzero length
    # (osmi/SecondHandler.hpp:71, GeometryHelper.hpp:154-167)
    ways_p2 = ways_geo.filter(
        F.col("coords").isNotNull() & G.nonzero_length(F.col("coords"))
    )
    way_centroids = _persist(
        ways_p2.filter(G.is_closed(F.col("refs"))).withColumn(
            "centroid", G.centroid_cols(F.col("coords"))
        )
    )

    # Independent subtree constructions run on a small thread pool: plan
    # building is driver-side py4j chatter (the cluster idles through it),
    # py4j is thread-safe with one connection per thread, and the round
    # trips overlap — part of the serial-floor work (tools/stage_report.py
    # driver-idle budget). The DAG built is identical to the sequential form.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_streets_idx = pool.submit(lambda: _persist(build_streets_index(ways_geo)))
        f_places_idx = pool.submit(
            lambda: build_places_index(nodes, ways_geo.filter(F.size("refs") >= 2))
        )
        f_interp = pool.submit(lambda: interpolation_plan(ways_p2, nodes))
        f_simple = pool.submit(
            lambda: {
                "ways_with_addresses": L.ways_with_addresses(ways_p2),
                "ways_with_postal_code": L.ways_with_postal_code(ways_p2),
                "entrances": L.entrances(nodes),
                "addrx_on_nonclosed_way": L.addrx_on_nonclosed_way(ways_p2),
                "buildings": L.buildings(spark),
            }
        )
        interp_layer, ip_points = f_interp.result()
        # densified points inherit the ways-scan partitioning, where interp
        # ways occupy only a handful of splits — without a redistribution the
        # whole downstream match runs that narrow (measured: 8 × 11 s
        # straggler tasks capping the candidate stage at any core count).
        # Hash-repartition on the point key before persisting; slim rows.
        ip_points = _persist(ip_points.repartition(F.col("way_id"), F.col("k")))

        # ---- addr points for the street match (J3-J5) ----
        n_street = nodes.filter(F.col("tags")["addr:street"].isNotNull()).select(
            L.akey_node(F.col("node_id")).alias("akey"),
            F.lit("node").alias("obj_type"),
            F.col("node_id").alias("obj_id"),
            F.col("tags")["addr:street"].alias("lookup_name"),
            "lon",
            "lat",
            F.lit(0).alias("phase"),
            F.col("node_id").alias("ord1"),
            F.lit(0).cast("long").alias("ord2"),
        )

        def _street_matches():
            w_street = way_centroids.filter(
                F.col("tags")["addr:street"].isNotNull()
            ).select(
                L.akey_way(F.col("way_id")).alias("akey"),
                F.lit("way").alias("obj_type"),
                F.col("way_id").alias("obj_id"),
                F.col("tags")["addr:street"].alias("lookup_name"),
                F.col("centroid")["lon"].alias("lon"),
                F.col("centroid")["lat"].alias("lat"),
                F.lit(1).alias("phase"),
                F.col("way_id").alias("ord1"),
                F.lit(WAY_CENTROID_ORD2).cast("long").alias("ord2"),
            )
            ip_street = ip_points.select(
                L.akey_ip(F.col("way_id"), F.col("k")).alias("akey"),
                F.lit("ip").alias("obj_type"),
                F.lit(0).cast("long").alias("obj_id"),  # DUMMY_ID
                F.col("street").alias("lookup_name"),
                "lon",
                "lat",
                F.lit(1).alias("phase"),
                F.col("way_id").alias("ord1"),
                F.col("k").alias("ord2"),
            )
            street_addr = n_street.unionByName(w_street).unionByName(ip_street)
            return _persist(
                match_streets(
                    street_addr,
                    f_streets_idx.result(),
                    ways_geom=ways_geo.select("way_id", "coords"),
                )
            )

        # street-match construction embeds the hot-key detection job; run it
        # on the pool so it overlaps the place-match construction below
        f_street = pool.submit(_street_matches)

        # ---- addr points for the place match (J6) ----
        n_fallback = n_street.withColumn("via", F.lit("street"))
        n_place = nodes.filter(F.col("tags")["addr:place"].isNotNull()).select(
            L.akey_node(F.col("node_id")).alias("akey"),
            F.lit("node").alias("obj_type"),
            F.col("node_id").alias("obj_id"),
            F.col("tags")["addr:place"].alias("lookup_name"),
            "lon",
            "lat",
            F.lit(0).alias("phase"),
            F.col("node_id").alias("ord1"),
            F.lit(0).cast("long").alias("ord2"),
            F.lit("place").alias("via"),
        )
        w_place = way_centroids.filter(F.col("tags")["addr:place"].isNotNull()).select(
            L.akey_way(F.col("way_id")).alias("akey"),
            F.lit("way").alias("obj_type"),
            F.col("way_id").alias("obj_id"),
            F.col("tags")["addr:place"].alias("lookup_name"),
            F.col("centroid")["lon"].alias("lon"),
            F.col("centroid")["lat"].alias("lat"),
            F.lit(1).alias("phase"),
            F.col("way_id").alias("ord1"),
            F.lit(WAY_CENTROID_ORD2).cast("long").alias("ord2"),
            F.lit("place").alias("via"),
        )
        place_addr = n_fallback.unionByName(n_place).unionByName(w_place)
        place_matches = _persist(match_places(place_addr, f_places_idx.result()))
        simple_layers = f_simple.result()
        street_matches = f_street.result()

    flags = L._match_flags(street_matches, place_matches)

    # cached: five derived views + the base layer all read it
    nwa = _persist(
        L.nwa_node_rows(nodes, flags)
        .unionByName(L.nwa_way_rows(way_centroids, flags))
        .unionByName(L.nwa_ip_rows(ip_points, flags))
    )

    out: dict[str, DataFrame] = {
        # shared intermediates (the oracle-checked geo queries select these too)
        "entities": entities,
        "nodes": nodes,
        "ways_geo": ways_geo,
        "ways_p2": ways_p2,
        "streets": f_streets_idx.result(),
        "places": f_places_idx.result(),
        "street_matches": street_matches,
        "place_matches": place_matches,
        "ip_points": ip_points,
        # the 11 layers; the six MapServer views follow
        "connection_line": L.connection_line(street_matches, place_matches),
        "nearest_points": L.nearest_points(street_matches),
        "nearest_roads": L.nearest_roads(street_matches, ways_geo),
        "nearest_areas": L.nearest_areas(street_matches, ways_geo),
        "interpolation": interp_layer,
        "nodes_with_addresses": nwa,
        **simple_layers,
    }
    out["nwa"] = out["nodes_with_addresses"]
    out["no_addr_street"] = V.no_addr_street(nwa)
    out["street_not_found"] = V.street_not_found(nwa)
    out["place_not_found"] = V.place_not_found(nwa)
    out["nodes_with_addresses_defined"] = V.nodes_with_addresses_defined(nwa)
    out["nodes_with_addresses_interpolated"] = V.nodes_with_addresses_interpolated(nwa)
    out["interpolation_errors"] = V.interpolation_errors(interp_layer)
    return out


def layer_cluster_expr(df: DataFrame):
    """The grid-cell clustering key a layer table is sorted by within
    files (S5): point layers by their cell, LINESTRING layers by the first
    vertex's cell. None for geometry-less tables. The min/max row-group
    pruning that window reads depend on comes from this sort."""
    from ..functions.cells import cell_of

    if "geom" not in df.columns:
        return None
    if df.schema["geom"].dataType.typeName() == "struct":
        return cell_of(F.col("geom.lon"), F.col("geom.lat"))
    first = F.element_at("geom", 1)
    return cell_of(first["lon"], first["lat"])


def write_layers(layers: dict[str, DataFrame], store, layer_names=None) -> dict[str, str]:
    """S3/S5 — layer sinks: one committed table per layer (SpatiaLite-file
    analog), clustered by grid cell within files so min/max parquet column
    stats replace the reference's deferred R-tree build
    (create_spatial_indices.sh:19-37). Transaction batching (osmi/Writer.hpp:
    83-91) maps to parquet row groups; the manifest is the commit.

    The layers are independent sinks, so each write is submitted to a
    thread pool with one thread per layer: their Spark jobs, driver-side
    planning and commits overlap, and jobs that read the same cached
    intermediate (street/place matches, NWA) share its blocks instead of
    building them twice. Each table still commits atomically on its own.
    Returns the paths in the requested order. If a write fails, the first
    failure (in that order) is re-raised once every started write has
    finished; the other layers stay committed."""
    # imported at call time so a caller can swap the executor (perfbench's
    # traced runs use a serial one so that spans never overlap)
    from concurrent.futures import ThreadPoolExecutor

    from ..schemas import LAYER_NAMES

    def _write(name: str) -> str:
        df = layers[name]
        if "geom" in df.columns:
            if df.schema["geom"].dataType.typeName() != "struct":
                # LINESTRING layers: materialize the per-row bbox as four
                # top-level doubles so window reads get the same parquet
                # min/max row-group pruning point layers get from geom.lon/
                # lat stats (the reference's R-trees serve line layers too,
                # test_engine.pl:33-57) — io/window.py keys on these.
                lons = F.transform(F.col("geom"), lambda p: p["lon"])
                lats = F.transform(F.col("geom"), lambda p: p["lat"])
                df = (
                    df.withColumn("_bbox_w", F.array_min(lons))
                    .withColumn("_bbox_e", F.array_max(lons))
                    .withColumn("_bbox_s", F.array_min(lats))
                    .withColumn("_bbox_n", F.array_max(lats))
                )
            sort_cell = layer_cluster_expr(df)
            df = df.withColumn("_cell", sort_cell).sortWithinPartitions("_cell").drop("_cell")
        return store.write(f"layer_{name}", df)

    names = list(layer_names or LAYER_NAMES)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        futures = [(name, pool.submit(_write, name)) for name in names]
    return {name: fut.result() for name, fut in futures}
