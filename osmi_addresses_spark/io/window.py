"""bbox window queries over written layer tables — the analog of the
reference's deferred spatial R-trees serving map-window reads
(/root/reference/test/test_engine.pl:33-57 `inbbox`/`outofbbox`,
/root/reference/test/create_spatial_indices.sh:19-37).

`write_layers` sorts every layer file by grid cell
(plans/pipeline.write_layers), so each 32 MB parquet row group covers a
narrow lon/lat range and carries min/max stats on the geometry leaves:

- POINT layers (`geom` struct): the window becomes four range predicates on
  `geom.lon` / `geom.lat` that Spark pushes into the parquet scan — row
  groups whose stats miss the window are never decoded (check
  `PushedFilters` in `.explain`). This is the R-tree-read analog at scale:
  touched bytes ∝ window area, not table size.
- LINESTRING layers (`geom` array<struct>): write_layers materializes the
  per-row bbox as four top-level doubles (`_bbox_w/_bbox_e/_bbox_s/
  _bbox_n`); the window becomes four scalar range predicates on them —
  pushable into the parquet scan exactly like the point case, with
  identical selection semantics to the reference's R-tree (geometry bbox
  intersects window). In-memory DataFrames without the columns fall back
  to array_min/array_max over the vertices (same rows, no pushdown).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def bbox_filter(df: DataFrame, bbox: tuple[float, float, float, float]):
    """Window predicate for a layer DataFrame with a `geom` column.

    ``bbox`` = (west, south, east, north), CRS84 degrees, bounds inclusive
    (the reference's OGR SetSpatialFilterRect semantics over rectangles)."""
    west, south, east, north = bbox
    g = df.schema["geom"].dataType
    if isinstance(g, T.StructType):
        lon, lat = F.col("geom.lon"), F.col("geom.lat")
        return (
            (lon >= west) & (lon <= east) & (lat >= south) & (lat <= north)
        )
    if "_bbox_w" in df.columns:
        # written line layers carry materialized bbox columns → scalar
        # predicates the scan can push down to row-group stats
        return (
            (F.col("_bbox_w") <= east)
            & (F.col("_bbox_e") >= west)
            & (F.col("_bbox_s") <= north)
            & (F.col("_bbox_n") >= south)
        )
    lons = F.transform(F.col("geom"), lambda p: p["lon"])
    lats = F.transform(F.col("geom"), lambda p: p["lat"])
    return (
        (F.array_min(lons) <= east)
        & (F.array_max(lons) >= west)
        & (F.array_min(lats) <= north)
        & (F.array_max(lats) >= south)
    )


def read_layer_bbox(
    spark: SparkSession,
    store,
    layer: str,
    bbox: tuple[float, float, float, float],
) -> DataFrame:
    """Read one written layer restricted to a bbox window.

    ``layer`` is the bare layer name (e.g. "entrances"); the table is the
    `layer_<name>` table committed by write_layers. The materialized
    `_bbox_*` helper columns are consumed by the predicate and dropped
    from the result."""
    df = store.read(spark, f"layer_{layer}")
    out = df.filter(bbox_filter(df, bbox))
    return out.drop("_bbox_w", "_bbox_e", "_bbox_s", "_bbox_n")


def read_layer_tile(
    spark: SparkSession, store, layer: str, zoom: int, x: int, y: int
) -> DataFrame:
    """Read one written layer restricted to slippy tile zoom/x/y — the
    tile-server read path (the reference's MapServer WMS issues exactly
    these windows per tile): tile extent → pushed-down bbox window read,
    so the scan prunes to the row groups overlapping the tile."""
    from ..functions.tiles import tile_bounds

    return read_layer_bbox(spark, store, layer, tile_bounds(zoom, x, y))
