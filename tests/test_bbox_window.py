"""bbox window reads over cell-clustered layers (io/window.py): correctness
of point and linestring selection, parquet predicate pushdown, and
row-group-stat prunability — the R-tree-window-query analog
(/root/reference/test/test_engine.pl:33-57)."""

import os
import sys

import pyarrow.parquet as pq
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmi_addresses_spark.functions.cells import cell_of  # noqa: E402
from osmi_addresses_spark.io.table import TableStore  # noqa: E402
from osmi_addresses_spark.io.window import bbox_filter, read_layer_bbox  # noqa: E402

BBOX = (10.0, 0.0, 20.0, 1.0)  # west, south, east, north


def _point_layer(spark, n=60_000):
    # points strung along lon ∈ [0, 60), lat ∈ [0, 1)
    return spark.range(n).select(
        F.col("id").cast("string").alias("node_id"),
        F.struct(
            (F.col("id") * 0.001).alias("lon"),
            (F.pmod(F.col("id"), 1000) * 0.001).alias("lat"),
        ).alias("geom"),
    )


def test_point_bbox_read_pushdown_and_pruning(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    df = _point_layer(spark)
    clustered = (
        df.withColumn("_cell", cell_of(F.col("geom.lon"), F.col("geom.lat")))
        .repartition(4)
        .sortWithinPartitions("_cell")
        .drop("_cell")
    )
    # small row groups so one file holds many prunable groups
    store.write("layer_pts", clustered, options={"parquet.block.size": "65536"})

    got = read_layer_bbox(spark, store, "pts", BBOX)
    want = df.filter(
        (F.col("geom.lon") >= BBOX[0])
        & (F.col("geom.lon") <= BBOX[2])
        & (F.col("geom.lat") >= BBOX[1])
        & (F.col("geom.lat") <= BBOX[3])
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # the window reaches the parquet scan as pushed filters on the leaves
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "geom.lon" in plan, plan[:2000]

    # row-group min/max stats let most groups be skipped: the window covers
    # 1/6 of the lon range, so well under half the row groups can overlap
    total = overlapping = 0
    root = store._dir("layer_pts")
    for f in os.listdir(root):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(root, f)).metadata
        sch = md.schema
        lon_idx = next(
            i for i in range(len(sch)) if sch.column(i).path == "geom.lon"
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(lon_idx).statistics
            total += 1
            if st.min <= BBOX[2] and st.max >= BBOX[0]:
                overlapping += 1
    assert total >= 8, f"expected many row groups, got {total}"
    assert overlapping < total / 2, (
        f"cell clustering should localize row groups: {overlapping}/{total} overlap"
    )


def test_linestring_bbox_intersects(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    rows = [
        ("in", [(12.0, 0.5), (13.0, 0.6)]),        # fully inside
        ("crossing", [(5.0, 0.5), (25.0, 0.5)]),   # bbox spans the window
        ("outside", [(30.0, 0.5), (31.0, 0.5)]),   # disjoint
        ("touch_edge", [(20.0, 1.0), (21.0, 2.0)]),  # corner touches
    ]
    df = spark.createDataFrame(
        [(n, [{"lon": x, "lat": y} for x, y in cs]) for n, cs in rows],
        "way_id string, geom array<struct<lon:double,lat:double>>",
    )
    store.write("layer_lines", df)
    got = {r["way_id"] for r in read_layer_bbox(spark, store, "lines", BBOX).collect()}
    assert got == {"in", "crossing", "touch_edge"}


def test_linestring_bbox_pushdown_and_pruning(spark, tmp_path):
    """Line layers written via write_layers carry materialized _bbox_*
    columns: the window read pushes scalar predicates into the parquet scan
    and row-group stats prune most groups — same guarantees the point
    layers get (the reference's R-trees serve line layers too)."""
    from osmi_addresses_spark.plans.pipeline import write_layers

    store = TableStore(str(tmp_path / "store"))
    n = 60_000
    # short segments strung along lon ∈ [0, 60)
    df = spark.range(n).select(
        F.col("id").cast("string").alias("node_id"),
        F.col("id").cast("string").alias("way_id"),
        F.array(
            F.struct(
                (F.col("id") * 0.001).alias("lon"),
                (F.pmod(F.col("id"), 1000) * 0.001).alias("lat"),
            ),
            F.struct(
                (F.col("id") * 0.001 + 0.0005).alias("lon"),
                (F.pmod(F.col("id"), 1000) * 0.001 + 0.0005).alias("lat"),
            ),
        ).alias("geom"),
    ).repartition(4)
    write_layers(
        {"connection_line": df},
        _Opts(store),
        layer_names=["connection_line"],
    )

    got = read_layer_bbox(spark, store, "connection_line", BBOX)
    lons = F.transform(F.col("geom"), lambda p: p["lon"])
    lats = F.transform(F.col("geom"), lambda p: p["lat"])
    want = df.filter(
        (F.array_min(lons) <= BBOX[2])
        & (F.array_max(lons) >= BBOX[0])
        & (F.array_min(lats) <= BBOX[3])
        & (F.array_max(lats) >= BBOX[1])
    )
    assert got.count() == want.count() > 0
    assert sorted(got.columns) == sorted(df.columns)  # helper cols dropped

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "_bbox_w" in plan, plan[:2000]

    total = overlapping = 0
    root = store._dir("layer_connection_line")
    for f in os.listdir(root):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(root, f)).metadata
        sch = md.schema
        w_idx = next(i for i in range(len(sch)) if sch.column(i).path == "_bbox_w")
        e_idx = next(i for i in range(len(sch)) if sch.column(i).path == "_bbox_e")
        for rg in range(md.num_row_groups):
            total += 1
            stw = md.row_group(rg).column(w_idx).statistics
            ste = md.row_group(rg).column(e_idx).statistics
            if stw.min <= BBOX[2] and ste.max >= BBOX[0]:
                overlapping += 1
    assert total >= 8, f"expected many row groups, got {total}"
    assert overlapping < total / 2, (
        f"cell clustering should localize row groups: {overlapping}/{total} overlap"
    )


class _Opts:
    """Minimal store adapter for write_layers: forwards writes with small
    row groups so the pruning assertion sees many groups per file."""

    def __init__(self, store):
        self._store = store

    def write(self, name, df):
        return self._store.write(name, df, options={"parquet.block.size": "65536"})


def test_bbox_filter_matches_oracle_semantics(spark):
    # inclusive bounds, like OGR SetSpatialFilterRect on rectangles
    df = spark.createDataFrame(
        [("edge", {"lon": 10.0, "lat": 0.0}), ("out", {"lon": 9.999, "lat": 0.0})],
        "node_id string, geom struct<lon:double,lat:double>",
    )
    got = {r["node_id"] for r in df.filter(bbox_filter(df, BBOX)).collect()}
    assert got == {"edge"}


def test_tile_window_read(spark, tmp_path):
    """read_layer_tile == bbox read of the tile's extent, and every point
    the pyramid assigns to tile (z,x,y) is inside tile_bounds(z,x,y)."""
    from osmi_addresses_spark.functions.tiles import tile_bounds, tile_xy
    from osmi_addresses_spark.io.window import read_layer_tile

    store = TableStore(str(tmp_path / "store"))
    df = _point_layer(spark, n=20_000)
    store.write(
        "layer_pts",
        df.withColumn("_cell", cell_of(F.col("geom.lon"), F.col("geom.lat")))
        .repartition(4)
        .sortWithinPartitions("_cell")
        .drop("_cell"),
    )

    z = 6
    # the tile containing (10.5, 0.5): direct from the assignment columns
    xt, yt = tile_xy(F.lit(10.5), F.lit(0.5), z)
    tx, ty = spark.range(1).select(xt, yt).collect()[0]
    w, s, e, n = tile_bounds(z, tx, ty)
    assert w <= 10.5 <= e and s <= 0.5 <= n

    got = {r["node_id"] for r in read_layer_tile(spark, store, "pts", z, tx, ty).collect()}
    want = {
        r["node_id"]
        for r in df.filter(
            (F.col("geom.lon") >= w) & (F.col("geom.lon") <= e)
            & (F.col("geom.lat") >= s) & (F.col("geom.lat") <= n)
        ).collect()
    }
    assert got == want and len(got) > 0

    # assignment ↔ bounds round trip on a sample of layer points
    both = df.select(
        "geom.lon", "geom.lat",
        tile_xy(F.col("geom.lon"), F.col("geom.lat"), z)[0].alias("xt"),
        tile_xy(F.col("geom.lon"), F.col("geom.lat"), z)[1].alias("yt"),
    ).limit(500).collect()
    for r in both:
        bw, bs, be, bn = tile_bounds(z, r["xt"], r["yt"])
        assert bw <= r["lon"] <= be and bs <= r["lat"] <= bn
