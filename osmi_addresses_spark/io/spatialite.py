"""SpatiaLite file export — the reference's actual output contract.

The reference emits one SpatiaLite ``.sqlite`` per layer, table name ==
file base name, geometry in a ``GEOMETRY`` blob column, CRS84
(/root/reference/osmi/Writer.hpp:104-150 via the GDAL SQLite driver with
SPATIALITE=TRUE), then builds R-trees afterwards
(/root/reference/create_spatial_indices.sh) so MapServer/QGIS window
queries hit ``idx_<table>_GEOMETRY``. This module reproduces that file
contract with stdlib ``sqlite3`` only (GDAL is not in the sandbox):

- geometry is written in the public SpatiaLite BLOB-geometry format
  (start 0x00, little-endian flag, SRID, MBR doubles, 0x7C, class id,
  coordinates, end 0xFE) — readable by spatialite/QGIS/OGR;
- a ``spatial_ref_sys`` + ``geometry_columns`` metadata pair (legacy
  pre-v4 layout: no triggers required) marks the file as SpatiaLite;
- an SQLite R*Tree ``idx_<table>_GEOMETRY(pkid, xmin, xmax, ymin, ymax)``
  mirrors the reference's deferred spatial index, so the reference test
  harness's bbox queries (/root/reference/test/test_engine.pl:29-56) run
  unmodified against exported files.

Scale split: blob ENCODING is distributed (one pandas/Arrow UDF over the
layer DataFrame — per-row cost never lands on the driver), while the
final ``.sqlite`` write streams encoded partitions through the driver —
single-writer by the format's nature, exactly as the reference's
single-threaded GDAL writer is. At 100 TB the parquet layer tables remain
the analytical sink; this export is the last-mile compatibility artifact
for the existing OSM Inspector toolchain.
"""

from __future__ import annotations

import os
import sqlite3
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import LAYER_FIELDS

SRID = 4326  # CRS84 lon/lat (Writer.hpp:105 SetWellKnownGeogCS("CRS84"))

_GEOM_CLASS = {"POINT": 1, "LINESTRING": 2}


def _blob_header(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    return (
        b"\x00\x01"
        + struct.pack("<i", SRID)
        + struct.pack("<4d", minx, miny, maxx, maxy)
        + b"\x7c"
    )


def point_blob(lon: float, lat: float) -> bytes:
    return (
        _blob_header(lon, lat, lon, lat)
        + struct.pack("<i", 1)
        + struct.pack("<2d", lon, lat)
        + b"\xfe"
    )


def linestring_blob(xs, ys) -> bytes:
    n = len(xs)
    body = struct.pack("<ii", 2, n)
    coords = bytearray()
    for x, y in zip(xs, ys):
        coords += struct.pack("<2d", x, y)
    return (
        _blob_header(min(xs), min(ys), max(xs), max(ys))
        + body
        + bytes(coords)
        + b"\xfe"
    )


def decode_blob(blob: bytes):
    """Inverse of point_blob/linestring_blob (test-side readback): returns
    ('POINT', [(x, y)]) or ('LINESTRING', [(x, y), ...])."""
    assert blob[0] == 0x00 and blob[1] == 0x01 and blob[38] == 0x7C
    cls = struct.unpack_from("<i", blob, 39)[0]
    if cls == 1:
        x, y = struct.unpack_from("<2d", blob, 43)
        return "POINT", [(x, y)]
    if cls == 2:
        n = struct.unpack_from("<i", blob, 43)[0]
        pts = [struct.unpack_from("<2d", blob, 47 + 16 * i) for i in range(n)]
        return "LINESTRING", pts
    raise ValueError(f"unsupported geometry class {cls}")


def _geom_kind(df: DataFrame) -> str:
    return "POINT" if df.schema["geom"].dataType.typeName() == "struct" else "LINESTRING"


def _with_blob(df: DataFrame) -> DataFrame:
    """Append GEOMETRY (binary SpatiaLite blob) + bbox columns, encoded
    executor-side via an Arrow-batched pandas UDF over plain double arrays
    (the struct geometry is flattened first so the UDF sees primitive
    columns)."""
    kind = _geom_kind(df)
    if kind == "POINT":
        xs = F.array(F.col("geom.lon"))
        ys = F.array(F.col("geom.lat"))
    else:
        xs = F.transform("geom", lambda p: p["lon"])
        ys = F.transform("geom", lambda p: p["lat"])

    @F.pandas_udf(T.BinaryType())
    def enc(x: pd.Series, y: pd.Series) -> pd.Series:
        out = []
        for xv, yv in zip(x, y):
            if xv is None or len(xv) == 0:
                out.append(None)
            elif len(xv) == 1:
                # a null geom struct flattens to array(NULL): one None element
                if xv[0] is None or xv[0] != xv[0]:
                    out.append(None)
                else:
                    out.append(point_blob(float(xv[0]), float(yv[0])))
            else:
                out.append(linestring_blob(xv, yv))
        return pd.Series(out)

    return df.select(
        *[c for c in df.columns if c != "geom"],
        enc(xs, ys).alias("GEOMETRY"),
        F.array_min(xs).alias("_xmin"),
        F.array_max(xs).alias("_xmax"),
        F.array_min(ys).alias("_ymin"),
        F.array_max(ys).alias("_ymax"),
    )


def _sqlite_type(spark_type: T.DataType) -> str:
    return "INTEGER" if isinstance(spark_type, T.IntegerType) else "TEXT"


def _init_db(path: str, table: str, kind: str, attr_cols: list[tuple[str, str]]):
    # autocommit (isolation_level=None): transactions are managed
    # explicitly with BEGIN/COMMIT in the batched insert loop
    con = sqlite3.connect(path, isolation_level=None)
    con.executescript(
        """
        PRAGMA synchronous=OFF;
        PRAGMA journal_mode=OFF;
        CREATE TABLE IF NOT EXISTS spatial_ref_sys (
          srid INTEGER NOT NULL PRIMARY KEY,
          auth_name TEXT NOT NULL, auth_srid INTEGER NOT NULL,
          ref_sys_name TEXT, proj4text TEXT NOT NULL);
        CREATE TABLE IF NOT EXISTS geometry_columns (
          f_table_name TEXT NOT NULL, f_geometry_column TEXT NOT NULL,
          type TEXT NOT NULL, coord_dimension INTEGER NOT NULL,
          srid INTEGER, spatial_index_enabled INTEGER NOT NULL);
        """
    )
    con.execute(
        "INSERT OR REPLACE INTO spatial_ref_sys VALUES (?,?,?,?,?)",
        (SRID, "epsg", SRID, "WGS 84", "+proj=longlat +datum=WGS84 +no_defs"),
    )
    con.execute(
        "INSERT INTO geometry_columns VALUES (?,?,?,?,?,?)",
        (table, "GEOMETRY", kind, 2, SRID, 1),
    )
    cols = ", ".join(f'"{n}" {t}' for n, t in attr_cols)
    con.execute(
        f'CREATE TABLE "{table}" ('
        f"OGC_FID INTEGER PRIMARY KEY AUTOINCREMENT, GEOMETRY BLOB"
        + (f", {cols})" if cols else ")")
    )
    con.execute(
        f'CREATE VIRTUAL TABLE "idx_{table}_GEOMETRY" '
        "USING rtree(pkid, xmin, xmax, ymin, ymax)"
    )
    return con


def export_layer(df: DataFrame, name: str, out_dir: str, batch: int = 10_000) -> str:
    """Write one layer DataFrame to <out_dir>/osmi_addresses_<name>.sqlite.

    Blob encode runs distributed; the driver streams encoded rows into
    sqlite in `batch`-row transactions (the reference commits every 10 000
    features, Writer.hpp:118-125).
    """
    table = f"osmi_addresses_{name}"
    path = os.path.join(out_dir, f"{table}.sqlite")
    if os.path.exists(path):
        os.remove(path)
    os.makedirs(out_dir, exist_ok=True)

    kind = _geom_kind(df)
    attr_fields = [(n, t) for n, t in LAYER_FIELDS[name] if n != "geom"]
    encoded = _with_blob(df.select(*[n for n, _ in LAYER_FIELDS[name]]))

    con = _init_db(
        path, table, kind, [(n, _sqlite_type(t)) for n, t in attr_fields]
    )
    attr_names = [n for n, _ in attr_fields]
    ins = (
        f'INSERT INTO "{table}" (GEOMETRY, '
        + ", ".join(f'"{n}"' for n in attr_names)
        + ") VALUES ("
        + ",".join("?" * (1 + len(attr_names)))
        + ")"
    )
    idx_ins = f'INSERT INTO "idx_{table}_GEOMETRY" VALUES (?,?,?,?,?)'

    pending_rows, pending_boxes = [], []

    def flush():
        if not pending_rows:
            return
        cur = con.cursor()
        cur.execute("BEGIN")
        first_fid = con.execute(
            f'SELECT COALESCE(MAX(OGC_FID), 0) FROM "{table}"'
        ).fetchone()[0]
        cur.executemany(ins, pending_rows)
        cur.executemany(
            idx_ins,
            [
                (first_fid + i + 1, *box)
                for i, box in enumerate(pending_boxes)
                if box[0] is not None
            ],
        )
        cur.execute("COMMIT")
        pending_rows.clear()
        pending_boxes.clear()

    for row in encoded.toLocalIterator(prefetchPartitions=True):
        pending_rows.append(
            (row["GEOMETRY"], *[row[n] for n in attr_names])
        )
        pending_boxes.append(
            (row["_xmin"], row["_xmax"], row["_ymin"], row["_ymax"])
        )
        if len(pending_rows) >= batch:
            flush()
    flush()
    con.close()
    return path


def export_layers(layers: dict[str, DataFrame], out_dir: str) -> dict[str, str]:
    """Export all 11 reference layers as SpatiaLite files — the drop-in
    replacement for the reference's output directory."""
    return {name: export_layer(layers[name], name, out_dir) for name in LAYER_FIELDS}
