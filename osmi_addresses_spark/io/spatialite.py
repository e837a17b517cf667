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


# -- distributed sharded export -------------------------------------------
#
# `export_layer` streams encoded rows through the driver because one
# `.sqlite` file has exactly one writer — the format's nature, and the
# reference's own profile (single-threaded GDAL writer). At planet scale
# that last mile becomes the only non-distributed stage, so this variant
# removes it: every partition writes a COMPLETE, valid SpatiaLite file
# (same schema, metadata pair and R*Tree as the single-file contract)
# executor-side, and the driver collects only (shard name, row count).
# Consumers either read the shard directory directly (each file is
# independently QGIS/spatialite-readable) or run `merge_sqlite_shards` —
# an sqlite ATTACH-based merge that copies rows and R*Tree entries
# C-side, never re-encoding a blob and never looping rows in Python.


def _fs_and_path(path: str):
    """pyarrow.fs resolution mirroring sources/osm_pbf._open_ranged: URIs
    (s3://, gs://, hdfs://, file://) go through FileSystem.from_uri so the
    shard upload works from any executor; plain paths stay local."""
    import pyarrow.fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def export_layer_sharded(
    df: DataFrame,
    name: str,
    out_dir: str,
    shards: int | None = None,
    batch: int = 10_000,
) -> list[str]:
    """Write <out_dir>/osmi_addresses_<name>/shard-NNNNN.sqlite, one valid
    SpatiaLite file per partition, written BY the executors (driver sees
    only the manifest). `shards` repartitions first; None keeps the
    incoming partitioning (e.g. cell-clustered layer reads, which makes
    each shard spatially coherent). Returns the shard paths in order."""
    table = f"osmi_addresses_{name}"
    shard_dir = os.path.join(out_dir, table)
    fs, fs_dir = _fs_and_path(shard_dir)
    fs.delete_dir_contents(fs_dir, missing_dir_ok=True)
    fs.create_dir(fs_dir, recursive=True)

    kind = _geom_kind(df)
    attr_fields = [(n, t) for n, t in LAYER_FIELDS[name] if n != "geom"]
    attr_cols = [(n, _sqlite_type(t)) for n, t in attr_fields]
    attr_names = [n for n, _ in attr_fields]
    encoded = _with_blob(df.select(*[n for n, _ in LAYER_FIELDS[name]]))
    if shards is not None:
        encoded = encoded.repartition(shards)

    ins = (
        f'INSERT INTO "{table}" (GEOMETRY, '
        + ", ".join(f'"{n}"' for n in attr_names)
        + ") VALUES ("
        + ",".join("?" * (1 + len(attr_names)))
        + ")"
    )
    idx_ins = f'INSERT INTO "idx_{table}_GEOMETRY" VALUES (?,?,?,?,?)'

    int_cols = {n for n, t in attr_cols if t == "INTEGER"}

    def _pyval(v, is_int: bool):
        # Arrow→pandas renders nullable ints as float64 (NaN for null);
        # sqlite must see native python ints/strs/None, never numpy scalars
        if v is None or (isinstance(v, float) and v != v):
            return None
        if is_int:
            return int(v)
        return v.item() if hasattr(v, "item") else v

    def write_shard(pdf_iter):
        import tempfile

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        shard = f"shard-{pid:05d}.sqlite"
        tmp = tempfile.NamedTemporaryFile(suffix=".sqlite", delete=False)
        tmp.close()
        os.remove(tmp.name)
        con = _init_db(tmp.name, table, kind, attr_cols)
        fid = 0
        try:
            cur = con.cursor()
            for pdf in pdf_iter:
                for lo in range(0, len(pdf), batch):
                    chunk = pdf.iloc[lo : lo + batch]
                    attrs = [
                        [_pyval(v, n in int_cols) for v in chunk[n]]
                        for n in attr_names
                    ]
                    boxes = chunk[["_xmin", "_xmax", "_ymin", "_ymax"]].to_numpy()
                    cur.execute("BEGIN")
                    cur.executemany(
                        ins, list(zip(chunk["GEOMETRY"].tolist(), *attrs))
                    )
                    cur.executemany(
                        idx_ins,
                        [
                            (fid + i + 1, *(float(x) for x in b))
                            for i, b in enumerate(boxes)
                            if b[0] == b[0]
                        ],
                    )
                    cur.execute("COMMIT")
                    fid += len(chunk)
            con.close()
            # publish via attempt-unique temp + rename so a speculative or
            # retried attempt never interleaves writes into the final name
            # (rename is atomic on local/HDFS; on object stores the final
            # single-object copy is already atomic)
            tc = TaskContext.get()
            wfs, wdir = _fs_and_path(shard_dir)
            tmp_name = f"{wdir}/.{shard}.attempt-{tc.taskAttemptId()}"
            with open(tmp.name, "rb") as src, wfs.open_output_stream(
                tmp_name
            ) as dst:
                while True:
                    b = src.read(1 << 22)
                    if not b:
                        break
                    dst.write(b)
            wfs.move(tmp_name, f"{wdir}/{shard}")
        finally:
            if os.path.exists(tmp.name):
                os.remove(tmp.name)
        yield pd.DataFrame([{"shard": shard, "rows": fid}])

    manifest = encoded.mapInPandas(
        write_shard, schema="shard string, rows long"
    ).collect()
    return [
        os.path.join(shard_dir, r["shard"])
        for r in sorted(manifest, key=lambda r: r["shard"])
    ]


def _localize_shard(path: str, tmp_dir: str) -> str:
    """sqlite can only open local files; a shard that lives behind a
    pyarrow.fs URI (s3://, hdfs://, …) is downloaded to tmp_dir first.
    Plain paths are returned as-is (they must be driver-readable — i.e. a
    shared filesystem on a multi-node cluster; use a URI otherwise)."""
    if "://" not in path:
        return path
    fs, fs_path = _fs_and_path(path)
    local = os.path.join(tmp_dir, os.path.basename(fs_path))
    with fs.open_input_stream(fs_path) as src, open(local, "wb") as dst:
        while True:
            b = src.read(1 << 22)
            if not b:
                break
            dst.write(b)
    return local


def merge_sqlite_shards(shard_paths: list[str], name: str, out_dir: str) -> str:
    """ATTACH-merge executor-written shards into the single-file reference
    contract. Rows and R*Tree entries are copied inside sqlite (no blob
    re-encode, no Python row loop); shard fids are contiguous from 1, so
    the R*Tree pkids re-base by the running row count. URI shard paths
    (object store / HDFS) are streamed to a local temp dir first — sqlite
    cannot ATTACH a remote object."""
    import shutil
    import tempfile

    if not shard_paths:
        raise ValueError("merge_sqlite_shards: empty shard list")
    tmp_dir = None
    if any("://" in p for p in shard_paths):
        tmp_dir = tempfile.mkdtemp(prefix="osmi_shard_merge_")
        shard_paths = [_localize_shard(p, tmp_dir) for p in shard_paths]
    try:
        return _merge_local_shards(shard_paths, name, out_dir)
    finally:
        if tmp_dir:
            shutil.rmtree(tmp_dir, ignore_errors=True)


def _merge_local_shards(shard_paths: list[str], name: str, out_dir: str) -> str:
    table = f"osmi_addresses_{name}"
    path = os.path.join(out_dir, f"{table}.sqlite")
    if os.path.exists(path):
        os.remove(path)
    os.makedirs(out_dir, exist_ok=True)
    first = sqlite3.connect(shard_paths[0])
    kind = first.execute(
        "SELECT type FROM geometry_columns WHERE f_table_name = ?", (table,)
    ).fetchone()[0]
    attr_cols = [
        (r[1], r[2])
        for r in first.execute(f'PRAGMA table_info("{table}")')
        if r[1] not in ("OGC_FID", "GEOMETRY")
    ]
    first.close()
    con = _init_db(path, table, kind, attr_cols)
    col_list = "GEOMETRY" + "".join(f', "{n}"' for n, _ in attr_cols)
    try:
        for sp in shard_paths:
            con.execute("ATTACH ? AS sh", (sp,))
            base = con.execute(
                f'SELECT COALESCE(MAX(OGC_FID), 0) FROM main."{table}"'
            ).fetchone()[0]
            con.execute("BEGIN")
            con.execute(
                f'INSERT INTO main."{table}" ({col_list}) '
                f'SELECT {col_list} FROM sh."{table}" ORDER BY OGC_FID'
            )
            con.execute(
                f'INSERT INTO main."idx_{table}_GEOMETRY" '
                f"SELECT pkid + {base}, xmin, xmax, ymin, ymax "
                f'FROM sh."idx_{table}_GEOMETRY"'
            )
            con.execute("COMMIT")
            con.execute("DETACH sh")
    finally:
        con.close()
    return path

