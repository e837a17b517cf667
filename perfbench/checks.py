"""Output checks: per-layer row counts and order-independent digests
against pinned values, SpatiaLite row counts against the store, and tile
read counts against a DuckDB full scan of the same bbox."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sqlite3

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from osmi_addresses_spark.functions.tiles import tile_bounds
from osmi_addresses_spark.schemas import LAYER_FIELDS

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
# OSM stores coordinates at 7 decimal places; rounding there keeps an exact
# re-implementation of a float kernel from counting as a wrong answer.
COORD_DP = 7


def _canon(v):
    if isinstance(v, float):
        return repr(round(v, COORD_DP) + 0.0)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def _layer_files(store, layer: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store._dir(f"layer_{layer}"), "**", "*.parquet"),
                            recursive=True))


def layer_summary(store, layer: str) -> tuple[int, str]:
    """(rows, digest) of one committed layer table. The digest is the sum
    mod 2^64 of per-row hashes, so it ignores row and file order."""
    cols = [n for n, _ in LAYER_FIELDS[layer]]
    total, rows = 0, 0
    for f in _layer_files(store, layer):
        for row in pq.read_table(f, columns=cols).to_pylist():
            h = hashlib.blake2b(_canon([row[c] for c in cols]).encode(), digest_size=8)
            total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
            rows += 1
    return rows, f"{total:016x}"


def summarize_layers(store, layers: list[str]) -> dict[str, list]:
    return {name: list(layer_summary(store, name)) for name in layers}


def load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as f:
        return json.load(f)


def pin_key(workload: str, input_seed: int, smoke: bool) -> str:
    return f"{workload}{'-smoke' if smoke else ''}/{input_seed}"


def compare_to_pins(summary: dict, pinned: dict | None) -> list[str]:
    """Mismatch messages; an empty list means every layer matched."""
    if pinned is None:
        return ["no pinned outputs for this workload and seed"]
    errs = []
    for name in sorted(set(summary) | set(pinned)):
        if summary.get(name) != pinned.get(name):
            errs.append(f"layer {name}: got {summary.get(name)}, pinned {pinned.get(name)}")
    return errs


def sqlite_rows(path: str, layer: str) -> int:
    con = sqlite3.connect(path)
    try:
        return con.execute(f'SELECT COUNT(*) FROM "osmi_addresses_{layer}"').fetchone()[0]
    finally:
        con.close()


def expected_tile_counts(store, requests: list[tuple]) -> list[int]:
    """Full-scan DuckDB count of each request's bbox, with the selection
    rule of io.window (inclusive bounds; a line row counts when its
    vertex bbox intersects the window)."""
    con = duckdb.connect()
    try:
        for layer in sorted({r[0] for r in requests}):
            files = _layer_files(store, layer)
            src = f"read_parquet({files!r})"
            if pa.types.is_struct(pq.read_schema(files[0]).field("geom").type):
                con.execute(
                    f'CREATE TABLE "{layer}" AS SELECT geom.lon AS w, geom.lon AS e, '
                    f"geom.lat AS s, geom.lat AS n FROM {src}")
            else:
                con.execute(
                    f'CREATE TABLE "{layer}" AS SELECT '
                    "list_min(list_transform(geom, p -> p.lon)) AS w, "
                    "list_max(list_transform(geom, p -> p.lon)) AS e, "
                    "list_min(list_transform(geom, p -> p.lat)) AS s, "
                    f"list_max(list_transform(geom, p -> p.lat)) AS n FROM {src}")
        out = []
        for layer, z, x, y in requests:
            west, south, east, north = tile_bounds(z, x, y)
            out.append(con.execute(
                f'SELECT COUNT(*) FROM "{layer}" WHERE w <= ? AND e >= ? AND s <= ? AND n >= ?',
                [east, west, north, south]).fetchone()[0])
        return out
    finally:
        con.close()
