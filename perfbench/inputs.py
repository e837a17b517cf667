"""Seeded inputs for the two workloads, generated into the run's own work
directory with the program's fixture generator."""

from __future__ import annotations

import math
import os
import random
import time

import pyarrow.parquet as pq

from osmi_addresses_spark.fixtures import generator as gen
from osmi_addresses_spark.sources.osm_pbf import write_osm_pbf

# The driver's seed picks one of PIN_MODULUS input variants, so every seed
# has pinned expected outputs (pins.json).
PIN_MODULUS = 8

# (towns, generic address nodes per town). city uses the generator's own
# density; region_pbf is way-dense and address-sparse.
SIZES = {
    "city": (3, 1200),
    "region_pbf": (40, 20),
}
SMOKE_SIZES = {"city": (2, 50), "region_pbf": (4, 5)}

# Layers the tile client reads: three POINT and three LINESTRING layers.
TILE_LAYERS = [
    "nodes_with_addresses", "connection_line", "nearest_points",
    "nearest_roads", "entrances", "interpolation",
]
TILE_ZOOM = 16


def input_seed(seed: int) -> int:
    return seed % PIN_MODULUS


def generate(workload: str, seed: int, work: str, smoke: bool = False) -> dict:
    """Write the workload's input under ``work``; returns where it is, its
    size and how long generation took."""
    towns, per_town = (SMOKE_SIZES if smoke else SIZES)[workload]
    t0 = time.perf_counter()
    world = gen.generate_world_chunk(
        range(towns), towns, input_seed(seed), with_far=True, n_mass_per_town=per_town
    )
    out = {"workload": workload, "towns": towns, "nodes": len(world.nodes),
           "ways": len(world.ways)}
    if workload == "city":
        src = os.path.join(work, "city")
        docs = os.path.join(src, "documents.parquet")
        os.makedirs(docs)
        pq.write_table(
            gen.world_to_documents(world), os.path.join(docs, "part-000000.parquet"),
            row_group_size=16384,
        )
        out["source"] = src
    else:
        os.makedirs(os.path.join(work, "region"))
        out["source"] = write_osm_pbf(
            os.path.join(work, "region", "region.osm.pbf"), world.nodes, world.ways
        )
    out["gen_s"] = time.perf_counter() - t0
    out["tiles"] = tile_requests(towns, seed)
    return out


def _tile_xy(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    y = int((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    return x, y


def tile_requests(towns: int, seed: int, n: int = 120) -> list[tuple]:
    """Seeded (layer, z, x, y) requests: most fall inside a random town,
    some anywhere in the world's extent (mostly empty tiles)."""
    rng = random.Random(seed)
    g = max(1, int(math.ceil(math.sqrt(towns))))
    out = []
    for i in range(n):
        if rng.random() < 0.85:
            t = rng.randrange(towns)
            lon = gen.LON0 + gen.PITCH_LON * (t % g) + rng.random() * gen.TOWN_W
            lat = gen.LAT0 + gen.PITCH_LAT * (t // g) + rng.random() * gen.TOWN_H
        else:
            lon = gen.LON0 + rng.random() * gen.PITCH_LON * g
            lat = gen.LAT0 + rng.random() * gen.PITCH_LAT * g
        x, y = _tile_xy(lon, lat, TILE_ZOOM)
        out.append((TILE_LAYERS[i % len(TILE_LAYERS)], TILE_ZOOM, x, y))
    return out
