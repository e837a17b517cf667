"""Point-in-polygon assignment (north-rule: address nodes → place/boundary
polygons; S2-style cell covering + ray casting).

Candidate generation is the same grid-covering equi-join as the street match
(functions/cells.py — our S2/H3 stand-in); the exact test is even-odd ray
casting in `pip_expr`, a pure Column expression (zip_with over the ring
edges, then crossing parity) that runs JVM-side in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_of, covering_cells


def pip_expr(ring, plon, plat):
    """Even-odd crossing parity of a closed ring (array<struct<lon,lat>>)."""
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)
    crossings = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda p, q: F.when(
                ((p["lat"] > plat) != (q["lat"] > plat))
                & (plon < (q["lon"] - p["lon"]) * (plat - p["lat"]) / (q["lat"] - p["lat"]) + p["lon"]),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return crossings % 2 == 1


def assign_points_to_polygons(
    points: DataFrame, polygons: DataFrame, point_cols=("pkey", "lon", "lat"),
) -> DataFrame:
    """points(pkey, lon, lat) × polygons(poly_id, ring) → (point cols, poly_id).

    A point inside k overlapping polygons yields k rows. The polygon side
    registers every covering cell of its bbox (zero pad — containment, not
    proximity); the point side joins on its single cell.
    """
    pk, plon, plat = point_cols
    bbox_w = F.aggregate(F.col("ring"), F.lit(1e308), lambda a, c: F.least(a, c["lon"]))
    bbox_e = F.aggregate(F.col("ring"), F.lit(-1e308), lambda a, c: F.greatest(a, c["lon"]))
    bbox_s = F.aggregate(F.col("ring"), F.lit(1e308), lambda a, c: F.least(a, c["lat"]))
    bbox_n = F.aggregate(F.col("ring"), F.lit(-1e308), lambda a, c: F.greatest(a, c["lat"]))
    polys = polygons.withColumn(
        "cell", F.explode(covering_cells(bbox_w, bbox_e, bbox_s, bbox_n, 0.0))
    )
    pts = points.withColumn("cell", cell_of(F.col(plon), F.col(plat)))
    cand = pts.join(polys, "cell").drop("cell")
    return cand.filter(pip_expr(F.col("ring"), F.col(plon), F.col(plat))).drop("ring")

