"""Pure-numpy geometry kernels (no shapely/GDAL available — SURVEY.md §7).

Each kernel replicates one reference primitive bit-for-bit where the value is
output-visible. Citations are file:line in /root/reference.
"""

from __future__ import annotations

import math

import numpy as np

R_MERC = 6378137.0  # WGS84 semi-major axis used by EPSG:3857
INT16_MAX = 32767


# ---------------------------------------------------------------- mercator
def wgs2mercator(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """CRS84 → EPSG:3857 (osmi/GeometryHelper.hpp:15-61, closed form)."""
    x = R_MERC * np.radians(lon)
    y = R_MERC * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def mercator2wgs(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = np.degrees(x / R_MERC)
    lat = np.degrees(2 * np.arctan(np.exp(y / R_MERC)) - np.pi / 2)
    return lon, lat


# ---------------------------------------------------------------- centroid
def ring_centroid(lon: np.ndarray, lat: np.ndarray) -> tuple[float, float]:
    """Area-weighted polygon centroid of a closed ring
    (osmi/GeometryHelper.hpp:31-41 → OGR/GEOS Centroid; shoelace formula).

    Accepts the ring with or without the repeated closing vertex.
    Degenerate zero-area rings fall back to the length-weighted midpoint
    (GEOS behavior for collapsed polygons).
    """
    if lon[0] != lon[-1] or lat[0] != lat[-1]:
        lon = np.append(lon, lon[0])
        lat = np.append(lat, lat[0])
    # sequential left-to-right folds, matching the Spark Column aggregate
    # (numpy .sum() is pairwise and would differ in final ULPs).
    # Coordinates are translated to the first vertex before the shoelace —
    # the raw formula cancels catastrophically on small-but-far-from-origin
    # rings (a ~1 m ring at lat 47° came out ~940 m south); GEOS (which the
    # reference calls through OGR Centroid) uses the same local-origin trick.
    xr, yr = float(lon[0]), float(lat[0])
    a2 = cx = cy = tot = wx = wy = 0.0
    for i in range(len(lon) - 1):
        x0, y0 = float(lon[i]) - xr, float(lat[i]) - yr
        x1, y1 = float(lon[i + 1]) - xr, float(lat[i + 1]) - yr
        cross = x0 * y1 - x1 * y0
        a2 += cross
        cx += (x0 + x1) * cross
        cy += (y0 + y1) * cross
        seg = math.sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
        tot += seg
        wx += (x0 + x1) / 2.0 * seg
        wy += (y0 + y1) / 2.0 * seg
    if a2 != 0.0:
        return xr + cx / (3.0 * a2), yr + cy / (3.0 * a2)
    if tot != 0.0:
        return xr + wx / tot, yr + wy / tot
    return float(lon[0]), float(lat[0])


# ------------------------------------------------------ int16 bbox (G11/G12)
def lat2int16(lat: float, increment: bool) -> int:
    v = lat * INT16_MAX / 90.0  # osmi/GeometryHelper.hpp:96-103
    return int(math.ceil(v)) if increment else int(math.floor(v))


def lon2int16(lon: float, increment: bool) -> int:
    v = lon * INT16_MAX / 180.0
    return int(math.ceil(v)) if increment else int(math.floor(v))


def int162lat(v: int) -> float:
    return np.float32(np.float32(v) * np.float32(90) / np.float32(INT16_MAX))


def int162lon(v: int) -> float:
    return np.float32(np.float32(v) * np.float32(180) / np.float32(INT16_MAX))


def is_point_near_bbox(
    bbox_n: int, bbox_e: int, bbox_s: int, bbox_w: int, lon: float, lat: float, tol: float
) -> bool:
    """osmi/GeometryHelper.hpp:127-152, mirroring the C++ type promotions:

    point coords and dequantized bbox edges are float32; the latitude
    comparisons stay in float32 (`n + tolerance` is float+float); the
    longitude comparisons promote to double because `tolerance/cos(...)` is
    double (deg2rad<float> computes x*PI/180 via double and truncates back).
    """
    latf = np.float32(lat)
    lonf = np.float32(lon)
    n = int162lat(bbox_n)
    e = int162lon(bbox_e)
    s = int162lat(bbox_s)
    w = int162lon(bbox_w)
    tolf = np.float32(tol)
    rad = np.float32(float(latf) * math.pi / 180.0)
    c = math.cos(float(rad))
    return bool(
        latf < np.float32(n + tolf)
        and latf > np.float32(s - tolf)
        and float(lonf) < float(e) + float(tolf) / c
        and float(lonf) > float(w) - float(tolf) / c
    )


# ------------------------------------------------- vertex distance & refine
def min_segment_dist(lons: np.ndarray, lats: np.ndarray, plon: float, plat: float) -> float:
    """GEOS point-to-linestring distance in degree space — the way-selection
    metric (OGRLineString::Distance → GEOS distancePointLine,
    osmi/ConnectionLinePreprocessor.hpp:266). Left-to-right scan with the
    identical per-segment formula as geom_sql.min_segment_dist (bit parity
    with the Spark Column and the DuckDB oracle)."""
    best = 1e308
    for i in range(len(lons) - 1):
        ax, ay, bx, by = float(lons[i]), float(lats[i]), float(lons[i + 1]), float(lats[i + 1])
        len2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
        if len2 == 0.0:
            d = math.sqrt((plon - ax) * (plon - ax) + (plat - ay) * (plat - ay))
        else:
            r = ((plon - ax) * (bx - ax) + (plat - ay) * (by - ay)) / len2
            if r <= 0.0:
                d = math.sqrt((plon - ax) * (plon - ax) + (plat - ay) * (plat - ay))
            elif r >= 1.0:
                d = math.sqrt((plon - bx) * (plon - bx) + (plat - by) * (plat - by))
            else:
                s = ((ay - plat) * (bx - ax) - (ax - plon) * (by - ay)) / len2
                d = abs(s) * math.sqrt(len2)
        if d < best:
            best = d
    return best


def refine_foot_points_batch(
    flat_lons: np.ndarray,
    flat_lats: np.ndarray,
    offsets: np.ndarray,  # len = n_rows + 1, row i owns [offsets[i], offsets[i+1])
    plon: np.ndarray,
    plat: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized reference refine pipeline for a batch of matched
    (addr, way) pairs (osmi/ConnectionLinePreprocessor.hpp:147-154):

    wgs→mercator both geometries; closest *vertex* (first minimal — the
    strict-'<' scan at :283-306); closest point on the ≤2 adjacent segments
    only (NOT the true foot point, :309-338); mercator→wgs.

    Degenerate zero-length adjacent segments return the segment's b endpoint
    (GDAL Value(NaN) walks past every segment and yields the last point).
    """
    n_rows = len(plon)
    lengths = np.diff(offsets)
    xs, ys = wgs2mercator(flat_lons, flat_lats)
    px, py = wgs2mercator(plon, plat)
    px_r = np.repeat(px, lengths)
    py_r = np.repeat(py, lengths)
    d = np.hypot(xs - px_r, ys - py_r)
    starts = offsets[:-1]
    dmin = np.minimum.reduceat(d, starts)
    # first index achieving the min per row (== strict-'<' scan order)
    idx_all = np.arange(len(d), dtype=np.int64)
    masked = np.where(d == np.repeat(dmin, lengths), idx_all, np.iinfo(np.int64).max)
    i = np.minimum.reduceat(masked, starts)  # global flat index of closest vertex

    cx, cy = xs[i], ys[i]
    local = i - starts

    def seg_closest(bx, by):
        # closest point on segment (closest vertex) -> neighbor, clamped
        ax, ay = cx, cy
        denom = (bx - ax) ** 2 + (by - ay) ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            r = ((px - ax) * (bx - ax) + (py - ay) * (by - ay)) / denom
        ox = np.where(r < 0, ax, np.where(r > 1, bx, ax + r * (bx - ax)))
        oy = np.where(r < 0, ay, np.where(r > 1, by, ay + r * (by - ay)))
        # degenerate segment (denom==0): GDAL Value(NaN) yields endpoint b
        ox = np.where(denom == 0, bx, ox)
        oy = np.where(denom == 0, by, oy)
        return ox, oy

    has_prev = local > 0
    has_next = local < (lengths - 1)
    prev_i = np.where(has_prev, i - 1, i)
    next_i = np.where(has_next, i + 1, i)

    bx, by = cx.copy(), cy.copy()
    lx, ly = seg_closest(xs[prev_i], ys[prev_i])
    # the left-segment result is taken unconditionally when it exists (:324-329)
    bx = np.where(has_prev, lx, bx)
    by = np.where(has_prev, ly, by)
    rx, ry = seg_closest(xs[next_i], ys[next_i])
    closer = np.hypot(px - rx, py - ry) < np.hypot(px - bx, py - by)
    take_r = has_next & closer
    bx = np.where(take_r, rx, bx)
    by = np.where(take_r, ry, by)

    if n_rows == 0:
        return np.empty(0), np.empty(0)
    return mercator2wgs(bx, by)


def refine_foot_point(
    way_lons: np.ndarray, way_lats: np.ndarray, plon: float, plat: float
) -> tuple[float, float]:
    """Scalar wrapper over the batch kernel (identical float ops)."""
    offsets = np.array([0, len(way_lons)], dtype=np.int64)
    lo, la = refine_foot_points_batch(
        np.asarray(way_lons, dtype=np.float64),
        np.asarray(way_lats, dtype=np.float64),
        offsets,
        np.array([plon]),
        np.array([plat]),
    )
    return float(lo[0]), float(la[0])


# ---------------------------------------------------------- linear reference
def value_along_multi(
    lons: np.ndarray, lats: np.ndarray, dists: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """OGRLineString::Value(dist) for a batch of distances
    (osmi/InterpolationWriter.hpp:193-195): segment-local linear interpolation
    dfRatio = (d - acc)/seglen; p = p0 + ratio*(p1-p0). d<=0 → first vertex;
    past the end → last vertex. Used by both the Spark densify UDF and the
    python oracle, so results are bit-identical."""
    seg = np.hypot(np.diff(lons), np.diff(lats))
    cum_end = np.cumsum(seg)
    # first segment i with d < cum_end[i]  (strict, like GDAL's while loop)
    idx = np.searchsorted(cum_end, dists, side="right")
    past = idx >= len(seg)
    i = np.where(past, 0, idx)
    acc = cum_end[i] - seg[i]
    with np.errstate(divide="ignore", invalid="ignore"):
        f = (dists - acc) / seg[i]
    out_lon = lons[i] + f * (lons[i + 1] - lons[i])
    out_lat = lats[i] + f * (lats[i + 1] - lats[i])
    out_lon = np.where(past, lons[-1], out_lon)
    out_lat = np.where(past, lats[-1], out_lat)
    neg = dists <= 0
    out_lon = np.where(neg, lons[0], out_lon)
    out_lat = np.where(neg, lats[0], out_lat)
    return out_lon, out_lat


def value_along(lons: np.ndarray, lats: np.ndarray, dist: float) -> tuple[float, float]:
    lo, la = value_along_multi(lons, lats, np.array([dist], dtype=np.float64))
    return float(lo[0]), float(la[0])

