"""addr:interpolation — validation cascade + densification
(SURVEY.md §2.3 J7, §2.6 G13-G16; reference osmi/InterpolationWriter.hpp).

The validation chain is a pure Column when-cascade (Catalyst-optimizable);
densification (variable row fan-out with linear referencing) is a
mapInArrow UDF over the *valid* rows only.

Semantics replicated exactly, including:
- atoi prefix parsing + the `len == floor(log10(n))+1` format check
  (rejects junk suffixes AND leading zeros) — osmi/InterpolationWriter.hpp:132-134
- alphabetic handling with its two early errors, which later cascade
  branches may overwrite ("different tags on endpoints" / closed-way)
- the error-precedence chain at :120-160
- densification loop at :161-226 (open interval, ±1/±2 increment,
  mirrored linear referencing for descending ranges)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geom_sql as G
from ..functions.geom_np import value_along_multi

ADDR_KEYS = ["housenumber", "street", "postcode", "city", "country", "full", "place"]
DIFF_KEYS = ["street", "postcode", "city", "country", "full", "place"]  # :151-157


def _endpoint_tags(nodes: DataFrame, prefix: str) -> DataFrame:
    """Project the 7 addr:* endpoint tags (osmi/SecondHandler.hpp:55-64);
    AltTagList.get_value_by_key returns '' for missing keys."""
    cols = [F.col("node_id").alias(f"{prefix}_nid")]
    for k in ADDR_KEYS:
        cols.append(F.coalesce(F.col("tags")[f"addr:{k}"], F.lit("")).alias(f"{prefix}_{k}"))
    return nodes.select(*cols)


def _atoi(raw):
    """C atoi: optional whitespace, optional sign, digit prefix; 0 if none."""
    return F.coalesce(
        F.regexp_extract(raw, r"^\s*([+-]?\d+)", 1).try_cast("long"), F.lit(0)
    )


def interpolation_plan(ways_geo: DataFrame, nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (interpolation layer rows, densified is_ip points).

    ways_geo must be pre-filtered to pass-2 eligibility (nonzero length,
    resolvable coords).
    """
    ip = ways_geo.filter(F.col("tags")["addr:interpolation"].isNotNull()).select(
        "way_id",
        "coords",
        "lastchange",
        F.col("tags")["addr:interpolation"].alias("typ"),
        F.element_at("refs", 1).alias("first_ref"),
        F.element_at("refs", -1).alias("last_ref"),
        (F.element_at("refs", 1) == F.element_at("refs", -1)).alias("is_closed_way"),
    )
    # addr_interpolation_node_set analog (osmi/main.cpp:59): prune the node
    # table to endpoint ids before the tag joins — the endpoint set is tiny
    # relative to all nodes (two ids per interpolation way)
    ep_ids = (
        ip.select(F.col("first_ref").alias("node_id"))
        .unionByName(ip.select(F.col("last_ref").alias("node_id")))
        .distinct()
    )
    ep_nodes = nodes.join(F.broadcast(ep_ids), "node_id", "left_semi")
    ip = ip.join(_endpoint_tags(ep_nodes, "f"), ip["first_ref"] == F.col("f_nid"), "left").drop("f_nid")
    ip = ip.join(_endpoint_tags(ep_nodes, "l"), ip["last_ref"] == F.col("l_nid"), "left").drop("l_nid")
    # endpoints are always resolvable here (coords non-null ⇒ all refs exist),
    # but keep the '' default of AltTagList for tag-less endpoint nodes
    for p in ("f", "l"):
        for k in ADDR_KEYS:
            ip = ip.withColumn(f"{p}_{k}", F.coalesce(F.col(f"{p}_{k}"), F.lit("")))

    first_raw = F.col("f_housenumber")
    last_raw = F.col("l_housenumber")
    atoi_f = _atoi(first_raw)
    atoi_l = _atoi(last_raw)

    # ---- alphabetic pre-block (:93-118) ----
    def second_last_nonalpha(raw):
        return (F.length(raw) >= 2) & ~raw.substr(F.length(raw) - 1, F.lit(1)).rlike("[A-Za-z]")

    def last_alpha(raw):
        return raw.substr(F.length(raw), F.lit(1)).rlike("[A-Za-z]")

    alpha_block = (
        (F.col("typ") == "alphabetic")
        & second_last_nonalpha(first_raw)
        & second_last_nonalpha(last_raw)
    )
    both_alpha = last_alpha(first_raw) & last_alpha(last_raw)
    first_numeric = first_raw.substr(F.lit(1), F.length(first_raw) - 1)
    last_numeric = last_raw.substr(F.lit(1), F.length(last_raw) - 1)
    is_alpha_correct = alpha_block & both_alpha & (first_numeric == last_numeric)
    alpha_err = (
        F.when(alpha_block & ~both_alpha, "no alphabetic part in addr:housenumber")
        .when(
            alpha_block & both_alpha & (first_numeric != last_numeric),
            "numeric parts of housenumbers not identical",
        )
    )
    first_v = F.when(is_alpha_correct, F.ascii(first_raw.substr(F.length(first_raw), F.lit(1)))).otherwise(atoi_f).cast("long")
    last_v = F.when(is_alpha_correct, F.ascii(last_raw.substr(F.length(last_raw), F.lit(1)))).otherwise(atoi_l).cast("long")
    absdiff = F.abs(first_v - last_v)

    def bad_digits(raw, v):
        # len != floor(log10(n))+1 — evaluated only for n>0 (ANSI-safe)
        return F.when(v > 0, F.length(raw) != (F.floor(F.log10(v.cast("double"))) + 1)).otherwise(
            F.lit(True)
        )

    wrong_format = (
        (first_v <= 0) | (last_v <= 0) | bad_digits(first_raw, first_v) | bad_digits(last_raw, last_v)
    )
    different_tags = None
    for k in DIFF_KEYS:
        c = F.col(f"f_{k}") != F.col(f"l_{k}")
        different_tags = c if different_tags is None else (different_tags | c)

    known = F.col("typ").isin("all", "even", "odd", "alphabetic")
    err = (
        F.when(~known, "unknown interpolation type")
        .when((F.col("typ") != "alphabetic") & wrong_format, "endpoint has wrong format")
        .when(absdiff > 1000, "range too large")
        .when(
            (F.col("typ").isin("even", "odd") & (absdiff == 2))
            | ((F.col("typ") == "all") & (absdiff == 1)),
            "needless interpolation",
        )
        .when((F.col("typ") == "even") & ((first_v % 2 == 1) | (last_v % 2 == 1)), "interpolation even but number odd")
        .when((F.col("typ") == "odd") & ((first_v % 2 == 0) | (last_v % 2 == 0)), "interpolation odd but number even")
        .when(different_tags, "different tags on endpoints")
        .when(F.col("is_closed_way"), "interpolation is a closed way")
        .otherwise(alpha_err)
    )

    # densify = no error ∧ (all|even|odd ∨ alphabetic-correct) (:161-165)
    ip = ip.withColumn("error", err).withColumn(
        "densify",
        F.col("error").isNull()
        & (F.col("typ").isin("all", "even", "odd") | is_alpha_correct),
    )
    ip = (
        ip.withColumn("first_v", first_v)
        .withColumn("last_v", last_v)
        .withColumn("first_numeric", F.when(is_alpha_correct, first_numeric).otherwise(F.lit("")))
    )
    # persisted through the pipeline's tracker (call-time import: the
    # pipeline module imports this one), so track_persists callers release it
    from ..plans.pipeline import _persist

    ip = _persist(ip)

    layer = ip.select(
        G.fmt_id(F.col("way_id")).alias("way_id"),
        F.col("typ").alias("typename"),
        G.fmt_id(F.col("first_ref")).alias("firstid"),
        G.fmt_id(F.col("last_ref")).alias("lastid"),
        F.when(first_raw != "", first_raw).alias("firstno"),
        F.when(last_raw != "", last_raw).alias("lastno"),
        "error",
        "lastchange",
        F.col("coords").alias("geom"),
    )

    dense_in = ip.filter(F.col("densify")).select(
        "way_id", "coords", "typ", "first_v", "last_v", "first_numeric",
        "f_street", "f_postcode", "f_city", "f_country", "f_full", "f_place",
    )
    points = _densify(dense_in)
    return layer, points


_IP_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType()),
        T.StructField("k", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("houseno", T.StringType()),
        T.StructField("street", T.StringType()),
        T.StructField("postcode", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("fulladdr", T.StringType()),
        T.StructField("place", T.StringType()),
    ]
)


def _densify_batch(batch: pa.RecordBatch) -> pa.RecordBatch | None:
    """Fully vectorized densification of one Arrow batch.

    Float semantics are bit-identical to the per-way reference kernel
    (value_along_multi): per-way cumulative segment lengths come from a
    row-wise np.cumsum over a (ways × max_seg) padded matrix — sequential
    left-to-right accumulation per way, never crossing way boundaries — and
    every per-point expression applies the same elementwise operations as
    the scalar code path. (The earlier per-row python loop was the match
    pipeline's dominant straggler: ~18 s CPU per 70 KB task at sf10.)"""
    n = batch.num_rows
    coords_col = batch.column("coords")
    if isinstance(coords_col, pa.ChunkedArray):
        coords_col = coords_col.combine_chunks()
    offs = coords_col.offsets.to_numpy().astype(np.int64)
    base = offs[0]
    lons_all = np.asarray(coords_col.values.field("lon"), dtype=np.float64)
    lats_all = np.asarray(coords_col.values.field("lat"), dtype=np.float64)
    offs = offs - base

    first = np.asarray(batch.column("first_v"), dtype=np.int64)
    last = np.asarray(batch.column("last_v"), dtype=np.int64)
    typ = batch.column("typ")
    is_alpha = pa.compute.equal(typ, "alphabetic").to_numpy(zero_copy_only=False)
    is_step2 = pa.compute.is_in(
        typ, value_set=pa.array(["even", "odd"])
    ).to_numpy(zero_copy_only=False)
    inc = np.where(is_step2, 2, 1).astype(np.int64)

    # point counts per way: len(arange(first±inc, last, ±inc))
    span = np.abs(last - first)
    counts = np.where(span > 0, (span - 1) // inc, 0)

    # ---- per-way padded segment matrix (small: interp ways are short) ----
    nseg = np.maximum(offs[1:] - offs[:-1] - 1, 0)
    max_seg = int(nseg.max()) if n else 0
    if max_seg == 0 or int(counts.sum()) == 0:
        return None
    seg_all = np.hypot(np.diff(lons_all), np.diff(lats_all))
    # column index grid; entries beyond a way's segments → +inf pad
    col = np.arange(max_seg)
    seg_idx = offs[:-1, None] + col[None, :]
    valid = col[None, :] < nseg[:, None]
    seg_mat = np.where(valid, seg_all[np.minimum(seg_idx, len(seg_all) - 1)], 0.0)
    cum_mat = np.cumsum(seg_mat, axis=1)  # sequential per row == GDAL fold
    length = cum_mat[np.arange(n), np.maximum(nseg - 1, 0)]
    cum_pad = np.where(valid, cum_mat, np.inf)

    # ---- expand to point level ----
    w = np.repeat(np.arange(n, dtype=np.int64), counts)  # way index per point
    P = len(w)
    k = np.arange(P, dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
    )
    asc = (first < last)[w]
    nr = np.where(asc, first[w] + (k + 1) * inc[w], first[w] - (k + 1) * inc[w])
    lower = np.minimum(first, last)[w]
    frac = 1.0 / np.abs(last - first).astype(np.float64)[w]
    d_asc = (nr - lower).astype(np.float64) * frac * length[w]
    d_desc = (1.0 - ((nr - lower).astype(np.float64) * frac)) * length[w]
    dists = np.where(asc, d_asc, d_desc)

    # ---- value_along_multi, gathered per point ----
    # searchsorted(cum_end, d, side='right') == count of cum_end <= d.
    # Chunked so the transient (chunk × max_seg) gather matrix stays ≤ ~32 MB
    # even when one long way meets a dense housenumber range in the same
    # batch (the full P × max_seg broadcast was the worst-case memory blowup).
    idx = np.empty(P, dtype=np.int64)
    chunk = max(1, (4 << 20) // max(max_seg, 1))
    for s in range(0, P, chunk):
        e = min(s + chunk, P)
        idx[s:e] = (cum_pad[w[s:e]] <= dists[s:e, None]).sum(axis=1)
    past = idx >= nseg[w]
    i = np.where(past, 0, idx)
    gseg = offs[w] + i  # global segment index (vertex index of segment start)
    acc = cum_mat[w, i] - seg_mat[w, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        f = (dists - acc) / seg_mat[w, i]
    out_lon = lons_all[gseg] + f * (lons_all[gseg + 1] - lons_all[gseg])
    out_lat = lats_all[gseg] + f * (lats_all[gseg + 1] - lats_all[gseg])
    last_v = offs[w + 1] - 1
    out_lon = np.where(past, lons_all[last_v], out_lon)
    out_lat = np.where(past, lats_all[last_v], out_lat)
    neg = dists <= 0
    out_lon = np.where(neg, lons_all[offs[w]], out_lon)
    out_lat = np.where(neg, lats_all[offs[w]], out_lat)

    # ---- columns: numeric housenos via Arrow cast; alphabetic (rare) in py
    houseno = pa.compute.cast(pa.array(nr), pa.string())
    alpha_pts = is_alpha[w]
    if alpha_pts.any():
        fn = batch.column("first_numeric").to_pylist()
        hn = houseno.to_pylist()
        for p in np.nonzero(alpha_pts)[0]:
            hn[p] = fn[w[p]] + chr(int(nr[p]))
        houseno = pa.array(hn, pa.string())

    take = pa.array(w)
    cols = [
        pa.compute.take(batch.column("way_id"), take),
        pa.array(k, pa.int64()),
        pa.array(out_lon, pa.float64()),
        pa.array(out_lat, pa.float64()),
        houseno,
        pa.compute.take(batch.column("f_street"), take),
        pa.compute.take(batch.column("f_postcode"), take),
        pa.compute.take(batch.column("f_city"), take),
        pa.compute.take(batch.column("f_country"), take),
        pa.compute.take(batch.column("f_full"), take),
        pa.compute.take(batch.column("f_place"), take),
    ]
    return pa.RecordBatch.from_arrays(cols, names=[f.name for f in _IP_SCHEMA.fields])


def _densify(dense_in: DataFrame) -> DataFrame:
    """osmi/InterpolationWriter.hpp:161-226 — emit one point per interpolated
    house number along the line (linear referencing, mirrored when
    descending)."""

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows:
                out = _densify_batch(batch)
                if out is not None:
                    yield out

    return dense_in.mapInArrow(gen, schema=_IP_SCHEMA)
