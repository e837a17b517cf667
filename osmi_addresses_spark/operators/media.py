"""Multimodal columns: media spans as opaque references with typed metadata.

No image or audio codec is available, so a media_ref "decodes" to a
deterministic synthetic buffer: the md5 chain of the ref, 64 grayscale
pixels. The decode, the perceptual average-hash (`media_phash_col`) and the
box-filter resize (`media_resize_col`) are pure Column expressions built on
one shared decode (`_pixels_col`), so they run JVM-side and the DuckDB
oracle reproduces them bit for bit (driver queries `media_phash_dedup`,
`media_resize`, `frame_sample`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PIXELS = 64


def media_spans(entities: DataFrame) -> DataFrame:
    """entities → one row per media span (doc_id, media_ref, caption)."""
    media = F.filter(F.col("noise"), lambda s: s["kind"] == "media")
    return (
        entities.filter(F.size(media) > 0)
        .select("doc_id", F.explode(media).alias("m"))
        .select(
            "doc_id",
            F.col("m")["media_ref"].alias("media_ref"),
            F.col("m")["text"].alias("caption"),
        )
    )


def _pixels_col(ref_col) -> "F.Column":
    """The synthetic-codec decode as a Column expression: md5-chain hex →
    array of PIXELS ints (each md5 hashes the previous hex digest). The one
    definition of the codec: media_phash_col and media_resize_col both
    build on it, so the chain (and PIXELS) cannot drift between them."""
    h = F.md5(F.encode(ref_col, "utf-8"))
    hexbuf = h
    for _ in range(PIXELS // 16 - 1):
        h = F.md5(F.encode(h, "utf-8"))
        hexbuf = F.concat(hexbuf, h)
    return F.transform(
        F.sequence(F.lit(0), F.lit(PIXELS - 1)),
        lambda j: F.conv(hexbuf.substr(j * 2 + 1, F.lit(2)), 16, 10).cast("int"),
    )


def media_resize_col(ref_col, dst: int = 4) -> "F.Column":
    """The synthetic-codec decode + box-filter resize as a pure Column
    expression: the 8×8 md5-chain buffer downsampled to dst×dst by
    integer floor-mean, returned as a 2·dst² hex string (engine-agnostic).
    Bit-identical to the DuckDB oracle."""
    side = 8
    if side % dst:
        raise ValueError(f"non-integer scale: 8 -> {dst}")
    k = side // dst
    px = _pixels_col(ref_col)
    box = F.transform(
        F.sequence(F.lit(0), F.lit(dst * dst - 1)),
        lambda i: F.aggregate(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda r: F.transform(
                        F.sequence(F.lit(0), F.lit(k - 1)),
                        lambda c: F.element_at(
                            px,
                            ((i / dst).cast("int") * k + r) * side
                            + (i % dst) * k
                            + c
                            + 1,
                        ),
                    ),
                )
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )
    return F.array_join(
        F.transform(
            box,
            lambda s: F.lpad(
                F.lower(F.hex(F.floor(s / (k * k)).cast("int"))), 2, "0"
            ),
        ),
        "",
    )


def media_phash_col(ref_col) -> "F.Column":
    """The decode + average-hash as a pure Column expression (JVM md5 chain
    via the shared _pixels_col): bit j = pixel j > mean, compared as
    p·PIXELS > total so it stays integer-exact. Returned as a 64-char
    '0'/'1' string; bit-identical to the DuckDB oracle."""
    pixels = _pixels_col(ref_col)
    total = F.aggregate(pixels, F.lit(0), lambda acc, x: acc + x)
    return F.array_join(
        F.transform(
            pixels, lambda p: F.when(p * PIXELS > total, "1").otherwise("0")
        ),
        "",
    )
