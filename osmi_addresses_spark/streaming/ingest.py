"""Structured Streaming over event streams (SURVEY.md §2.7).

The reference is a batch tool; the streaming surface here is
`stream_interval_join`, a watermarked stream-stream interval join whose
join state Spark expires by event time (the driver gate drains it in one
AvailableNow batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    clicks: DataFrame, views: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream interval join: every (click, view) pair of
    the same user with view_ts in [click_ts - horizon, click_ts].

    Both sides carry a watermark equal to the horizon and the join
    condition bounds event time in BOTH directions, so Spark can expire
    join state: a buffered view older than (max click watermark - horizon)
    can never match a future click and is dropped — state is
    horizon-bounded, not unbounded, which is what makes this run forever
    on an infinite stream. A view arriving in one micro-batch joins
    clicks arriving in later batches (and vice versa) through that state —
    see tests/test_streaming_media_dedup.py for the cross-batch proof.
    The flip side of bounded state: an input row arriving LATER than its
    side's watermark allows (older than max-seen event time - horizon) is
    dropped before the join, so emission equals the batch range join only
    for data at most `horizon` out of order — the standard stream-stream
    contract. (The driver-gate run drains everything in one availableNow
    batch, where the watermark is still at epoch and nothing can be late.)
    Outer variants would additionally need the watermark to close rows.
    """
    # Watermarks require TIMESTAMP (instant) columns — an NTZ input is
    # interpreted in the session timezone by this cast, so callers feeding
    # wall-clock NTZ data should pin spark.sql.session.timeZone (a DST
    # boundary inside the horizon would otherwise shift the bound).
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    ).withWatermark("c_ts", horizon)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_uid"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    ).withWatermark("v_ts", horizon)
    joined = c.join(
        v,
        (F.col("c_uid") == F.col("v_uid"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.expr(f"c_ts - INTERVAL {horizon}")),
        "inner",
    )
    return joined.select(
        F.col("click_id"),
        F.col("c_uid").alias("user_id"),
        F.col("view_id"),
        F.expr("timestampdiff(MICROSECOND, v_ts, c_ts)").alias("lag_us"),
    )
