"""Stream-stream joins with watermarks.

The reference never joins two live streams — its matcher joins a
stream against one broadcast message (A5/A6) — but pairing its two
Kafka topics (raw frames x predicted frames, src/params.py:9-13,
utils.py:202-203 aligns them by frame_num) is exactly a stream-stream
equi join with a time bound. Rebuilt here on the events shape:
'click' events joined to the same user's 'error' events within the
following hour.

Scale notes: both sides shuffle once on user_id; watermarks bound the
join state on both sides — without them Spark must buffer the streams
forever (the reference's unbounded data_dict leak, utils.py:50,168,
is the cautionary tale). The time-bound condition lets the state
store evict rows older than (watermark - join window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clicks_to_errors_join(
    clicks: DataFrame, errors: DataFrame, how: str, delay: str
) -> DataFrame:
    """Stream-stream join of each click to the same user's errors at
    click.ts <= error.ts < click.ts + 1 h, both sides watermarked by
    ``delay`` on their event-time ``ts``; both inputs must be
    streaming DataFrames.

    ``how="inner"`` emits each pair as it forms. ``how="left_outer"``
    is the semantically hardest streaming operator: matched pairs
    emit as they form, but a click with NO error can only emit its
    NULL-extended row once the watermark proves no future error could
    still match it (i.e. watermark >= click.ts + join window). Until
    then the row sits in state; a query that stops earlier simply
    never emits it. Both behaviors are pinned by the
    stream_left_join_replay oracle, which models the emission rule in
    closed form."""
    c = clicks.withWatermark("ts", delay).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    e = errors.withWatermark("ts", delay).select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    cond = (
        (c.c_user == e.e_user)
        & (e.e_ts >= c.c_ts)
        & (e.e_ts < c.c_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return c.join(e, cond, how).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "error_id",
        F.col("c_ts").alias("click_ts"),
        F.col("e_ts").alias("error_ts"),
    )
