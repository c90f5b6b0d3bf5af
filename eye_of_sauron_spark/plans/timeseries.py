"""Time-series densification: per-key gap filling and forward fill.

The events table is sparse per user (hours with no activity simply
have no rows); every monitoring/feature pipeline needs the DENSE
per-(user, hour) series — zeros for missing counts, last-observation-
carried-forward for level metrics. The reference's analog is the
viewer re-rendering the LAST received frame while a camera is silent
(web/views.py:200-236) — forward fill is that contract over time
buckets.

Scale notes: the hourly pre-aggregate is one combine-first shuffle on
(user, hour); the spine is generated per user from its own (min, max)
hour — a narrow sequence/explode, no join against a global calendar
table — and the fill is one window over the user's own partition.
Total exchanges: the (user, hour) aggregate + one (user) window
partitioning; spine rows never exceed users x span-hours, and a
pathological multi-year key fans out as plain rows, not memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.money import cents_duck, cents_spark
from ..sources import load_table
from .registry import query


@query(
    "timeseries_gap_fill",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               count(*) AS n,
               CAST(sum({cents_duck('value')}) AS BIGINT) AS cents
        FROM events GROUP BY user_id, h
    ),
    span AS (
        SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                    AS TIMESTAMP) AS h
        FROM span
    ),
    joined AS (
        SELECT s.user_id, s.h,
               coalesce(hh.n, 0) AS n_events, hh.cents
        FROM spine s
        LEFT JOIN hourly hh ON hh.user_id = s.user_id AND hh.h = s.h
    )
    SELECT user_id, h, CAST(n_events AS BIGINT) AS n_events,
           CAST(last_value(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS ff_cents
    FROM joined
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-(user, hour) activity series: every hour from each
    user's first to last event exists exactly once — silent hours get
    n_events = 0 and the last observed hourly cents total carried
    forward (LOCF). The densification every rolling-feature or
    monitoring pipeline runs before windowed math, with the spine
    generated per key from its own span (``sequence(min, max, 1h)``
    exploded) rather than joined against a calendar table, and the
    fill as one ``last(ignorenulls)`` window per user. Money stays in
    integer cents (shared helper) so the fill hashes exactly."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(cents_spark(F.col("value"))).cast("bigint").alias("cents"),
        )
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "h",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.last("cents", ignorenulls=True).over(w).cast("bigint").alias("ff_cents"),
    )


@query(
    "timeseries_ohlc_resample",
    oracle=f"""
    SELECT event_type,
           date_trunc('hour', ts) AS h,
           first({cents_duck('value')} ORDER BY ts, event_id) AS open_c,
           max({cents_duck('value')}) AS high_c,
           min({cents_duck('value')}) AS low_c,
           last({cents_duck('value')} ORDER BY ts, event_id) AS close_c,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum({cents_duck('value')}) AS BIGINT) AS vol_c
    FROM events
    GROUP BY event_type, h
    """,
)
def timeseries_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the candle every monitoring/market pipeline
    renders: per (event_type, hour), the first/max/min/last value in
    integer cents plus tick count and volume. Open/close use
    ``min_by``/``max_by`` on the total (ts, event_id) ordering so ties
    are deterministic. One partial-agg shuffle on the composite key;
    at 100 TB the hour column is derived in the scan and the combine
    happens map-side — the canonical time-bucket rollup shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        cents_spark(F.col("value")).alias("v_c"),
        "ts",
        "event_id",
    )
    ordkey = F.struct("ts", "event_id")
    return ev.groupBy("event_type", "h").agg(
        F.min_by("v_c", ordkey).alias("open_c"),
        F.max("v_c").alias("high_c"),
        F.min("v_c").alias("low_c"),
        F.max_by("v_c", ordkey).alias("close_c"),
        F.count("*").cast("bigint").alias("n_ticks"),
        F.sum("v_c").cast("bigint").alias("vol_c"),
    )


@query(
    "event_sequence_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    """,
)
def event_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the frequency of every ordered
    event-type trigram within a user's clickstream (lead/lead over the
    per-user (ts, event_id) ordering, then a global count). The
    sessionless cousin of the funnel — it asks WHICH paths are common
    instead of measuring a fixed one. One (user) window exchange +
    one map-combined count on a key space bounded by |types|^3, so the
    second shuffle is tiny regardless of row count."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
