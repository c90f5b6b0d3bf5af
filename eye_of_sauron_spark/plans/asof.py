"""As-of and interval (range) joins over the ``events`` stream table.

The reference's closest analog is aligning original/predicted frame
pairs by frame_num inside one message (src/utils.py:202-203) — a
degenerate as-of with zero tolerance. Generalized here to the real
time-series primitives:

- as-of: for each purchase event, the same user's most recent
  preceding click (DuckDB verifies with a native ASOF JOIN).
- interval: for each error event, the same user's activity in the
  trailing 60 seconds.

Spark has no ASOF JOIN operator; the scalable formulation is the
union-and-carry-forward window: tag both sides, sort per key by time,
and carry the last left-side row forward with ``last(..., ignorenulls)``
— ONE shuffle on the key, no join blow-up, no per-row probe. The
interval join keeps an equi key (user) so it stays a partitioned hash
join with a range predicate, never a broadcast nested loop over the
fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources import load_table
from .registry import query


@query(
    "asof_join_click_before_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           c.event_id AS click_id,
           round(c.value, 2) AS click_value,
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def asof_join_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join without an ASOF operator: union clicks (tag 0) and
    purchases (tag 1), one window per user ordered by (ts, tag), carry
    the latest click forward with last(ignorenulls), keep purchases.

    Equal timestamps resolve click-before-purchase (tag order), which
    matches ASOF's ``c.ts <= p.ts``. One shuffle on user_id total —
    at 100 TB this beats a join-then-max_by (no intermediate
    purchase x click expansion) and is the standard Spark as-of.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        F.col("event_id").alias("c_id"),
        F.col("value").alias("c_value"),
        F.lit(None).cast("bigint").alias("p_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("c_id"),
        F.lit(None).cast("double").alias("c_value"),
        F.col("event_id").alias("p_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "c_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "tag",
        "p_id",
        F.last("c_id", ignorenulls=True).over(w).alias("click_id"),
        F.last("c_value", ignorenulls=True).over(w).alias("click_value"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    return carried.filter(F.col("tag") == 1).select(
        F.col("p_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        "click_id",
        F.round("click_value", 2).alias("click_value"),
        (F.unix_timestamp("ts") - F.unix_timestamp("click_ts"))
        .cast("bigint")
        .alias("gap_sec"),
    )


@query(
    "interval_join_activity_before_error",
    oracle="""
    SELECT e.event_id AS error_id,
           e.user_id,
           count(p.event_id) AS n_prior_60s,
           round(coalesce(sum(p.value), 0), 2) AS prior_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN events p
      ON p.user_id = e.user_id
     AND p.ts >= e.ts - INTERVAL 60 SECOND
     AND p.ts < e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def interval_join_activity_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: per error event, the same user's events
    in the trailing 60 s window. The user_id equi key keeps Catalyst
    on a partitioned join with the time bounds as post-join predicates
    — the range never degenerates to a nested-loop over the corpus."""
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    prior = e.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
    )
    cond = (
        (errors.e_user == prior.p_user)
        & (prior.p_ts >= errors.e_ts - F.expr("INTERVAL 60 SECOND"))
        & (prior.p_ts < errors.e_ts)
    )
    return (
        errors.join(prior, cond, "left")
        .groupBy(F.col("error_id"), F.col("e_user").alias("user_id"))
        .agg(
            F.count("p_id").alias("n_prior_60s"),
            F.round(F.coalesce(F.sum("p_value"), F.lit(0.0)), 2).alias("prior_value"),
        )
    )


# ------------------------------------------- keyless banded range join

_RJ_WINDOW_S = 60  # pair events within this many seconds, ANY users


@query(
    "range_join_time_buckets",
    oracle=f"""
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_s
    FROM events a JOIN events b
      ON a.event_type = 'error' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL {_RJ_WINDOW_S} SECOND
    """,
)
def range_join_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join — every (error, purchase) event pair within
    60 seconds, across ALL users — planned as a BANDED equi-join:
    each error maps to its 60-second time bucket, each purchase to
    its own bucket AND the preceding one (a half-open 60 s window
    spans at most two buckets), so candidates meet on bucket equality
    and the exact interval predicate filters after.

    This is the expansion trick a pure range join needs on Spark:
    with no equi key at all, Catalyst's only native plan is a
    BroadcastNestedLoopJoin — O(|A| x |B|) comparisons, a
    100 TB-killer the moment neither side broadcasts. Banding makes
    candidate volume O(sum over buckets of |A_b| x |B_b±1|) — density
    -bounded, shuffled on the bucket key, skew-handled by AQE like
    any hash join. The duplicate-candidate hazard (a pair meeting in
    both buckets) cannot arise: the error side is emitted ONCE, so
    each (a, b) meets exactly at a's bucket. The oracle states the
    same join as a direct theta join — tractable for DuckDB at
    fixture scale, which is exactly the asymmetry the banded plan
    exists to fix."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_micros("ts") / (_RJ_WINDOW_S * 1_000_000))
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
        bucket.alias("bk"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
        F.explode(F.array(bucket, bucket - 1)).alias("bk"),
    )
    return (
        errors.join(purchases, "bk")
        .filter(
            (F.col("b_ts") >= F.col("a_ts"))
            & (
                F.col("b_ts")
                < F.col("a_ts") + F.expr(f"INTERVAL {_RJ_WINDOW_S} SECONDS")
            )
        )
        .select(
            "a_id",
            "b_id",
            F.floor(
                (F.unix_micros("b_ts") - F.unix_micros("a_ts")) / 1_000_000
            )
            .cast("bigint")
            .alias("gap_s"),
        )
    )
