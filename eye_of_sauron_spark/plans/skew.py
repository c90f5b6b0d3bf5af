"""Skew-aware join: the manual salting pattern, end-to-end.

A shuffle join hashes both sides on the join key; a hot key sends its
entire row population to ONE reducer, and at 100 TB the job runs at
the speed of that one straggler. AQE's runtime skew-split
(``spark.sql.adaptive.skewJoin``) handles this transparently for batch
sort-merge joins, but it cannot help where AQE is off (stateful
streaming joins disable it), where the skew is in a non-splittable
operator, or on engines without it — there the portable fix is
salting: fan the hot key's rows across ``n_salt`` sub-keys on the big
side and replicate the matching dimension rows, so the hot key's work
spreads over ``n_salt`` reducers at the cost of a ``n_salt``× larger
(still small) dimension side.

The events→customer enrichment here is the reference's
camera→registered-query lookup shape (A5/A14,
src/prediction_producer.py:112-135) at warehouse scale: ~150 user
keys over 100k events means every key is hot relative to a 32-way
shuffle — exactly the cardinality regime where salting pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query


_N_SALT = 8


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    big_key: str,
    dim_key: str,
    spread_on: Column,
) -> DataFrame:
    """Inner-join ``big`` ⋈ ``dim`` on ``big_key = dim_key`` with the
    hot-key population of ``big`` spread over ``_N_SALT`` sub-keys.

    ``spread_on`` must be a deterministic per-row expression of the
    big side (e.g. a row id) — each big row lands on exactly one salt,
    so the salted join emits exactly the rows the plain join would.
    The dim side is replicated ``_N_SALT``× via an in-plan explode (no
    driver loop, no second scan) and the join keys become
    (key, salt) — a plain equi shuffle join whose reducer load is
    bounded by max_key_rows / _N_SALT instead of max_key_rows.
    """
    salted_big = big.withColumn("_salt", F.pmod(F.hash(spread_on), _N_SALT))
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1)))
    )
    return salted_big.join(
        salted_dim.hint("shuffle_hash"),
        (F.col(big_key) == F.col(dim_key)) & (salted_big["_salt"] == salted_dim["_salt"]),
    ).drop("_salt")


_SALTED_ORACLE = """
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
"""


@query("join_salted_skew", oracle=_SALTED_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event enrichment through the salted join: ~150 distinct user
    keys over the whole events table (every key hot relative to the
    shuffle width) joined to customer with an 8-way salt, then rolled
    up per (segment, event_type). The result is identical to the
    plain join — the oracle IS the plain join — while the executed
    plan joins on (key, salt) with the dimension replicated in-plan
    (pinned by tests/test_plans.py::test_salted_join_spreads_keys).

    The shuffle_hash hint keeps the demonstration honest at fixture
    scale (Catalyst would broadcast the 1.5k-row dim and no salt
    would be needed); at 100 TB the dim that *can't* broadcast is
    precisely the case salting exists for."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        ev, cust, "user_id", "c_custkey", spread_on=F.col("event_id")
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
