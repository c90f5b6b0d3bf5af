"""Aggregation layer: hash aggregates, multi-distinct, grouping
analytics (cube / rollup / grouping sets), order statistics,
conditional aggregation, approximate distinct.

The reference has no group-by at all — its only aggregate is the
implicit stream-global buffer length (reference src/utils.py:56) and
the per-frame top-1 match (src/prediction_producer.py:351-353). This
module is the full aggregate surface mandated by SURVEY.md §2 Part B.

Scale notes: every aggregate here is partial+final (map-side combine)
by Catalyst default, so shuffle volume is O(groups), not O(rows).
Multi-distinct rewrites to expand+two-phase agg; approx_count_distinct
is the HLL path for 100 TB cardinalities where exact distinct would
need a full shuffle of the key universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex32_duck, hex32_spark
from ..sources import load_table, top_k
from .registry import query


@query(
    "cube_quantity",
    oracle="""
    SELECT CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims with grouping() indicators."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    ).select(
        "g_flag", "g_status", "l_returnflag", "l_linestatus", "sum_qty", "n_rows"
    )


@query(
    "rollup_orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (yr, mon)
    """,
)
def rollup_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP on a derived (year, month) hierarchy."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mon"),
        "o_totalprice",
    )
    return orders.rollup("yr", "mon").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "grouping_sets_mixed",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           count(*) AS n_customers,
           round(avg(c_acctbal), 4) AS avg_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with disjoint key sets (SQL surface — the
    DataFrame API has no grouping-sets builder)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               count(*) AS n_customers,
               round(avg(c_acctbal), 4) AS avg_bal
        FROM gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "multi_distinct_by_priority",
    oracle="""
    SELECT o.o_orderpriority,
           count(DISTINCT l.l_partkey) AS n_parts,
           count(DISTINCT l.l_suppkey) AS n_suppliers,
           count(*) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def multi_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregate (Catalyst expands to
    a two-phase plan; at scale this is the expensive-but-exact path)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type — the
    100 TB replacement for exact distinct. HLL estimates are
    engine-specific, so the sketch itself can't be hash-compared;
    instead the error bound IS the contract: ``within_bound`` is
    computed IN-PLAN (|approx - exact| <= max(1, 5% of exact); rsd
    0.01 makes 5% a ~5-sigma bound) and the DuckDB oracle asserts it
    is constant TRUE alongside the exact counts. The exact
    countDistinct exists only to evaluate the sketch at test scale —
    at 100 TB you'd run the approx column alone.

    Plan shape (r17 optimization): stated as an explicit two-level
    aggregate — plain counts per (event_type, user_id), then approx +
    exact + sum at the event_type level — instead of approx + distinct
    in one agg. The single-agg form goes through Spark's
    distinct-aggregate rewrite, which evaluates the NON-distinct
    approx_count_distinct in the first phase keyed by
    (event_type, user_id): one ~16 KB HLL++ register array (rsd 0.01
    -> p=14) per PAIR group — ~90k sketches at sf0.1, GBs of register
    buffers at scale — before any merging. Two-level, the first
    exchange carries plain (pair, count) rows and sketches exist only
    at the second level (groups x partitions of them). The estimate is
    IDENTICAL by construction: HLL registers are duplicate-insensitive
    (register = max of hashed-value ranks) and sketch merge is the
    register-wise max — associative and commutative — so feeding each
    distinct pair once yields the same registers, and the same
    estimate, as feeding every event row. Measured interleaved at
    sf0.1: 2.36 -> 1.16 s median (guide §2.3: aggregate before you
    shuffle; shuffle bytes drop from sketch arrays to plain counts)."""
    events = load_table(spark, sf_dir, "events")
    pairs = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c")
    )
    agg = pairs.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        # count(user_id), not count(*): countDistinct excludes NULLs,
        # so a (event_type, NULL) pair group must not count here —
        # while sum(c) below must still include its rows
        F.count("user_id").alias("exact_users"),
        F.sum("c").alias("n_events"),
    )
    bound = F.greatest(F.lit(1.0), F.col("exact_users") * 0.05)
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= bound).alias(
            "within_bound"
        ),
    )


@query(
    "stats_acctbal_by_nation",
    oracle="""
    SELECT c_nationkey,
           count(*) AS n,
           round(avg(c_acctbal), 4) AS mean_bal,
           round(stddev_samp(c_acctbal), 4) AS sd_bal,
           round(var_samp(c_acctbal), 4) AS var_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM customer
    GROUP BY c_nationkey
    """,
)
def stats_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics per group (stddev/variance)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 4).alias("var_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


@query(
    "median_percentiles_value",
    oracle="""
    SELECT event_type,
           round(median(value), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def median_percentiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — the reference's latency
    distribution analysis (prediction_producer.py:229-238 CSV ->
    graphs) as a first-class aggregate. At 100 TB swap for
    percentile_approx (t-digest-style sketch, bounded memory)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@query(
    "conditional_agg_event_matrix",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value,
           count(*) AS n_total
    FROM events
    GROUP BY user_id
    """,
)
def conditional_agg_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (pivot-by-hand) — one pass, no join."""
    e = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    return e.groupBy("user_id").agg(
        F.sum(F.when(is_purchase, 1).otherwise(0)).cast("bigint").alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_error"),
        F.round(F.sum(F.when(is_purchase, F.col("value")).otherwise(0.0)), 2).alias(
            "purchase_value"
        ),
        F.count("*").alias("n_total"),
    )


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (explicit list = no extra
    distinct-values job; required discipline at scale)."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields nulls for absent combos; the CASE oracle yields 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("bigint").alias(k) for k in kinds],
    )


@query(
    "histogram_value_buckets",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS INT) AS bucket,
           count(*) AS n,
           round(sum(value), 2) AS bucket_value
    FROM events
    GROUP BY bucket
    """,
)
def histogram_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric bucketing histogram (width 50)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("bucket", F.floor(F.col("value") / 50.0).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("bucket_value"),
        )
    )


@query(
    "sketch_quantiles_value",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
)
def sketch_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style mergeable quantile sketch) per
    event_type — the 100 TB replacement for exact percentiles (the
    exact path is median_percentiles_value): one partial+final
    aggregate, sketch size O(1/accuracy), no global sort.

    Sketch estimates are engine-specific, so the estimates can't be
    hash-compared; the rank-error guarantee IS the contract, computed
    IN-PLAN: for each q the approx value must lie between the exact
    percentiles at q +/- 0.01 (accuracy=10000 guarantees rank error
    <= n/10000, 100x tighter than the asserted window). The DuckDB
    oracle asserts the three booleans are constant TRUE. The exact
    percentiles exist only to evaluate the sketch at test scale — at
    100 TB you'd ship the sketch alone. tests/test_aggregates.py
    additionally checks the raw rank error."""
    events = load_table(spark, sf_dir, "events")
    qs = [0.5, 0.9, 0.99]
    exact_qs = [0.49, 0.51, 0.89, 0.91, 0.98, 1.0]
    sketched = events.groupBy("event_type").agg(
        F.percentile_approx("value", qs, 10_000).alias("ap"),
        F.percentile("value", F.lit(exact_qs)).alias("ex"),
        F.count("*").alias("n_events"),
        F.count("value").alias("n_vals"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    def ok(i: int) -> F.Column:
        # The q +/- 0.01 rank window is narrower than ONE discrete rank
        # when 0.01 * n < 1, so for groups under 100 rows the bracket
        # could spuriously fail (sketch returns the element at rank
        # ceil(q*n); the interpolated percentile at q-0.01 can sit
        # above it). There the honest guarantee is group membership:
        # the sketch's answer is always an actual element, so widen to
        # [min, max] for n < 100. n is count(value) — the NON-NULL
        # count both percentile functions actually rank over — not
        # count(*): a group of 120 rows with 50 non-null values is a
        # small group for bracketing purposes.
        # A group whose value column is entirely NULL has nothing to
        # rank: n_vals=0, vmin/vmax/percentile_approx all NULL, and the
        # bracket comparison would yield NULL instead of the oracle's
        # constant TRUE. The contract holds vacuously there.
        small = F.col("n_vals") < F.lit(100)
        lo = F.when(small, F.col("vmin")).otherwise(
            F.try_element_at("ex", F.lit(2 * i + 1))
        ) - F.lit(1e-9)
        hi = F.when(small, F.col("vmax")).otherwise(
            F.try_element_at("ex", F.lit(2 * i + 2))
        ) + F.lit(1e-9)
        a = F.try_element_at("ap", F.lit(i + 1))
        return F.when(F.col("n_vals") == 0, F.lit(True)).otherwise(
            (a >= lo) & (a <= hi)
        )
    return sketched.select(
        "event_type",
        "n_events",
        ok(0).alias("p50_ok"),
        ok(1).alias("p90_ok"),
        ok(2).alias("p99_ok"),
    )


# ---------------------------------------------- market-basket mining

_MB_TOPK = 20
_MB_BASKET_CAP = 64  # degree cap: a basket wider than this is boilerplate


@query(
    "market_basket_part_pairs",
    oracle=f"""
    WITH baskets AS (
        SELECT l_orderkey,
               list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ),
    capped AS (
        SELECT parts FROM baskets
        WHERE len(parts) BETWEEN 2 AND {_MB_BASKET_CAP}
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders FROM baskets
    ),
    singles AS (
        SELECT l_partkey AS part, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.a AS pa, b.b AS pb
        FROM capped, unnest(parts) AS a(a), unnest(parts) AS b(b)
        WHERE a.a < b.b
    ),
    pc AS (
        SELECT pa, pb, CAST(count(*) AS BIGINT) AS pair_cnt
        FROM pairs GROUP BY pa, pb
    ),
    scored AS (
        SELECT pa, pb, pair_cnt,
               (pair_cnt * 1000000) // n_orders AS support_ppm,
               (((pair_cnt * 1000000) // sa.cnt) * n_orders) // sb.cnt
                   AS lift_ppm,
               row_number() OVER (
                   ORDER BY pair_cnt DESC, pa, pb
               ) AS rank
        FROM pc, tot
        JOIN singles sa ON sa.part = pc.pa
        JOIN singles sb ON sb.part = pc.pb
    )
    SELECT CAST(rank AS INT) AS rank, pa AS part_a, pb AS part_b,
           pair_cnt, support_ppm, lift_ppm
    FROM scored WHERE rank <= {_MB_TOPK}
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order line items: the
    top-20 part pairs most frequently ordered together, with integer-
    ppm support (pair frequency over all orders) and lift
    (co-occurrence vs independence) — frequent-itemset analytics, the
    purchase-domain sibling of the n-gram co-occurrence operators.

    Same join-free inverted-index shape as ngram dedup: baskets are
    sorted distinct-part lists (one hash aggregate), in-array pair
    expansion bounded by the basket-width cap [2, 64] (a wider basket
    is boilerplate, the stop-shingle case again), then one pair count
    aggregate; the per-part counts and order total join back only on
    the already-aggregated TOP pair relation. Lift is staged integer
    arithmetic — (pair*1e6 div cnt_a) <= 1e6, times n_orders <= 1e12
    clamps under 2^63 — so both engines hash bit-identically at any
    scale.

    One-scan shape (r17 optimization, guide §2.4/§6): the basket
    relation already DETERMINES the order total (one row per order)
    and the per-part distinct-order counts (parts arrays are distinct
    per order, so exploding them yields exactly the (order, part)
    pairs countDistinct was re-deriving from raw line items). The
    previous plan scanned lineitem FOUR times — baskets, n_orders,
    and two byte-identical (part, countDistinct order) aggregates
    that the planner did not fuse; now lineitem is scanned once, the
    basket aggregate is localCheckpointed (O(distinct order-part
    pairs) rows, 2 columns — far smaller than the fact table), and
    tot/singles/pairs all ride the materialized partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    # pinned with the returned result (drain_session releases it once
    # the result is consumed), like the ladder shared passes
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    ).localCheckpoint(eager=True)
    tot = baskets.agg(F.count("*").cast("bigint").alias("n_orders"))
    singles = baskets.select(F.explode("parts").alias("part")).groupBy(
        "part"
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    capped = baskets.filter(F.size("parts").between(2, _MB_BASKET_CAP))
    pairs = capped.select(
        "parts", F.posexplode("parts").alias("i", "pa")
    ).select(
        "pa", F.explode(F.slice("parts", F.col("i") + 2, F.size("parts"))).alias("pb")
    )
    pc = pairs.groupBy("pa", "pb").agg(F.count("*").cast("bigint").alias("pair_cnt"))
    sa = singles.select(F.col("part").alias("pa"), F.col("cnt").alias("cnt_a"))
    sb = singles.select(F.col("part").alias("pb"), F.col("cnt").alias("cnt_b"))
    scored = (
        pc.join(F.broadcast(tot))
        .join(sa, "pa")
        .join(sb, "pb")
        .select(
            "pa",
            "pb",
            "pair_cnt",
            F.expr("(pair_cnt * 1000000) div n_orders").alias("support_ppm"),
            F.expr(
                "(((pair_cnt * 1000000) div cnt_a) * n_orders) div cnt_b"
            ).alias("lift_ppm"),
        )
    )
    # TakeOrdered cut FIRST (never a global sort of the pair relation);
    # the rank window then runs on the 20-row result, where its
    # single-partition execution is the point, not a bottleneck
    order = [F.col("pair_cnt").desc(), F.col("pa"), F.col("pb")]
    cols = ["pa", "pb", "pair_cnt", "support_ppm", "lift_ppm"]
    return top_k(scored, _MB_TOPK, order, *cols).select(
        "rank",
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        "pair_cnt",
        "support_ppm",
        "lift_ppm",
    )


# --- heavy hitters (frequent-items sketch, exact output) -------------------

# report keys with frequency > n / _HH_PHI_INV
_HH_PHI_INV = 2000
# Misra-Gries summary size per partition; k >= phi_inv guarantees the
# candidate set is a SUPERSET of the true heavy hitters (any key with
# freq > n/(k+1) survives every trim), so the exact second pass makes
# the final output partition-layout-independent
_HH_MG_K = 4096


def _mg_update(counters: dict, batch_counts, k: int) -> dict:
    """One Misra-Gries merge-and-trim step: fold a batch's
    ``value_counts`` into the summary, then if more than ``k`` keys
    remain subtract the (k+1)-largest weight from all and drop
    non-positives. Every subtraction is applied to ALL keys, so a key
    with true frequency > n/(k+1) can never be fully cancelled — the
    summary stays a superset of the heavy hitters (Agarwal et al.,
    mergeable summaries). Pure function so the guarantee is
    property-testable off-cluster."""
    for key, c in batch_counts.items():
        counters[key] = counters.get(key, 0) + int(c)
    if len(counters) > k:
        cut = sorted(counters.values(), reverse=True)[k]  # (k+1)-largest
        counters = {u: w - cut for u, w in counters.items() if w > cut}
    return counters


@query(
    "heavy_hitters_users",
    oracle=f"""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    HAVING count(*) * {_HH_PHI_INV} > (SELECT count(*) FROM events
                                       WHERE user_id IS NOT NULL)
    """,
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items (heavy hitters): users with > n/2000 of all
    events, EXACT counts — via the production two-pass shape, not a
    full-key shuffle. Pass 1 runs a Misra-Gries summary (k=4096) per
    partition inside ``mapInPandas`` — vectorized value_counts merge +
    trim (subtract the (k+1)-largest weight, drop non-positives),
    which preserves MG's superset guarantee for every key above the
    threshold — so only O(partitions x k) candidate rows ever leave
    the executors. Pass 2 re-counts ONLY the candidate keys exactly
    (broadcast semi-join + map-combined groupBy: the shuffle carries
    at most |candidates| rows per partition, never the raw events) and
    applies the threshold to exact counts, which erases pass-1
    approximation: the result is deterministic and oracle-hashed.
    At 100 TB the full-key groupBy this replaces would shuffle every
    distinct user; this shuffles two tiny relations. Completes the
    mergeable-sketch family (HLL distincts, KLL quantiles, MG
    frequencies); the fixture's flat user distribution makes most
    users qualify — the guarantee, not the selectivity, is what the
    probe checks at scale.

    NULL keys are excluded EXPLICITLY on both sides (stated contract,
    not an accident of the fixture): pandas ``value_counts`` drops NaN
    and a left-semi join never matches NULL, so without the filter a
    NULL group crossing the threshold would silently diverge from the
    oracle's GROUP BY, which reports it."""
    import pandas as pd

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .filter(F.col("user_id").isNotNull())
    )

    def mg_summaries(batches):
        counters: dict[int, int] = {}
        for pdf in batches:
            counters = _mg_update(counters, pdf["user_id"].value_counts(), _HH_MG_K)
        yield pd.DataFrame(
            {"user_id": list(counters.keys())}, dtype="int64"
        )

    cand = ev.mapInPandas(mg_summaries, "user_id long").distinct()
    total = ev.agg(F.count("*").alias("n_total"))
    exact = (
        ev.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * _HH_PHI_INV > F.col("n_total"))
        .select("user_id", F.col("n_events").cast("bigint").alias("n_events"))
    )


# ----------------------------------------------------- Count-Min sketch

_CMS_D = 4     # hash rows
_CMS_W = 64    # buckets per row
_CMS_TOPN = 15


def _cm_bucket_spark(r, key) -> F.Column:
    """Row-r Count-Min bucket for ``key``: portable md5-derived hash
    of 'cm{r}:{key}' reduced mod _CMS_W (non-negative on both sides —
    hex32 is 0..2^32-1)."""
    return (
        hex32_spark(
            F.concat(F.lit("cm"), r.cast("string"), F.lit(":"), key.cast("string"))
        )
        % _CMS_W
    )


def _cm_bucket_duck(r_expr: str, key_expr: str) -> str:
    return (
        hex32_duck(
            f"'cm' || CAST({r_expr} AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR)"
        )
        + f" % {_CMS_W}"
    )


@query(
    "sketch_countmin_freq",
    oracle=f"""
    WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    sketch AS (
        SELECT g.r AS r, {_cm_bucket_duck('g.r', 'user_id')} AS bucket,
               count(*) AS total
        FROM ev, unnest(range(0, {_CMS_D})) AS g(r)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT user_id, count(*) AS exact_n FROM ev GROUP BY user_id
    ),
    top AS (
        SELECT user_id, exact_n FROM exact
        ORDER BY exact_n DESC, user_id ASC LIMIT {_CMS_TOPN}
    ),
    probes AS (
        SELECT user_id, exact_n, g.r AS r,
               {_cm_bucket_duck('g.r', 'user_id')} AS bucket
        FROM top, unnest(range(0, {_CMS_D})) AS g(r)
    ),
    est AS (
        SELECT p.user_id, p.exact_n, min(s.total) AS cm_est
        FROM probes p JOIN sketch s USING (r, bucket)
        GROUP BY p.user_id, p.exact_n
    )
    SELECT user_id, exact_n, cm_est, cm_est - exact_n AS overcount,
           cm_est >= exact_n AS ok
    FROM est
    """,
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point-frequency estimates — the mergeable
    fixed-size frequency sketch next to HLL distincts
    (approx_distinct_users), KLL quantiles (sketch_quantiles_value)
    and Misra-Gries heavy hitters (heavy_hitters_users). d=4 portable
    hash rows x w=64 buckets; est(key) = min over rows of its bucket
    total, which can only OVERcount (asserted in-plan as ``ok``).

    Unlike the HLL/KLL contracts (engine-specific sketches checked
    via error bounds), the CMS is built from the same md5-derived
    bucket function on both sides, so the ESTIMATES THEMSELVES
    hash-compare exactly — the oracle verifies the sketch
    construction, not just a bound.

    Scale shape: the sketch build is one groupBy over d x N exploded
    rows that map-side-combines into <= d*w*partitions partials and
    reduces to 256 cells total — O(1) state regardless of key
    cardinality, the whole point vs the exact per-key groupBy. Point
    queries join the probed keys to the 256-row sketch via broadcast.
    The exact side exists to evaluate the sketch at test scale (same
    convention as approx_distinct_users); NULL keys are excluded
    explicitly on both sides (heavy_hitters_users convention).
    Reference analog: per-key frequency monitoring the reference does
    driver-side (src/prediction_producer.py consumer loop counters).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .filter(F.col("user_id").isNotNull())
    )
    rows = F.explode(F.array(*[F.lit(r).cast("long") for r in range(_CMS_D)]))
    sketch = (
        ev.withColumn("r", rows)
        .select("r", _cm_bucket_spark(F.col("r"), F.col("user_id")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("total"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(_CMS_TOPN)
    )
    probes = top.withColumn("r", rows).select(
        "user_id",
        "exact_n",
        "r",
        _cm_bucket_spark(F.col("r"), F.col("user_id")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("total").alias("cm_est"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cm_est",
        (F.col("cm_est") - F.col("exact_n")).alias("overcount"),
        (F.col("cm_est") >= F.col("exact_n")).alias("ok"),
    )
