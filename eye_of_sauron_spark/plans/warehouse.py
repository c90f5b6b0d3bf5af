"""Warehouse-maintenance operators: CDC log compaction and SCD
type-2 dimension merge.

The reference's state model is "latest message per key wins" — the
web viewer renders whatever frame most recently arrived per camera
topic (web/views.py:200-236), and Kafka's own log compaction is the
durable form of that contract. Here that becomes a first-class
batch operator pair:

- ``cdc_latest_snapshot`` — collapse a keyed change log to the
  current snapshot (last-writer-wins with delete tombstones), the
  read-side of log compaction.
- ``scd2_merge_customers`` — apply a change batch to a dimension
  with full history retention (slowly-changing-dimension type 2),
  the write-side MERGE every warehouse needs around such logs.

Scale notes: the CDC compaction is a single partial-aggregating
``max_by`` hash aggregate — the map side collapses each partition to
one candidate row per key before the only shuffle, so a 100 TB log
with a hot key still moves O(partitions) rows for it, where the
textbook row_number()-over-window form would sort-shuffle the full
log. The SCD2 merge is ONE join (dim x change batch) left unhinted
so AQE broadcasts the change side iff it measures small, and the
1-or-2-version expansion is a narrow array+explode — the classic
3-branch UNION form scans the dimension three times; this scans it
once.

All money flows are integer cents (floor(x*100+0.5)) so partial-agg
order can't perturb a value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import keyed_hex32_duck, keyed_hex32_spark
from ..functions.money import cents_duck, cents_spark
from ..sources import load_table
from .registry import query


_cents = cents_spark

# ------------------------------------------------- CDC log compaction

# events as a keyed change log: key = user_id, ops ordered by
# (ts, event_id); event_type 'error' is the delete tombstone, any
# other type upserts the key's value.
_TOMBSTONE = "error"


# The closed-form snapshot oracle — shared verbatim with the
# incremental write-side replay (streaming/replay.py::
# stream_cdc_apply_replay), which must converge to it; one constant,
# so the convergence contract cannot silently drift.
CDC_SNAPSHOT_ORACLE = f"""
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               count(*) OVER (PARTITION BY user_id) AS n_ops,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           {cents_duck('value')} AS last_cents,
           ts AS last_ts,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM ranked
    WHERE rn = 1 AND event_type <> '{_TOMBSTONE}'
"""


@query("cdc_latest_snapshot", oracle=CDC_SNAPSHOT_ORACLE)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse a keyed change log to its current snapshot:
    last-writer-wins per user_id on (ts, event_id) order, keys whose
    final op is a tombstone ('error') disappear. The read-side of
    Kafka log compaction — the durable form of the reference's
    latest-frame-per-camera display contract (web/views.py:200-236).

    Deliberately NOT the textbook row_number-over-window plan the
    oracle uses: ``max_by(struct(...), struct(ts, event_id))`` is a
    partial-aggregating combine-first plan — each input partition
    collapses to one candidate per key before the single shuffle, so
    at 100 TB a hot key costs O(partitions) shuffled rows where the
    window form sort-shuffles its entire history. (Spark plans the
    struct-valued max_by as SortAggregate; its sorts are
    per-partition on the group key and spillable — still no global
    sort, and the partial side still combines map-side, which is
    what the plan test pins.)"""
    ev = load_table(spark, sf_dir, "events")
    last = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "value", "ts"), F.struct("ts", "event_id")
        ).alias("last"),
        F.count("*").alias("n_ops"),
    )
    return (
        last.filter(F.col("last.event_type") != _TOMBSTONE)
        .select(
            "user_id",
            _cents(F.col("last.value")).alias("last_cents"),
            F.col("last.ts").alias("last_ts"),
            "n_ops",
        )
    )


# ---------------------------------------------- SCD type-2 dimension

# Change batch derived deterministically from orders: every customer
# with an order in the trailing 90 days gets a new balance (their
# recent order total, in cents); a md5-routed ~10% of those rows are
# re-keyed to +10M as brand-new keys, so the merge's WHEN-NOT-MATCHED
# insert arm genuinely fires.
_SCD2_WINDOW_DAYS = 90
_INSERT_OFFSET = 10_000_000

_INS_KEY_DUCK = f"{keyed_hex32_duck('ins', 'o_custkey')} % 10 = 0"


@query(
    "scd2_merge_customers",
    oracle=f"""
    WITH cutoff AS (
        SELECT max(o_orderdate) - INTERVAL {_SCD2_WINDOW_DAYS} DAY AS c FROM orders
    ),
    chg AS (
        SELECT CASE WHEN {_INS_KEY_DUCK}
                    THEN o_custkey + {_INSERT_OFFSET} ELSE o_custkey END AS key,
               CAST(sum({cents_duck('o_totalprice')}) AS BIGINT)
                   AS new_cents
        FROM orders
        WHERE o_orderdate >= (SELECT c FROM cutoff)
        GROUP BY key
    ),
    merged AS (
        SELECT coalesce(d.c_custkey, c.key) AS key,
               d.c_custkey IS NOT NULL AS in_dim,
               c.key IS NOT NULL AS in_chg,
               {cents_duck('d.c_acctbal')} AS old_cents,
               d.c_mktsegment AS seg,
               c.new_cents
        FROM customer d FULL OUTER JOIN chg c ON d.c_custkey = c.key
    )
    SELECT key AS c_custkey, 1 AS version, old_cents AS bal_cents,
           seg AS segment, NOT in_chg AS is_current
    FROM merged WHERE in_dim
    UNION ALL
    SELECT key, 2, new_cents, seg, TRUE FROM merged WHERE in_dim AND in_chg
    UNION ALL
    SELECT key, 1, new_cents, 'NEW', TRUE FROM merged WHERE NOT in_dim
    """,
)
def scd2_merge_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 MERGE: apply a change batch to
    the customer dimension keeping full history — matched keys close
    their old version (is_current=false) and append version 2 with
    the new balance; unmatched change rows insert as version 1 of a
    new key; untouched dimension rows carry through current.

    One FULL OUTER join on the dimension key (unhinted — AQE
    broadcasts the change batch iff it measures small, exactly the
    tfidf-vocabulary lesson), then a narrow
    ``explode(CASE -> array<struct>)`` emits 1 or 2 version rows per
    key. The classic 3-branch UNION MERGE scans the dimension three
    times and shuffles each branch; this scans and shuffles once —
    the shape that matters when the dimension is 10 TB.

    The change batch itself derives from orders (trailing-90-day
    customers; an md5-routed ~10% re-keyed to +10M so the insert arm
    fires) — cutoff comes from a 1-row broadcast aggregate, never a
    driver-side collect."""
    dim = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr(f"INTERVAL {_SCD2_WINDOW_DAYS} DAYS")).alias("c")
    )
    is_ins = keyed_hex32_spark("ins", "o_custkey") % 10 == 0
    chg = (
        orders.join(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") >= F.col("c"))
        .groupBy(
            F.when(is_ins, F.col("o_custkey") + _INSERT_OFFSET)
            .otherwise(F.col("o_custkey"))
            .alias("key")
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("new_cents"))
    )
    merged = dim.join(chg, dim["c_custkey"] == chg["key"], "full_outer").select(
        F.coalesce(dim["c_custkey"], chg["key"]).alias("key"),
        dim["c_custkey"].isNotNull().alias("in_dim"),
        chg["key"].isNotNull().alias("in_chg"),
        _cents(F.col("c_acctbal")).alias("old_cents"),
        F.col("c_mktsegment").alias("seg"),
        "new_cents",
    )
    v1 = lambda bal, seg, cur: F.struct(  # noqa: E731
        F.lit(1).alias("version"),
        bal.alias("bal_cents"),
        seg.alias("segment"),
        cur.alias("is_current"),
    )
    v2 = F.struct(
        F.lit(2).alias("version"),
        F.col("new_cents").alias("bal_cents"),
        F.col("seg").alias("segment"),
        F.lit(True).alias("is_current"),
    )
    versions = (
        F.when(
            F.col("in_dim") & F.col("in_chg"),
            F.array(v1(F.col("old_cents"), F.col("seg"), F.lit(False)), v2),
        )
        .when(
            F.col("in_dim"),
            F.array(v1(F.col("old_cents"), F.col("seg"), F.lit(True))),
        )
        .otherwise(
            F.array(v1(F.col("new_cents"), F.lit("NEW"), F.lit(True)))
        )
    )
    return merged.select(
        F.col("key").alias("c_custkey"), F.explode(versions).alias("v")
    ).select(
        "c_custkey",
        F.col("v.version").alias("version"),
        F.col("v.bal_cents").alias("bal_cents"),
        F.col("v.segment").alias("segment"),
        F.col("v.is_current").alias("is_current"),
    )


# ---------------------------------------------- cohort retention

@query(
    "cohort_retention_orders",
    oracle="""
    WITH marked AS (
        SELECT CAST(date_trunc('month', min(o_orderdate) OVER (
                   PARTITION BY o_custkey
               )) AS TIMESTAMP) AS cohort,
               o_custkey,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m
        FROM orders
    )
    SELECT cohort,
           CAST(date_diff('month', cohort, m) AS INT) AS k,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM marked
    GROUP BY cohort, k
    """,
)
def cohort_retention_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by the month of
    their FIRST order (the cohort), counted in every subsequent month
    offset k in which they ordered again — the triangle every
    retention dashboard draws, and the warehouse-analytics shape
    (self-referential "first event per key" + offset bucketing) that
    complements the funnel and session operators.

    Plan: the cohort month comes from an unordered MIN window over
    o_custkey — ONE exchange on the customer key, no self-join (the
    textbook first-order-subquery form scans and shuffles orders
    twice); the (cohort, k) rollup's count-distinct then reuses the
    standard two-phase distinct aggregate. Month arithmetic is
    integer months between first-of-month dates — exact on both
    engines, nothing floats."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window as W

    cohort = F.date_trunc("month", F.min("o_orderdate").over(W.partitionBy("o_custkey")))
    m = F.date_trunc("month", F.col("o_orderdate"))
    marked = orders.select(
        cohort.alias("cohort"),
        "o_custkey",
        m.alias("m"),
    )
    return (
        marked.select(
            "cohort",
            F.months_between("m", "cohort").cast("int").alias("k"),
            "o_custkey",
        )
        .groupBy("cohort", "k")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


# ---------------------------------------------- snapshot diffing

# Snapshot B derives deterministically from the documents fixture:
# ~5% of docs deleted, ~10% of survivors edited (text suffix), ~4%
# re-keyed to +5M as brand-new docs — so all four diff classes fire.
_DIFF_DEL_MOD = 20
_DIFF_EDIT_MOD = 10
_DIFF_ADD_MOD = 25
_DIFF_ADD_OFFSET = 5_000_000


def _diff_gate_duck(prefix: str, mod: int) -> str:
    return f"{keyed_hex32_duck(prefix, 'doc_id')} % {mod} = 0"


def _diff_gate_spark(prefix: str, mod: int) -> F.Column:
    return (keyed_hex32_spark(prefix, "doc_id") % mod) == 0


@query(
    "dataset_diff_snapshots",
    oracle=f"""
    WITH a AS (
        SELECT doc_id, lang, md5(text) AS h FROM documents
    ),
    b AS (
        SELECT doc_id, lang,
               CASE WHEN {_diff_gate_duck('mod', _DIFF_EDIT_MOD)}
                    THEN md5(text || ' v2') ELSE md5(text) END AS h
        FROM documents
        WHERE NOT {_diff_gate_duck('del', _DIFF_DEL_MOD)}
        UNION ALL
        SELECT doc_id + {_DIFF_ADD_OFFSET}, lang, md5(text || ' new')
        FROM documents
        WHERE {_diff_gate_duck('add', _DIFF_ADD_MOD)}
    )
    SELECT coalesce(a.lang, b.lang) AS lang,
           CAST(sum(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(sum(CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(sum(CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                          AND a.h <> b.h THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           CAST(sum(CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                          AND a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unchanged
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    GROUP BY coalesce(a.lang, b.lang)
    """,
)
def dataset_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset snapshot diff: classify every document across two
    corpus generations as added / removed / changed / unchanged by
    key + content hash, rolled up per language — the audit every
    data-versioning workflow runs before promoting a new crawl (the
    poor-man's Delta change-data-feed over plain parquet, sibling of
    schema_evolution_ingest's schema-axis story).

    One FULL OUTER equi-join on doc_id with md5 content comparison;
    classification is a narrow CASE and the rollup a partial+final
    aggregate. At 100 TB both snapshots would be written bucketed on
    doc_id (see join_bucketed_colocated) and this diff becomes a
    zero-exchange merge join; content hashing rides the scans. The
    second generation here derives deterministically from the fixture
    (~5% deleted, ~10% edited, ~4% added under md5-routed gates) so
    all four classes provably fire on any engine."""
    d = load_table(spark, sf_dir, "documents")
    a = d.select("doc_id", "lang", F.md5("text").alias("h"))
    b_kept = d.filter(~_diff_gate_spark("del", _DIFF_DEL_MOD)).select(
        "doc_id",
        "lang",
        F.when(
            _diff_gate_spark("mod", _DIFF_EDIT_MOD),
            F.md5(F.concat(F.col("text"), F.lit(" v2"))),
        )
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    b_added = d.filter(_diff_gate_spark("add", _DIFF_ADD_MOD)).select(
        (F.col("doc_id") + _DIFF_ADD_OFFSET).alias("doc_id"),
        "lang",
        F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("h"),
    )
    b = b_kept.unionByName(b_added)
    a2 = a.select(*(F.col(c).alias(f"a_{c}") for c in a.columns))
    b2 = b.select(*(F.col(c).alias(f"b_{c}") for c in b.columns))
    j = a2.join(b2, a2["a_doc_id"] == b2["b_doc_id"], "full_outer")
    in_a = F.col("a_doc_id").isNotNull()
    in_b = F.col("b_doc_id").isNotNull()
    flag = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    return j.groupBy(
        F.coalesce("a_lang", "b_lang").alias("lang")
    ).agg(
        flag(~in_a).alias("n_added"),
        flag(~in_b).alias("n_removed"),
        flag(in_a & in_b & (F.col("a_h") != F.col("b_h"))).alias("n_changed"),
        flag(in_a & in_b & (F.col("a_h") == F.col("b_h"))).alias("n_unchanged"),
    )
