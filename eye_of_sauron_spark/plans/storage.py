"""Storage-format ingest paths and physical-layout operators.

Two things a 100 TB deployment leans on that the parquet-only fixture
queries never exercise:

1. **JSONL / CSV ingest** — LLM corpora arrive as JSONL (one JSON doc
   per line, the lingua franca of web-scale text dumps) and CSV long
   before anyone parquet-izes them. The round-trip queries push the
   fixture through Spark's real text writers and schema-projected
   readers and then prove, against the parquet-derived oracle, that
   nothing was lost in the wire format. The reference's only
   serialization is JSON-over-Kafka (src/utils.py:248-264 np_to_json);
   these are the batch-file analog of that codec, driver-checked.

2. **Bucketed co-located joins** — at fact-fact scale (lineitem ⋈
   orders at 100 TB) the shuffle IS the query cost; pre-bucketing both
   tables on the join key at write time makes every subsequent join a
   zero-exchange, zero-sort merge of co-located buckets. The query
   performs the bucketed write + join end-to-end per invocation; the
   no-Exchange/no-Sort plan shape is pinned by tests/test_plans.py.

Temp dirs live under the system tmp root and are removed after the
results are materialized (localCheckpoint pins the rows).
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_duck, tokens_spark
from ..sources import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# -------------------------------------------------------- JSONL ingest

_JSONL_ORACLE = f"""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len({tokens_duck('text')})) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM documents
    GROUP BY lang, source
"""


@query("jsonl_roundtrip_ingest", oracle=_JSONL_ORACLE)
def jsonl_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest path, driver-checked: the documents table is
    written as real line-delimited JSON (Spark's json writer, one doc
    per line — the format web-scale text corpora actually ship in),
    read back through the schema-projected JSON reader, and
    aggregated; the result must match the parquet-derived oracle
    exactly, so any loss in the writer (escaping, unicode, null
    handling) or reader (type coercion, schema drift) fails the hash
    compare.

    Scale shape: an explicit read schema is the non-negotiable part —
    schema inference over 100 TB of JSONL is a full extra pass; with
    the schema given, the JSON scan is a single narrow pass that
    supports predicate pushdown on line-level short-circuit parse.
    The aggregate itself is the usual partial/final pair.
    """
    d = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="jsonl_ingest_", ignore_cleanup_errors=True
    ) as work:
        d.write.mode("overwrite").json(f"{work}/docs")
        back = spark.read.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).json(f"{work}/docs")
        out = (
            back.groupBy("lang", "source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
                F.sum(F.size(tokens_spark(F.col("text"))))
                .cast("bigint")
                .alias("total_tokens"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .localCheckpoint(eager=True)
        )
    return out


# ---------------------------------------------------------- CSV ingest

_CSV_ORACLE = """
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
"""


@query("csv_roundtrip_ingest", oracle=_CSV_ORACLE)
def csv_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest path with the two lossy traps handled explicitly:
    timestamps carry an explicit microsecond format (the default
    second-precision format silently truncates), and doubles rely on
    the writer's shortest-round-trip rendering. The events table
    round-trips through real CSV files and the per-type aggregate
    (counts, sums, min/max timestamps, distinct users) must match the
    parquet-derived oracle bit-for-bit.

    The JSON props column rides along as an opaque quoted string —
    proving the quote/escape path on data that embeds the delimiter
    and quote characters themselves."""
    ev = _t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    with tempfile.TemporaryDirectory(
        prefix="csv_ingest_", ignore_cleanup_errors=True
    ) as work:
        ev.write.mode("overwrite").option("header", "true").option(
            "timestampFormat", fmt
        ).csv(f"{work}/events")
        back = (
            spark.read.schema(
                "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING"
            )
            .option("header", "true")
            .option("timestampFormat", fmt)
            .csv(f"{work}/events")
        )
        out = (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .localCheckpoint(eager=True)
        )
    return out


# ------------------------------------------------------ bucketed join

_N_BUCKETS = 8

_BUCKETED_ORACLE = """
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


def write_bucketed(
    df: DataFrame, table: str, key: str, location: str, n_buckets: int = _N_BUCKETS
) -> None:
    """Write ``df`` as a bucketed+sorted managed table at ``location``:
    rows hash-routed on ``key`` into one file per bucket and sorted
    within it, so a later join on ``key`` between two tables bucketed
    the same way needs NO exchange — the scan partitions ARE the join
    partitions. This is the write-time contract that turns the
    fact-fact shuffle (the dominant cost at 100 TB) into a metadata
    property. (The in-partition Sort under the merge join remains —
    O(n) over already-sorted runs, no materialized shuffle; eliding it
    too needs ``spark.sql.legacy.bucketedTableScan.outputOrdering``,
    which is session-global and off by default since SPARK-28632, so
    it is deliberately not toggled here.)"""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # one write task per bucket (repartition uses the same murmur3 hash
    # as the bucket router) -> exactly one file per bucket, which is
    # what lets the reader trust the per-bucket sort order and elide
    # the Sort under a merge join; it also avoids the
    # n_tasks x n_buckets small-file explosion at scale
    (
        df.repartition(n_buckets, key)
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", f"{location}/{table}")
        .saveAsTable(table)
    )


@contextmanager
def _bucketed_tables(spark: SparkSession, sf_dir: str):
    """Yield ``(lb, ob)``: lineitem and orders written as bucketed
    tables on the order key (:func:`write_bucketed`) into a temp
    warehouse path, orders hinted to a merge join. Both tables are
    dropped from the catalog and their files deleted when the block
    exits, also on an exception."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    with tempfile.TemporaryDirectory(
        prefix="bucketed_join_", ignore_cleanup_errors=True
    ) as work:
        try:
            write_bucketed(li, "li_bucketed", "l_orderkey", work)
            write_bucketed(orders, "orders_bucketed", "o_orderkey", work)
            yield spark.table("li_bucketed"), spark.table("orders_bucketed").hint(
                "merge"
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS li_bucketed")
            spark.sql("DROP TABLE IF EXISTS orders_bucketed")


@query("join_bucketed_colocated", oracle=_BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with the shuffle paid at WRITE time: lineitem
    and orders are both written as 8-bucket tables hashed+sorted on
    the order key, then joined bucket-to-bucket — the executed plan
    has no Exchange under the merge join (pinned by
    tests/test_plans.py::test_bucketed_join_has_no_exchange). The
    ``merge`` hint keeps the demonstration honest at fixture scale,
    where AQE would otherwise broadcast the orders side.

    At 100 TB this is THE lever for repeated fact-fact joins: the
    bucketed layout is written once and every downstream join,
    aggregation, or window keyed on the bucket column runs
    exchange-free. The revenue rollup after the join still shuffles
    (by priority — inherent), but its input is the joined stream, not
    either full table.

    The bucketed tables are rewritten per invocation into a temp
    warehouse path (this is a correctness query, not a benchmark of
    the cached layout); results are pinned before the temp dir is
    dropped, and the catalog entries are removed."""
    with _bucketed_tables(spark, sf_dir) as (lb, ob):
        return (
            lb.join(ob, lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )


def bucketed_join_plan(spark: SparkSession, sf_dir: str) -> str:
    """The executed join plan BEFORE aggregation, for the plan-shape
    test: builds the same bucketed tables, returns the join's plan
    string, cleans up."""
    with _bucketed_tables(spark, sf_dir) as (lb, ob):
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        return joined._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------- z-order

_Z_BITS = 8          # bits per dimension -> 16-bit z-value
_Z_BUCKET_SHIFT = 8  # file/bucket granularity: 256 z-buckets


def _z_spark(ub, tb):
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftright(ub, i).bitwiseAND(1) * (1 << (2 * i))
            + F.shiftright(tb, i).bitwiseAND(1) * (1 << (2 * i + 1))
        )
    return z


def _z_duck(ub: str, tb: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({ub} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({tb} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_cluster_events",
    oracle=f"""
    WITH dims AS (
        SELECT CAST(user_id % 256 AS BIGINT) AS ub,
               CAST((date_part('day', ts) - 1) * 8
                    + date_part('hour', ts) // 3 AS BIGINT) AS tb
        FROM events
    ),
    z AS (
        SELECT ub, tb, {_z_duck('ub', 'tb')} >> {_Z_BUCKET_SHIFT} AS zbucket
        FROM dims
    )
    SELECT zbucket,
           count(*) AS n_events,
           CAST(count(DISTINCT ub) AS BIGINT) AS n_users,
           CAST(max(ub) - min(ub) AS BIGINT) AS u_span,
           CAST(max(tb) - min(tb) AS BIGINT) AS t_span
    FROM z
    GROUP BY zbucket
    """,
)
def zorder_cluster_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering census over events on the
    (user_id, time) predicate pair: interleave 8 bits of user bucket
    with 8 bits of 3-hour time bucket, group rows by z-value prefix
    (>> 8 = the would-be file), and report each bucket's min/max SPAN
    on both dimensions.

    Why this is the layout you want at 100 TB: parquet prunes
    row-groups by min/max stats, and a time-linear sort gives perfect
    time spans but unbounded user spans (every file contains every
    user — user-predicate scans read everything). Z-prefix buckets
    bound BOTH spans at ~2^4 of each dimension's range, so point/range
    predicates on EITHER column skip ~15/16 of files. The spans this
    query emits are that guarantee, measured — the deploy-time recipe
    is repartitionByRange(zvalue) + sortWithinPartitions(zvalue) +
    write, and the z-value itself is pure bit arithmetic inside
    codegen (no UDF), so the clustering pass is scan-speed."""
    ev = _t(spark, sf_dir, "events")
    dims = ev.select(
        (F.col("user_id") % 256).cast("bigint").alias("ub"),
        ((F.dayofmonth("ts") - 1) * 8 + F.floor(F.hour("ts") / 3))
        .cast("bigint")
        .alias("tb"),
    )
    z = dims.select(
        "ub", "tb", F.shiftright(_z_spark(F.col("ub"), F.col("tb")), _Z_BUCKET_SHIFT).alias("zbucket")
    )
    return z.groupBy("zbucket").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("ub").cast("bigint").alias("n_users"),
        (F.max("ub") - F.min("ub")).cast("bigint").alias("u_span"),
        (F.max("tb") - F.min("tb")).cast("bigint").alias("t_span"),
    )


# ------------------------------------------------------- compaction

_COMPACT_SMALL_FILES = 64  # simulated small-file ingest
_COMPACT_TARGET_FILES = 4


@query(
    "compact_small_files",
    oracle=f"""
    SELECT {_COMPACT_SMALL_FILES} AS n_files_before,
           {_COMPACT_TARGET_FILES} AS n_files_after,
           count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files maintenance pass every long-lived 100 TB table
    needs: streaming ingest / per-batch commits leave thousands of
    KB-size files, each costing a task + an open + a footer read per
    query, and this operator rewrites them into few right-sized ones.
    Here the pathology is created for real — documents written as 64
    tiny parquet files — then compacted with a repartition write to 4;
    the result row proves the rewrite was LOSSLESS (row count, content
    sum, id range recomputed from the compacted files) and reports the
    before/after file counts the maintenance job would log.

    At scale the target count comes from measured bytes
    (ceil(input_bytes / target_file_size)) rather than a constant, and
    the rewrite runs per partition-directory so it parallelizes and
    commits independently; the plan shape — scan, one round-robin
    exchange, write — is the same."""
    d = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="compact_", ignore_cleanup_errors=True
    ) as work:
        d.repartition(_COMPACT_SMALL_FILES).write.mode("overwrite").parquet(
            f"{work}/small"
        )
        small = spark.read.parquet(f"{work}/small")
        n_before = len(
            [f for f in os.listdir(f"{work}/small") if f.endswith(".parquet")]
        )
        small.repartition(_COMPACT_TARGET_FILES).write.mode("overwrite").parquet(
            f"{work}/compact"
        )
        n_after = len(
            [f for f in os.listdir(f"{work}/compact") if f.endswith(".parquet")]
        )
        out = (
            spark.read.parquet(f"{work}/compact")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .select(
                F.lit(n_before).alias("n_files_before"),
                F.lit(n_after).alias("n_files_after"),
                "n_rows",
                "total_chars",
                "min_doc",
                "max_doc",
            )
            .localCheckpoint(eager=True)
        )
    return out


# -------------------------------------------------- schema evolution

_EVO_SPLIT_MOD = 3  # doc_id % 3 == 0 rows arrive in the NEW schema


@query(
    "schema_evolution_ingest",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % {_EVO_SPLIT_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new_schema,
           CAST(sum(CASE WHEN doc_id % {_EVO_SPLIT_MOD} = 0
                         THEN n_chars ELSE 0 END) AS BIGINT) AS quality_chars
    FROM documents
    GROUP BY lang
    """,
)
def schema_evolution_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across ingest generations — the unavoidable state
    of a years-old 100 TB corpus: old files lack a column newer files
    carry. Written for real here as two parquet generations (the old
    one WITHOUT the ``quality_chars`` column, the new one with it),
    read back as one relation via ``mergeSchema``; rows from old files
    surface the missing column as NULL, and the aggregate must account
    for exactly the new-generation rows. The oracle reconstructs the
    same numbers from the unsplit table.

    mergeSchema is the read-time half of evolution; the scale note is
    that it reconciles footers from EVERY file (expensive on millions
    of files), so production tables pin the merged schema in a
    catalog/manifest instead — the read semantics (NULL-fill, by-name
    resolution) are identical, which is what this checks."""
    d = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="schema_evo_", ignore_cleanup_errors=True
    ) as work:
        old = d.filter(F.col("doc_id") % _EVO_SPLIT_MOD != 0).select(
            "doc_id", "lang", "n_chars"
        )
        new = d.filter(F.col("doc_id") % _EVO_SPLIT_MOD == 0).select(
            "doc_id",
            "lang",
            "n_chars",
            F.col("n_chars").alias("quality_chars"),
        )
        old.write.mode("overwrite").parquet(f"{work}/t/gen=0")
        new.write.mode("overwrite").parquet(f"{work}/t/gen=1")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{work}/t/gen=0", f"{work}/t/gen=1"
        )
        out = (
            merged.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("quality_chars").isNotNull().cast("int"))
                .cast("bigint")
                .alias("n_new_schema"),
                F.coalesce(F.sum("quality_chars"), F.lit(0))
                .cast("bigint")
                .alias("quality_chars"),
            )
            .localCheckpoint(eager=True)
        )
    return out


# ------------------------------------------------ routed sink + pruning

_ROUTE_CAMERAS = 8  # reference: one results topic per camera (params.py:17)
_ROUTE_READ_CAM = 3  # the single partition the read-back touches


@query(
    "routed_sink_pruned_read",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id % {_ROUTE_CAMERAS} = {_ROUTE_READ_CAM}
    GROUP BY event_type
    """,
)
def routed_sink_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-camera routed sink (A9: one results topic
    per camera, src/params.py:17, prediction_producer.py:269-271) as
    a driver-checked ROUND TRIP: events are routed to a per-camera
    partitioned parquet layout (camera = user_id % {_ROUTE_CAMERAS},
    one directory per camera — operators/sinks.py::write_partitioned,
    with its pre-shuffle so each partition is written by one task),
    then ONE camera's consumer reads back ONLY its partition and
    aggregates. The oracle recomputes that camera's slice straight
    from the source table, so a routing error (row in the wrong
    partition), a lossy write, or a read that fails to isolate the
    partition all hash-mismatch.

    The read side filters on the PARTITION column, which Spark
    resolves into a directory-level PartitionFilter — zero non-camera
    files are opened (pytest pins PartitionFilters in the plan and
    the pruned InMemoryFileIndex count). At 100 TB this layout is the
    file-side equivalent of per-key topics: each consumer's scan cost
    is its own partition's bytes, independent of total table size."""
    from ..operators.sinks import write_partitioned

    ev = _t(spark, sf_dir, "events").withColumn(
        "camera", (F.col("user_id") % _ROUTE_CAMERAS).cast("bigint")
    )
    with tempfile.TemporaryDirectory(
        prefix="routed_sink_", ignore_cleanup_errors=True
    ) as work:
        write_partitioned(ev, f"{work}/routed", ["camera"])
        out = (
            spark.read.parquet(f"{work}/routed")
            .filter(F.col("camera") == _ROUTE_READ_CAM)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
            )
            .localCheckpoint(eager=True)
        )
    return out


# --------------------------------------------------------- ORC ingest

_ORC_ORACLE = """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT)))) AS BIGINT) AS checksum_micro,
           CAST(min(len(embedding)) AS INT) AS min_dims,
           CAST(max(len(embedding)) AS INT) AS max_dims,
           min(vec_id) AS min_vec,
           max(vec_id) AS max_vec
    FROM embeddings
    GROUP BY label
"""


@query("orc_roundtrip_ingest", oracle=_ORC_ORACLE)
def orc_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest path — the second columnar wire format a lakehouse
    meets (Hive-era warehouses hand off ORC exactly where web dumps
    hand off JSONL). The differentiator vs the CSV/JSONL round-trips:
    NESTED types. The embeddings table's array<float> column — which
    a flat text format cannot carry at all — is written to real ORC
    files and read back, and a per-label fixed-point checksum over
    every element (floor(v * 1e6 + 0.5) summed as BIGINT — floats are
    EXACT through any lossless format, so this is bit-fidelity, not
    tolerance) must match the parquet-derived oracle, along with the
    dimension and id range audits.

    Scale shape: one write + one scan + one per-label all-partial
    aggregate; the checksum is a narrow per-row fold. ORC brings the
    same pushdown/pruning contract as parquet (predicate pushdown,
    column projection, stripe-level min/max), so the choice between
    them at 100 TB is ecosystem, not plan shape — this query proves
    the ingest boundary is lossless so the rest of the engine can
    stay format-agnostic. Reference analog: the JSON wire codec
    (src/utils.py:248-264) — the batch-columnar counterpart of that
    serialization boundary, driver-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="orc_ingest_", ignore_cleanup_errors=True
    ) as work:
        emb.write.mode("overwrite").orc(f"{work}/embeddings")
        back = spark.read.orc(f"{work}/embeddings")
        checksum = F.aggregate(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 1000000 + F.lit(0.5)).cast(
                    "bigint"
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        out = (
            back.groupBy("label")
            .agg(
                F.count("*").cast("bigint").alias("n_vecs"),
                F.sum(checksum).cast("bigint").alias("checksum_micro"),
                F.min(F.size("embedding")).cast("int").alias("min_dims"),
                F.max(F.size("embedding")).cast("int").alias("max_dims"),
                F.min("vec_id").alias("min_vec"),
                F.max("vec_id").alias("max_vec"),
            )
            .localCheckpoint(eager=True)
        )
    return out
