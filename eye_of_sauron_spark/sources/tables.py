"""Batch table registry over the driver's parquet fixtures.

The reference's data model is keyed JSON messages on Kafka topics with
implicit schemas (reference src/params.py:9-17, src/utils.py:24-28);
here every dataset is a parquet-backed DataFrame with an explicit
schema, so Catalyst gets pushdown / pruning / stats for free.

At cluster scale these reads would point at object-store prefixes; the
scan path (vectorized parquet reader, predicate pushdown, partition
pruning) is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # externally-built sessions (the correctness driver's) may carry a
    # local timezone; timestamp semantics (window boundaries, day-of-
    # week, epoch math) must match the UTC-naive DuckDB oracle, so pin
    # it here — verified: a non-UTC session shifts window bounds and
    # even row counts (date_trunc('week') crossing a week boundary)
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # tz-naive TIMESTAMP(MICROS) parquet would otherwise surface as
    # TIMESTAMP_NTZ (Spark 4 default), which rejects epoch functions
    # (unix_micros) and diverges from the UTC-naive DuckDB oracle; read
    # it as plain TIMESTAMP in the UTC session zone — same instants.
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None) != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects
        # outright (PARQUET_TYPE_ILLEGAL). Sessions built by
        # session.get_spark set spark.sql.legacy.parquet.nanosAsLong at
        # startup; externally-provided sessions (the driver's) may not,
        # so ensure it here — without flipping a conf the caller already
        # chose. We truncate ns -> us below, matching DuckDB's parquet
        # reader so oracle comparisons see identical values.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer division: ns values (~1.7e18) exceed double's 53-bit
            # mantissa, so a float divide would corrupt the timestamp
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition on ``keys`` with an EXPLICIT partition count before
    CPU-heavy narrow work (shingling, hashing, per-vector folds). The
    local fixtures scan as a single parquet split, which would
    serialize that work on one core (at the 10x probe the brute-force
    cosine scorer ran as one 149 s task), and the byte-based AQE coalescer
    would undo a bare ``repartition(key)`` (tiny bytes, huge per-row
    CPU), so the count is pinned to defaultParallelism, which AQE
    respects. At 100 TB the exchange is no-op-sized relative to the
    scan and also evens out skewed input file sizes."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def top_k(df: DataFrame, k: int, order: list[Column], *cols: Column | str) -> DataFrame:
    """``(rank, *cols)`` of the ``k`` first rows of ``df`` under
    ``order``, ranked from 1. The cut is orderBy + limit
    (TakeOrderedAndProject: per-partition k-heaps, never a global sort)
    and the unpartitioned rank window runs over the k surviving rows
    only. ``order`` must end in a unique key, so the rank is
    deterministic. The rank is cast to INT, the type every ranked
    oracle declares (a no-op on ``row_number``)."""
    rank = F.row_number().over(W.orderBy(*order)).cast("int")
    return df.orderBy(*order).limit(k).select(rank.alias("rank"), *cols)


def top_k_per(
    df: DataFrame, k: int, by: str, order: list[Column], *cols: Column | str
) -> DataFrame:
    """``(rank, *cols)`` of the ``k`` first rows of every ``by`` group
    under ``order``, ranked from 1 within the group: one ``row_number``
    window and a ``rank <= k`` filter (which the optimizer may push
    ahead of the window as a per-partition WindowGroupLimit)."""
    rank = F.row_number().over(W.partitionBy(by).orderBy(*order))
    return df.select(rank.alias("rank"), *cols).filter(F.col("rank") <= k)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
