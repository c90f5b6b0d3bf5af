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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
