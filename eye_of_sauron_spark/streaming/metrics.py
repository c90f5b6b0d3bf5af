"""Pipeline observability — the reference's A8 latency accounting
(``latency = now - ingest_ts`` appended per message and written to a
per-process CSV, src/prediction_producer.py:355-361, 229-238),
re-expressed with the engine's native metric channel:

- :func:`with_latency` derives the latency column inside the plan;
- ``df.observe(...)`` attaches aggregate metrics that the engine
  computes *inside the running query* (no second pass, no extra
  action);
- :class:`MetricsListener` receives them per micro-batch via
  ``StreamingQueryListener`` — per-batch aggregates instead of the
  reference's per-row CSV writes, which is the only shape that
  survives 100 TB (a metrics row per input row is itself a 100 TB
  write amplification).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

OBSERVATION = "latency_metrics"


def latency_col(ts: Column) -> Column:
    """Milliseconds between event time and processing wall-clock —
    the reference's float-seconds subtraction, typed."""
    return F.unix_millis(F.current_timestamp()) - F.unix_millis(ts)


def with_latency(df: DataFrame) -> DataFrame:
    return df.withColumn("latency_ms", latency_col(F.col("ts")))


def observed(df: DataFrame) -> DataFrame:
    """Attach in-query latency aggregates (rows, avg/max latency).
    Works identically on batch and streaming DataFrames."""
    return df.observe(
        OBSERVATION,
        F.count(F.lit(1)).alias("n_rows"),
        F.avg("latency_ms").alias("avg_latency_ms"),
        F.max("latency_ms").alias("max_latency_ms"),
    )


def latest_by_batch(batches: list[dict]) -> list[dict]:
    """Collapse listener events to ONE per batch_id, keeping the
    latest event (events arrive in bus order, so last write wins).

    A micro-batch re-executed after a checkpoint recovery/retry emits
    a second progress event for the same batch_id; summing raw events
    would over-count delivered rows and duplicate per-batch output
    (r10 ADVICE, replay.py)."""
    by_id: dict[int, dict] = {}
    for b in batches:
        by_id[b["batch_id"]] = b
    return sorted(by_id.values(), key=lambda b: b["batch_id"])


class MetricsListener(StreamingQueryListener):
    """Collects per-micro-batch observed metrics + engine progress
    (inputRowsPerSecond etc.) — the CSV-log analog, fed by the
    engine's own event bus rather than per-row side effects."""

    def __init__(self, observation: str = OBSERVATION) -> None:
        self.observation = observation
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        row = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "observed": dict(p.observedMetrics.get(self.observation).asDict())
            if p.observedMetrics.get(self.observation) is not None
            else None,
        }
        self.batches.append(row)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
