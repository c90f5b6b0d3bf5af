"""The standing-query pipeline analog: stream-static broadcast join,
per-key sink routing, checkpointed exactly-once file sink.

Reference mapping:
- A5  broadcast query ingestion (src/prediction_producer.py:222-228,
  web/views.py:165-169): the matcher blocks until target faces are
  broadcast; here the targets are a small static DataFrame joined to
  the stream — an empty static side simply yields no output rather
  than blocking.
- A9  per-camera result topics (``predicted_..._{cam}``,
  src/params.py:17, prediction_producer.py:269-271): a computed
  ``topic`` column; the Kafka sink routes per-row on it, and the file
  sink below materializes the identical layout with partitionBy.
- A10 manual per-message offset commits (prediction_producer.py:
  109-111): replaced by the checkpoint location — re-running a
  drained stream emits nothing new (verified in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .harness import drain_stream

TOPIC_PREFIX = "predicted_object_raw_frame_topic_"


def match_stream(events: DataFrame, targets: DataFrame) -> DataFrame:
    """Stream-static broadcast join: keep only events whose user is a
    broadcast target (the standing query's match stage), tag each row
    with its routing topic."""
    return (
        events.join(F.broadcast(targets), "user_id")
        .withColumn(
            "topic",
            F.concat(F.lit(TOPIC_PREFIX), (F.col("user_id") % 4).cast("string")),
        )
    )


def run_match_rebroadcast_stream(
    events_stream: DataFrame,
    targets_path: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """A5 with DYNAMIC target re-broadcast: the reference swaps the
    target-face set mid-stream when a user re-uploads (web/views.py:
    144-216, 165-169) and every matcher picks the new set up for
    subsequent frames. Spark analog: the target table lives at a path
    and foreachBatch RE-READS it at every micro-batch, so an overwrite
    of the table between micro-batches swaps the broadcast side for
    all later batches — no query restart, no code change. The target
    table carries a ``target_version`` column that flows into the
    output, making "which target set matched this row" an auditable,
    oracle-checkable fact rather than a timing accident.

    Scale shape: the per-batch re-read is a tiny parquet scan (the
    target set is query-sized, not corpus-sized) followed by an
    explicit broadcast; the stream side never re-shuffles."""

    def _match(batch: DataFrame, _epoch_id: int) -> None:
        targets = batch.sparkSession.read.parquet(targets_path)
        (
            batch.join(F.broadcast(targets), "user_id")
            .withColumn(
                "topic",
                F.concat(
                    F.lit(TOPIC_PREFIX), (F.col("user_id") % 4).cast("string")
                ),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    drain_stream(events_stream, lambda w: w.foreachBatch(_match), checkpoint_dir)


def run_face_pipeline_stream(
    frames_stream: DataFrame,
    targets: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """The reference's standing query as an actual stream: raw frames
    arrive as micro-batches, each batch runs the full A4->A7 pipeline
    (detect -> embed -> broadcast-match vs the static target set ->
    annotate; eye_of_sauron_spark.ml.pipeline.face_pipeline) and the
    per-camera results land partitioned (the per-camera topic layout,
    A9) behind one checkpoint (A10). foreachBatch is sound here
    because a frame's faces never split across batches — every face
    comes from its frame's single input row."""
    from ..ml.pipeline import face_pipeline

    drain_stream(
        frames_stream,
        lambda w: w.foreachBatch(
            lambda batch, _eid: face_pipeline(batch, targets)
            .write.mode("append")
            .partitionBy("camera")
            .parquet(out_dir)
        ),
        checkpoint_dir,
    )


def run_routed_file_sink(
    routed: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Checkpointed availableNow drain into a topic-partitioned file
    sink (the Kafka-sink stand-in: one directory per topic)."""
    drain_stream(
        routed,
        lambda w: w.foreachBatch(
            lambda batch, _eid: batch.write.mode("append")
            .partitionBy("topic")
            .parquet(out_dir)
        ),
        checkpoint_dir,
    )
