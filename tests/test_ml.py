"""ML-inference harness tests: stub-model determinism, the
first-match-wins (NOT nearest) semantics of the reference matcher
(src/prediction_producer.py:321-323), per-face explode shapes, and
the end-to-end pipeline schema — the analog of the reference's
tests/test_messages.py:31-43,76-82 schema assertions."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from eye_of_sauron_spark.functions.vector import euclid_spark
from eye_of_sauron_spark.ml.models import (
    EMBED_DIM,
    annotate_np,
    detect_faces_np,
    embed_faces_np,
)
from eye_of_sauron_spark.ml.pipeline import (
    detect_embed,
    frames_from_events,
    ml_face_pipeline,
)
from eye_of_sauron_spark.sources import load_table


def test_stub_models_deterministic():
    img = b"\x02fake-image-bytes" * 4
    b1, b2 = detect_faces_np(img), detect_faces_np(img)
    assert b1 == b2 and len(b1) == 2  # first byte 0x02 -> 2 faces
    for top, right, bottom, left in b1:
        assert right > left and bottom > top
    e1 = embed_faces_np(img, b1)
    e2 = embed_faces_np(img, b1)
    assert e1 == e2
    assert len(e1) == 2 and all(len(v) == EMBED_DIM for v in e1)
    assert detect_faces_np(b"") == [] and detect_faces_np(None) == []


def test_annotate_header():
    img = b"\x01payload"
    out = annotate_np(img, [[1, 60, 50, 10]], ["person_1"])
    assert out.startswith(b"ANNOT[person_1@1,60,50,10]")
    assert out.endswith(img)
    # no faces -> empty header, original bytes preserved
    assert annotate_np(img, [], []) == b"ANNOT[]" + img


def test_first_match_wins_not_nearest(spark):
    """A face within tol of targets 1 and 2, strictly CLOSER to 2 —
    the reference picks target 1 (upload order), not the nearest."""
    face = [float(i) for i in range(4)]
    t1 = [v + 0.3 for v in face]  # dist 0.6
    t2 = [v + 0.1 for v in face]  # dist 0.2 (closer)
    faces = spark.createDataFrame([Row(fid=0, emb=face)])
    targets = spark.createDataFrame(
        [Row(target_idx=1, te=t1), Row(target_idx=2, te=t2)]
    )
    dist = euclid_spark(F.col("emb"), F.col("te"))
    got = (
        faces.crossJoin(F.broadcast(targets))
        .groupBy("fid")
        .agg(F.min(F.when(dist <= 1.0, F.struct("target_idx"))).alias("m"))
        .select("fid", F.col("m.target_idx").alias("picked"))
        .collect()
    )
    assert got == [Row(fid=0, picked=1)]


def test_detect_embed_explode_shape(spark, sf_dir):
    faces = detect_embed(
        frames_from_events(load_table(spark, sf_dir, "events"))
    ).cache()
    try:
        # frames with zero faces survive the outer explode with null box
        n_frames = faces.select("camera", "frame_num").distinct().count()
        assert n_frames == frames_from_events(
            load_table(spark, sf_dir, "events")
        ).count()
        with_box = faces.filter(F.col("box").isNotNull())
        assert with_box.count() > 0
        bad = with_box.filter(
            (F.size("box") != 4) | (F.size("emb") != EMBED_DIM)
        ).count()
        assert bad == 0
        # identical payloads embed identically (what makes targets match)
        dup = (
            with_box.groupBy("payload", "face_idx")
            .agg(F.countDistinct(F.col("emb").cast("string")).alias("n"))
            .filter("n > 1")
            .count()
        )
        assert dup == 0
    finally:
        faces.unpersist()


def test_face_pipeline_end_to_end(spark, sf_dir):
    out = ml_face_pipeline(spark, sf_dir).cache()
    try:
        assert [f.name for f in out.schema.fields] == [
            "camera",
            "frame_num",
            "n_faces",
            "prediction",
            "annot_ok",
        ]
        total = out.count()
        assert total > 0
        # every frame appears exactly once
        assert out.select("camera", "frame_num").distinct().count() == total
        # frame prediction is the FIRST face's name (reference
        # prediction_producer.py:351-353), so only targets that are
        # face 0 of their frame propagate — but those always self-match
        assert out.filter("prediction != 'Unknown'").count() >= 1
        # zero-face frames predict Unknown
        assert out.filter("n_faces = 0 AND prediction != 'Unknown'").count() == 0
        # the in-plan annotate contract holds on every frame (39 bytes
        # exactly for zero faces, strictly more once faces render)
        assert out.filter("NOT annot_ok").count() == 0
    finally:
        out.unpersist()
