"""The ML-inference pipeline: detect -> embed -> broadcast-match ->
annotate, as Catalyst-planned DataFrame stages around Arrow UDFs.

Reference mapping (SURVEY.md A4-A7):
- A4 detect+embed (src/prediction_producer.py:151-156): two pandas
  UDFs over the BinaryType frame column; faces explode to per-face
  rows with ``posexplode_outer`` (the UDTF shape, 1 -> N).
- A5 target broadcast (prediction_producer.py:222-228): the target
  set is a 4-row DataFrame cut from the stream itself (the "upload
  set"), broadcast into the match join — no driver collect.
- A6 match (prediction_producer.py:314-325): euclidean distance vs
  every broadcast target; the winner is the FIRST matching target in
  upload order — ``min(when(dist <= tol, struct(target_idx, ...)))``
  — NOT the nearest (argmin). That first-match-wins quirk is the
  reference's defining semantic and what ``ml_match_first_target``
  oracle-checks.
- A7 annotate (prediction_producer.py:328-350): per-frame
  reassembly of matched faces (groupBy + sort_array(collect_list))
  feeding a render UDF over the original bytes.

Scale notes: frames never shuffle until faces are already matched —
detect/embed are narrow maps, the match is a one-row broadcast of the
collected target array evaluated as a narrow higher-order expression,
and the only shuffles are the per-frame reassembly groupBy and the
4-row target limit. The same stage graph runs under readStream
(stream-static broadcast join; see streaming/pipeline.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, FloatType, IntegerType
from pyspark.sql.window import Window as W

from ..functions.vector import euclid_duck, euclid_spark
from ..plans.registry import query
from ..sources import load_table, spread
from .models import detect_series, embed_batch_np

_N_TARGETS = 8
_TOL = 1.25  # closest sf0.1 distance to this boundary is 2.2e-5 — no ULP flip
_PIPE_TOL = 0.5  # stub embeddings only match exactly (dist 0) or not at all
_PIPE_TARGETS = 4
_FRAME_FILTER = "event_id % 20 = 0"


@pandas_udf(ArrayType(ArrayType(IntegerType())))
def _detect_udf(images: pd.Series) -> pd.Series:
    return detect_series(images)


@pandas_udf(ArrayType(FloatType()))
def _embed_one_udf(images: pd.Series, boxes: pd.Series) -> pd.Series:
    # one vectorized hash pass over the whole Arrow batch — no
    # per-row Python inside the UDF body (models.embed_batch_np)
    return pd.Series(embed_batch_np(list(images), list(boxes)), index=images.index)


@pandas_udf(BinaryType())
def _annotate_udf(
    images: pd.Series, boxes: pd.Series, names: pd.Series
) -> pd.Series:
    from .models import annotate_np

    return pd.Series(
        [
            annotate_np(
                img,
                [list(b) for b in (bx if bx is not None else [])],
                list(nm) if nm is not None else [],
            )
            for img, bx, nm in zip(images, boxes, names)
        ],
        index=images.index,
    )


@query(
    "ml_match_first_target",
    oracle=f"""
    WITH t AS (
        SELECT vec_id AS tid, embedding AS te FROM embeddings
        ORDER BY vec_id LIMIT {_N_TARGETS}
    ),
    pairs AS (
        SELECT e.vec_id, t.tid,
               {euclid_duck('e.embedding', 't.te')} AS dist
        FROM embeddings e, t
    ),
    firsts AS (
        SELECT vec_id,
               min(tid) FILTER (WHERE dist <= {_TOL}) AS mtid,
               arg_min(dist, tid) FILTER (WHERE dist <= {_TOL}) AS mdist
        FROM pairs GROUP BY vec_id
    )
    SELECT vec_id,
           CASE WHEN mtid IS NULL THEN 'Unknown'
                ELSE 'person_' || CAST(mtid AS VARCHAR) END AS prediction,
           round(mdist, 6) AS match_dist
    FROM firsts
    """,
)
def ml_match_first_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 match semantics, oracle-checked: every corpus vector vs the
    8 lowest-vec_id targets (the "upload set"); prediction = FIRST
    target in upload order with euclidean distance <= tol, else
    'Unknown'. min(when(...)) over a (tid, dist) struct implements
    first-match-wins without a second join — one broadcast NLJ plus a
    partial-aggregated groupBy."""
    emb = load_table(spark, sf_dir, "embeddings")
    targets = (
        emb.orderBy("vec_id")
        .limit(_N_TARGETS)
        .select(F.col("vec_id").alias("tid"), F.col("embedding").alias("te"))
    )
    dist = euclid_spark(F.col("embedding"), F.col("te"))
    m = F.min(
        F.when(dist <= _TOL, F.struct(F.col("tid"), dist.alias("dist")))
    ).alias("m")
    return (
        emb.crossJoin(F.broadcast(targets))
        .groupBy("vec_id")
        .agg(m)
        .select(
            "vec_id",
            F.when(F.col("m").isNull(), F.lit("Unknown"))
            .otherwise(F.concat(F.lit("person_"), F.col("m.tid").cast("string")))
            .alias("prediction"),
            F.round(F.col("m.dist"), 6).alias("match_dist"),
        )
    )


def frames_from_events(events: DataFrame) -> DataFrame:
    """Synthesize the camera-frame stream from the events fixture:
    camera = user_id bucket, payload = deterministic 32-byte fake
    image. Payloads repeat across frames of the same (user bucket,
    event type) — the same "face" recurring across frames — so
    broadcast targets match many frames, like the reference's."""
    frames = events.filter(F.expr(_FRAME_FILTER)).select(
        (F.col("user_id") % 8).cast("int").alias("camera"),
        F.col("event_id").alias("frame_num"),
        F.unhex(
            F.sha2(
                F.concat_ws("|", (F.col("user_id") % 50), F.col("event_type")), 256
            )
        ).alias("payload"),
        # ingest timestamp as unix seconds — what the producer embeds
        # in the wire message (frame_producer.py:174) and the latency
        # metric subtracts; exact micros/1e6 so oracles can reproduce
        # the double bit-for-bit
        (F.unix_micros(F.col("ts")) / F.lit(1000000.0)).alias("t"),
    )
    # pin the partition count: the local fixture is one parquet split,
    # and the byte-based AQE coalescer would serialize the pandas-UDF
    # stages over it (tiny bytes, model-inference CPU per row)
    return spread(frames, "camera", "frame_num")


def detect_embed(frames: DataFrame) -> DataFrame:
    """A4: detect boxes, explode to per-face rows, embed each face.
    Narrow stages — no shuffle."""
    return _explode_boxes(frames).withColumn(
        "emb", _embed_one_udf("payload", "box")
    )


def _explode_boxes(frames: DataFrame) -> DataFrame:
    return frames.withColumn("boxes", _detect_udf("payload")).select(
        "camera",
        "frame_num",
        "payload",
        "boxes",
        F.posexplode_outer("boxes").alias("face_idx", "box"),
    )


def _first_k_faces(faces: DataFrame, k: int) -> DataFrame:
    """The first k detected faces of an exploded per-face relation in
    (frame_num, face_idx) order — the shared head of every target
    derivation (null boxes are zero-face frames, never targets)."""
    return (
        faces.filter(F.col("box").isNotNull())
        .orderBy("frame_num", "face_idx")
        .limit(k)
    )


def _name_targets(faces_k: DataFrame) -> DataFrame:
    """Naming tail of the target derivation: number the (already
    embedded, already limited) first faces in (frame_num, face_idx)
    order and shape the k-row (target_idx, te, tname) upload set."""
    return faces_k.withColumn(
        "target_idx",
        F.row_number().over(W.orderBy("frame_num", "face_idx")),
    ).select(
        "target_idx",
        F.col("emb").alias("te"),
        F.concat(F.lit("person_"), F.col("target_idx").cast("string")).alias(
            "tname"
        ),
    )


def first_faces_targets(frames: DataFrame, k: int = _PIPE_TARGETS) -> DataFrame:
    """The "upload set": the first k detected faces of the stream in
    (frame_num, face_idx) order, as a k-row broadcastable DataFrame
    (target_idx, te, tname) — no driver collect. Embedding happens
    AFTER the limit, so it costs k embed calls, not one per face."""
    return _name_targets(
        _first_k_faces(_explode_boxes(frames), k).withColumn(
            "emb", _embed_one_udf("payload", "box")
        )
    )


def face_pipeline(frames: DataFrame, targets: DataFrame) -> DataFrame:
    """A4->A7 over any (camera, frame_num, payload BinaryType) frames
    relation and a small (target_idx, te, tname) target set: detect ->
    per-face explode -> embed -> broadcast first-match -> per-frame
    reassembly -> annotate. Source-agnostic: runs identically in batch
    and inside a streaming foreachBatch (tests prove equality).

    Single-shuffle design: the target set collapses to ONE row holding
    an array of (target_idx, te, tname) structs, broadcast onto every
    face row; first-match-wins is then a narrow expression —
    ``array_min(filter(tarr, dist <= tol))`` — with no per-face
    aggregation. The frame payload (the real-image column, the only
    wide bytes at production scale) therefore crosses exactly one
    shuffle: the per-frame reassembly groupBy, map-side-combined to
    one payload per frame per map partition. The previous shape ran a
    k-way crossJoin into a per-face groupBy first, pushing payload
    bytes through two aggregations (round-4 verdict, ml_face_pipeline
    audit)."""
    return _match_annotate(detect_embed(frames), targets)


def _match_annotate(faces: DataFrame, targets: DataFrame) -> DataFrame:
    """The match -> reassemble -> annotate tail of
    :func:`face_pipeline` over an already detected+embedded per-face
    relation (camera, frame_num, payload, boxes, face_idx, box, emb).
    Split out (r17 optimization) so ``ml_face_pipeline`` can feed the
    SAME materialized detect+embed pass to both the target derivation
    and the match, instead of running the detect UDF over every frame
    twice."""
    tarr = targets.groupBy().agg(
        F.collect_list(F.struct("target_idx", "te", "tname")).alias("tarr")
    )
    # hits: broadcast targets that match this face, in upload order;
    # min over (target_idx, tname) = FIRST match, the A6 quirk
    hits = F.filter(
        "tarr", lambda t: euclid_spark(F.col("emb"), t["te"]) <= _PIPE_TOL
    )
    first_hit = F.array_min(
        F.transform(hits, lambda t: F.struct(t["target_idx"], t["tname"]))
    )
    # zero-face frames (null box from the outer explode) stay in the
    # pipeline: name stays null and the reassembly filter drops them
    named = faces.crossJoin(F.broadcast(tarr)).select(
        "camera",
        "frame_num",
        "payload",
        "boxes",
        "face_idx",
        "box",
        F.when(F.col("box").isNull(), F.lit(None))
        .otherwise(F.coalesce(first_hit["tname"], F.lit("Unknown")))
        .alias("name"),
    )
    per_frame = named.groupBy("camera", "frame_num").agg(
        F.first("payload").alias("payload"),
        F.first("boxes").alias("boxes"),
        F.filter(
            F.sort_array(F.collect_list(F.struct("face_idx", "box", "name"))),
            lambda x: x.box.isNotNull(),
        ).alias("fs"),
    )
    return per_frame.select(
        "camera",
        "frame_num",
        F.size("boxes").alias("n_faces"),
        F.coalesce(
            F.try_element_at("fs.name", F.lit(1)), F.lit("Unknown")
        ).alias("prediction"),
        F.length(
            _annotate_udf("payload", F.col("fs.box"), F.col("fs.name"))
        ).alias("annotated_len"),
    )


# The face-pipeline oracle reconstructs the WHOLE detect -> target ->
# first-match -> per-frame-prediction chain from the events table
# alone, using two stub identities: (1) the detect stub's face count
# is payload_byte0 % 3 (models.detect_faces_np), and (2) two faces
# embed identically IFF they share (payload, face_idx) — the embed
# seed is a pure function of (payload bytes, box) and boxes are a pure
# function of the payload — so with _PIPE_TOL = 0.5 over unit-cube
# random vectors, "match" is exactly (payload, face_idx) equality.
# The target set is the first _PIPE_TARGETS faces in
# (frame_num, face_idx) order; first-match-wins = min target_idx.
_FACE_PIPELINE_ORACLE = f"""
    WITH frames AS (
        SELECT CAST(user_id % 8 AS INT) AS camera,
               event_id AS frame_num,
               sha256(CAST(user_id % 50 AS VARCHAR) || '|' || event_type) AS ph
        FROM events WHERE {_FRAME_FILTER}
    ),
    nf AS (
        SELECT camera, frame_num, ph,
               CAST(((strpos('0123456789abcdef', substr(ph, 1, 1)) - 1) * 16 +
                     (strpos('0123456789abcdef', substr(ph, 2, 1)) - 1)) % 3
                    AS INT) AS n_faces
        FROM frames
    ),
    faces AS (
        SELECT camera, frame_num, ph, n_faces,
               unnest(range(CAST(n_faces AS BIGINT))) AS face_idx
        FROM nf
    ),
    targets AS (
        SELECT ph, face_idx,
               row_number() OVER (ORDER BY frame_num, face_idx) AS tidx
        FROM faces
        QUALIFY tidx <= {_PIPE_TARGETS}
    ),
    face0 AS (
        SELECT f.camera, f.frame_num, min(t.tidx) AS mt
        FROM faces f JOIN targets t
          ON f.ph = t.ph AND f.face_idx = t.face_idx
        WHERE f.face_idx = 0
        GROUP BY f.camera, f.frame_num
    )
    SELECT n.camera, n.frame_num, n.n_faces,
           CASE WHEN m.mt IS NULL THEN 'Unknown'
                ELSE 'person_' || CAST(m.mt AS VARCHAR) END AS prediction,
           TRUE AS annot_ok
    FROM nf n LEFT JOIN face0 m
      ON n.camera = m.camera AND n.frame_num = m.frame_num
"""


@query("ml_face_pipeline", oracle=_FACE_PIPELINE_ORACLE)
def ml_face_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end A4->A7 over frames synthesized from events; targets
    are the stream's own first 4 faces. The model stubs are
    deterministic pure functions of the payload bytes, which makes the
    whole chain oracle-checkable (see _FACE_PIPELINE_ORACLE): the
    driver hash-compares per-frame (n_faces, prediction) against a
    closed-form SQL reconstruction, and ``annot_ok`` pins the annotate
    stage in-plan (zero-face frames render to exactly the 7-byte
    header + 32-byte payload; any detected face must grow it).
    Remaining stub-dependent internals (box geometry, embedding
    values) stay pytest-verified in tests/test_ml.py.

    One detect+embed pass (r17 optimization, guide §4/§1.2): the
    target set is the stream's own first 4 faces, so deriving it with
    :func:`first_faces_targets` ran the detect UDF over EVERY frame a
    second time just to keep 4 rows. The exploded+embedded face
    relation is now localCheckpointed once; the targets are a
    TakeOrdered over those materialized rows (their ``emb`` is the
    same pure function of (payload, box) the old post-limit embed
    computed), and the match/annotate tail reads the same
    materialization — 2 ArrowEvalPython detect passes -> 1, and the
    old per-action target re-detect hazard is gone with the pass that
    caused it. (first_faces_targets stays as the streaming path's
    batch-side builder, where frames arrive per-micro-batch.)"""
    frames = frames_from_events(load_table(spark, sf_dir, "events"))
    # pinned with the returned result (drain_session releases it)
    faces = detect_embed(frames).localCheckpoint(eager=True)
    # same derivation first_faces_targets runs, minus its post-limit
    # embed: the materialized rows already carry emb (the identical
    # pure function of (payload, box))
    targets = _name_targets(_first_k_faces(faces, _PIPE_TARGETS))
    out = _match_annotate(faces, targets)
    annot_ok = (
        (F.col("n_faces") == 0) & (F.col("annotated_len") == 39)
    ) | ((F.col("n_faces") > 0) & (F.col("annotated_len") > 39))
    return out.select(
        "camera", "frame_num", "n_faces", "prediction", annot_ok.alias("annot_ok")
    )
