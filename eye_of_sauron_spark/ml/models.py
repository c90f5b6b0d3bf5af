"""Deterministic stub inference models behind Arrow-vectorized UDFs.

The reference's ML surface is dlib via ``face_recognition`` plus cv2
rendering, called row-at-a-time inside consumer loops:

- detect: ``face_recognition.face_locations`` -> (n, 4) int boxes
  (src/prediction_producer.py:151)
- embed: ``face_recognition.face_encodings`` -> (n, 128) float64
  (src/prediction_producer.py:155)
- annotate: cv2 rectangles + labels re-serialized to a tensor triple
  (src/prediction_producer.py:328-350)

Those libraries are not in this container, so each model is a
DETERMINISTIC FAKE: outputs are pure functions of the input bytes
(crc32-seeded), stable across runs, processes, and partitions. The
Spark-side contract — BinaryType in, nested-array out, Arrow batch
transfer, schema, null handling — is the real thing; swapping in the
real models is replacing the body of one numpy function.

Scale notes: all three run as ``pandas_udf`` / ``mapInPandas`` over
Arrow record batches — the per-batch Python cost is amortized over
thousands of rows, versus the reference's per-message Python loop.
Model weights (here: none) would ship via broadcast, loaded once per
executor in the UDF's init path, never per row.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

EMBED_DIM = 64  # matches the embeddings fixture; reference uses 128
MAX_FACES = 3


def _rng(payload: bytes, salt: int) -> np.random.RandomState:
    return np.random.RandomState((zlib.crc32(payload) ^ salt) & 0x7FFFFFFF)


def detect_faces_np(payload: bytes) -> list[list[int]]:
    """Stub ``face_locations``: 0..MAX_FACES-1 boxes (top, right,
    bottom, left), derived from the image bytes."""
    if payload is None or len(payload) == 0:
        return []
    rng = _rng(payload, 0xD37EC7)
    n = int(payload[0]) % MAX_FACES
    boxes = []
    for _ in range(n):
        top, left = int(rng.randint(0, 200)), int(rng.randint(0, 200))
        size = int(rng.randint(20, 80))
        boxes.append([top, left + size, top + size, left])
    return boxes


def _embed_seed(payload: bytes, box: list[int]) -> int:
    return (zlib.crc32(payload) ^ zlib.crc32(bytes(b % 256 for b in box))) & 0x7FFFFFFF


def _splitmix01(seeds: np.ndarray, dim: int) -> np.ndarray:
    """(n,) uint64 seeds -> (n, dim) float64 uniform in [0, 1), pure
    numpy (splitmix64 finalizer per (seed, position) cell). This is
    what makes the embed stub BATCH-vectorizable: the whole Arrow
    batch is one (n x dim) integer-hash grid instead of n per-row
    ``RandomState.uniform`` calls — the real model swap-in is equally
    batched (one forward pass per Arrow batch)."""
    j = np.arange(1, dim + 1, dtype=np.uint64)
    x = seeds[:, None].astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    x = x + j * np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def embed_faces_np(payload: bytes, boxes: list[list[int]]) -> list[list[float]]:
    """Stub ``face_encodings``: one EMBED_DIM vector per box, a pure
    function of (image bytes, box) so identical crops embed
    identically — which is what lets the exact-match tests assert
    dist == 0 for targets cut from the same frame."""
    if not boxes:
        return []
    seeds = np.array([_embed_seed(payload, list(b)) for b in boxes], dtype=np.uint64)
    return [[float(v) for v in row] for row in _splitmix01(seeds, EMBED_DIM)]


def embed_batch_np(payloads, boxes) -> list[list[float] | None]:
    """Batch embed: one vector per (payload, box) row, None where the
    box is None — the whole batch hashed in a single numpy pass (no
    per-row PRNG). Exactly ``embed_faces_np(img, [box])[0]`` per row;
    the per-row form delegates to the same hash so targets cut from
    the same frame still match at dist 0."""
    rows = list(zip(payloads, boxes))
    idx = [i for i, (_, bx) in enumerate(rows) if bx is not None]
    out: list[list[float] | None] = [None] * len(rows)
    if idx:
        seeds = np.array(
            [_embed_seed(rows[i][0], list(rows[i][1])) for i in idx],
            dtype=np.uint64,
        )
        vecs = _splitmix01(seeds, EMBED_DIM)
        for k, i in enumerate(idx):
            out[i] = [float(v) for v in vecs[k]]
    return out


def annotate_np(payload: bytes, boxes: list[list[int]], names: list[str]) -> bytes:
    """Stub cv2 annotate: prepend a deterministic render header
    (box count + labels) to the original bytes — same shape as the
    reference's re-serialized ``predicted_*`` tensor triple."""
    header = ";".join(
        f"{n or 'Unknown'}@{t},{r},{b},{le}" for (t, r, b, le), n in zip(boxes, names)
    )
    return b"ANNOT[" + header.encode() + b"]" + (payload or b"")


def detect_series(images: pd.Series) -> pd.Series:
    return images.map(detect_faces_np)


def make_embed_udf(weights_broadcast):
    """Factory for a weight-parameterized embed UDF — the production
    pattern for model parameters: the driver broadcasts them once
    (``spark.sparkContext.broadcast``), every executor deserializes
    once, and the Arrow-batched UDF reads ``.value`` per batch — vs
    the reference shipping the model implicitly via process fork
    (run_consumers.py) and the query faces via a Kafka topic
    (prediction_producer.py:222-228).

    ``weights_broadcast.value`` must be a dict with ``scale`` (float)
    and ``bias`` (float) applied element-wise to the stub embedding.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, FloatType

    @pandas_udf(ArrayType(FloatType()))
    def embed_with_weights(images: pd.Series, boxes: pd.Series) -> pd.Series:
        w = weights_broadcast.value  # deserialized once per executor
        s, b = float(w["scale"]), float(w["bias"])
        embs = embed_batch_np(list(images), list(boxes))
        return pd.Series(
            [[v * s + b for v in e] if e is not None else None for e in embs],
            index=images.index,
        )

    return embed_with_weights
