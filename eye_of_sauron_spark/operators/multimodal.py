"""Multimodal column plumbing: opaque binary media + typed metadata,
decoded/sampled via Arrow-batched ``mapInPandas``.

The reference ships every frame as a base64 tensor triple
(src/utils.py:248-264: bytes + shape + dtype) and decodes with cv2
(src/utils.py:24-28, prediction_producer.py:137). Real image/audio
libraries are not in this container, so the codec here is a
deterministic fake container format — ``IMG1`` header, big-endian
dims, raw payload — while everything Spark-side is production-shaped:
BinaryType columns built by JVM expressions, metadata structs,
``mapInPandas`` decode with schema'd 1->1 and 1->N output, and DuckDB
oracles that re-derive the expected metadata through independent
arithmetic (the round-trip check).

Scale notes: encode is whole-stage-codegen'd expression work; decode
and frame-sampling are narrow ``mapInPandas`` passes (no shuffle), so
both scale linearly with input splits. Binary payloads ride Arrow
buffers between JVM and Python — no base64 inflation like the
reference's JSON transport.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources import load_table

_MAGIC = b"IMG1"
_PAYLOAD_CAP = 64
_FRAME_BYTES = 8
_FRAME_STEP = 3
_VIDEO_FILTER = "event_id % 50 = 0"


def _be16(col: Column) -> Column:
    return F.unhex(F.lpad(F.hex(col), 4, "0"))


def encode_images(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, image BinaryType, meta struct). The IMG1
    container is assembled entirely with JVM expressions: magic,
    2-byte width/height, 1-byte channels, then the first 64 text
    bytes as payload."""
    width = (F.lit(16) + F.col("n_chars") % 32).cast("int")
    height = (F.lit(16) + F.col("doc_id") % 32).cast("int")
    image = F.concat(
        F.lit(_MAGIC),
        _be16(width),
        _be16(height),
        F.unhex(F.lpad(F.hex(F.lit(3)), 2, "0")),
        F.encode(F.substring("text", 1, _PAYLOAD_CAP), "utf-8"),
    )
    return docs.select(
        "doc_id",
        image.alias("image"),
        F.struct(
            width.alias("width"), height.alias("height"), F.lit(3).alias("channels")
        ).alias("meta"),
    )


def image_stats(images: DataFrame) -> DataFrame:
    """Decode the IMG1 image column batch-wise and emit per-image
    stats. 1->1 ``mapInPandas``: header parse + payload measurements
    happen in Python over Arrow batches, never per-row over the wire.
    A real decoder (cv2/PIL) would replace the header parse and keep
    the schema and plan shape."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["image"]):
                b = bytes(blob)
                assert b[:4] == _MAGIC, "bad magic"
                w, h = struct.unpack(">HH", b[4:8])
                ch = b[8]
                rows.append((int(doc_id), w, h, ch, w * h * ch, len(b) - 9))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "channels",
                    "n_pixels",
                    "payload_len",
                ],
            )

    return images.mapInPandas(
        decode,
        "doc_id long, width int, height int, channels int, "
        "n_pixels int, payload_len int",
    )


@query(
    "multimodal_image_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(16 + n_chars % 32 AS INT) AS width,
           CAST(16 + doc_id % 32 AS INT) AS height,
           3 AS channels,
           CAST((16 + n_chars % 32) * (16 + doc_id % 32) * 3 AS INT) AS n_pixels,
           CAST(least({_PAYLOAD_CAP}, n_chars) AS INT) AS payload_len
    FROM documents
    """,
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip check: encode documents into IMG1 binaries with JVM
    expressions, decode them back in mapInPandas; the oracle derives
    the same stats by independent arithmetic on the source columns —
    any codec asymmetry breaks the hash."""
    return image_stats(encode_images(load_table(spark, sf_dir, "documents")))


def resize_images(images: DataFrame) -> DataFrame:
    """Binary -> binary ``mapInPandas``: decode each IMG1 container,
    halve its dimensions and subsample the payload (every second
    byte — the fake codec's nearest-neighbor), and
    re-encode a valid IMG1 container. The output column is BinaryType
    again, so the stage composes with any other decoder — which is
    exactly how the oracle checks it (resize -> image_stats chain)."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["image"]):
                b = bytes(blob)
                assert b[:4] == _MAGIC, "bad magic"
                w, h = struct.unpack(">HH", b[4:8])
                ch = b[8]
                payload = b[9:][::2]
                out = (
                    _MAGIC
                    + struct.pack(">HH", max(1, w // 2), max(1, h // 2))
                    + bytes([ch])
                    + payload
                )
                ids.append(int(doc_id))
                blobs.append(out)
            yield pd.DataFrame({"doc_id": ids, "image": blobs})

    return images.select("doc_id", "image").mapInPandas(
        resize, "doc_id long, image binary"
    )


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           CAST((16 + n_chars % 32) // 2 AS INT) AS width,
           CAST((16 + doc_id % 32) // 2 AS INT) AS height,
           3 AS channels,
           CAST(((16 + n_chars % 32) // 2) * ((16 + doc_id % 32) // 2) * 3
                AS INT) AS n_pixels,
           CAST((least({_PAYLOAD_CAP}, n_chars) + 1) // 2 AS INT) AS payload_len
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize stage of a media pipeline, round-trip checked:
    encode (JVM expressions) -> resize (binary->binary mapInPandas)
    -> decode stats (a SECOND independent mapInPandas pass over the
    resized binaries). The oracle re-derives every output in closed
    form from the source columns, so a malformed resized container —
    wrong header, wrong dims, wrong payload stride — fails the hash.
    Scale: both passes are narrow Arrow-batched maps; binary payloads
    never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return image_stats(resize_images(encode_images(docs)))


def build_videos(events: DataFrame) -> DataFrame:
    """events -> (event_id, video BinaryType, n_frames). A "video" is
    1 + event_id % 12 concatenated 8-byte frames; byte j of frame i
    is (event_id*7 + i*13 + j) % 256 — closed-form, so the sampling
    oracle can recompute checksums without touching bytes. The binary
    is genuinely assembled JVM-side via a higher-order aggregate."""
    n_frames = (F.lit(1) + F.col("event_id") % 12).cast("int")

    def frame(i: Column) -> Column:
        return F.concat(
            *[
                F.unhex(
                    F.lpad(
                        F.hex(
                            (F.col("event_id") * 7 + i * 13 + F.lit(j)) % 256
                        ),
                        2,
                        "0",
                    )
                )
                for j in range(_FRAME_BYTES)
            ]
        )

    video = F.aggregate(
        F.sequence(F.lit(0), n_frames - 1),
        F.lit(b""),
        lambda acc, i: F.concat(acc, frame(i)),
    )
    return events.filter(F.expr(_VIDEO_FILTER)).select(
        "event_id", video.alias("video"), n_frames.alias("n_frames")
    )


def sample_frames(videos: DataFrame, step: int = _FRAME_STEP) -> DataFrame:
    """1->N ``mapInPandas``: split each video into 8-byte frames and
    emit every ``step``-th with its byte checksum."""

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for event_id, blob in zip(pdf["event_id"], pdf["video"]):
                b = bytes(blob)
                for i in range(0, len(b) // _FRAME_BYTES, step):
                    fr = b[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    ids.append(int(event_id))
                    idxs.append(i)
                    sums.append(sum(fr))
            yield pd.DataFrame(
                {"event_id": ids, "frame_idx": idxs, "checksum": sums}
            )

    return videos.mapInPandas(
        sampler, "event_id long, frame_idx int, checksum int"
    )


def extract_frame_features(videos: DataFrame) -> DataFrame:
    """1->N ``mapInPandas`` feature extractor: every
    ``_FRAME_STEP``-th frame yields a (mean, min, max) byte-intensity
    feature row — the stub stand-in for a real per-frame CNN/audio
    feature pass. Same Arrow batch shape a real extractor would use;
    swap the body, keep the plan."""

    def extractor(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, means, mins, maxs = [], [], [], [], []
            for event_id, blob in zip(pdf["event_id"], pdf["video"]):
                b = bytes(blob)
                for i in range(0, len(b) // _FRAME_BYTES, _FRAME_STEP):
                    fr = b[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    ids.append(int(event_id))
                    idxs.append(i)
                    means.append(round(sum(fr) / len(fr), 4))
                    mins.append(min(fr))
                    maxs.append(max(fr))
            yield pd.DataFrame(
                {
                    "event_id": ids,
                    "frame_idx": idxs,
                    "f_mean": means,
                    "f_min": mins,
                    "f_max": maxs,
                }
            )

    return videos.mapInPandas(
        extractor,
        "event_id long, frame_idx int, f_mean double, f_min int, f_max int",
    )


_FRAME_BYTE_TERMS = [
    f"(v.event_id*7 + i*13 + {j}) % 256" for j in range(_FRAME_BYTES)
]


@query(
    "multimodal_frame_features",
    oracle=f"""
    WITH v AS (
        SELECT event_id, CAST(1 + event_id % 12 AS INT) AS n_frames
        FROM events WHERE {_VIDEO_FILTER}
    )
    SELECT v.event_id,
           CAST(i AS INT) AS frame_idx,
           round(({' + '.join(_FRAME_BYTE_TERMS)}) / {_FRAME_BYTES}.0, 4) AS f_mean,
           CAST(least({', '.join(_FRAME_BYTE_TERMS)}) AS INT) AS f_min,
           CAST(greatest({', '.join(_FRAME_BYTE_TERMS)}) AS INT) AS f_max
    FROM v, unnest(range(0, v.n_frames, {_FRAME_STEP})) AS t(i)
    """,
)
def multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame feature extraction over the binary video column —
    the decode -> feature stage of a media training pipeline. The
    mapInPandas extractor computes byte-intensity (mean, min, max)
    per sampled frame; the oracle re-derives all three in closed form
    from the frame formula, so any mis-sliced frame boundary or
    off-by-one in the sampling stride fails the hash."""
    return extract_frame_features(build_videos(load_table(spark, sf_dir, "events")))


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH v AS (
        SELECT event_id, CAST(1 + event_id % 12 AS INT) AS n_frames
        FROM events WHERE {_VIDEO_FILTER}
    )
    SELECT v.event_id,
           CAST(i AS INT) AS frame_idx,
           CAST({' + '.join(f'(v.event_id*7 + i*13 + {j}) % 256'
                            for j in range(_FRAME_BYTES))} AS INT) AS checksum
    FROM v, unnest(range(0, v.n_frames, {_FRAME_STEP})) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip check for the video path: JVM-built frame blobs,
    mapInPandas every-3rd-frame sampling, checksums re-derived by the
    oracle in closed form."""
    return sample_frames(build_videos(load_table(spark, sf_dir, "events")))


# ----------------------------------------------- audio (PCM16 AUD1)

_AUD_MAGIC = b"AUD1"
_AUD_RATE = 16000
_AUD_WIN = 16
_AUD_STRIDE = 8
# varied lengths where EVERY class leaves a short remainder window
# (n - 16 indivisible by the stride for all five): 21, 31, 41, 51, 61
# samples -> final windows of 13/15/9/11/13 samples
_AUD_N_EXPR = "21 + (doc_id % 5) * 10"


def _aud_sample(doc_id: Column, i: Column) -> Column:
    """Deterministic int16 sample s(doc, i) — the hyperplane-family
    quadratic, shifted to [-32768, 32767]. Used by the ENCODER only;
    the decoder parses bytes, the oracle recomputes the closed form,
    so an encode/decode asymmetry fails the hash."""
    q = doc_id * 31 + i * 17 + (doc_id + i) * (doc_id + i) * 7
    return (q % 65536) - 32768


def encode_audio(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, audio BinaryType). The AUD1 container is
    assembled entirely with JVM expressions: magic, big-endian 2-byte
    sample_rate / channels / n_samples header, then n_samples
    LITTLE-endian signed 16-bit PCM samples (the wire layout of WAV
    data chunks) — the whole payload rendered as one hex string and
    unhex'd once, so encode stays inside WholeStageCodegen."""
    n = F.expr(_AUD_N_EXPR).cast("int")
    doc_id = F.col("doc_id")

    def le16(u: Column) -> Column:  # unsigned 0..65535 -> LE hex chars
        return F.concat(
            F.lpad(F.hex(u % 256), 2, "0"),
            F.lpad(F.hex(F.floor(u / 256).cast("bigint")), 2, "0"),
        )

    idx = F.sequence(F.lit(0), n - 1)
    # two's-complement 16-bit wire value: pmod, NOT s + 32768 —
    # offset-binary would decode shifted under struct's signed "<h"
    payload_hex = F.array_join(
        F.transform(idx, lambda i: le16(F.pmod(_aud_sample(doc_id, i), 65536))),
        "",
    )
    audio = F.concat(
        F.lit(_AUD_MAGIC),
        _be16(F.lit(_AUD_RATE)),
        _be16(F.lit(1)),
        _be16(n),
        F.unhex(payload_hex),
    )
    return docs.select("doc_id", audio.alias("audio"))


def audio_windows(audio: DataFrame) -> DataFrame:
    """Fixed-size sliding windows over decoded PCM — the audio analog
    of frame sampling: parse the AUD1 header, reinterpret the payload
    as little-endian int16 (EXACT byte reinterpretation — this decode
    path is real, not a stub: PCM needs no media library), emit one
    row per window (size 16, stride 8, short remainder kept) with
    integer energy stats. 1->N ``mapInPandas`` over Arrow batches."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulators — the window math below is numpy
            # (frombuffer reinterpretation + one strided view per row),
            # not per-sample python; at wide-corpus scale the batch
            # cost is the Arrow transfer, not the decode (ADVICE r13)
            cols: dict[str, list] = {k: [] for k in (
                "doc_id", "window_idx", "sample_rate", "n_samples",
                "sum_sq", "peak")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["audio"]):
                b = bytes(blob)
                assert b[:4] == _AUD_MAGIC, "bad magic"
                rate, ch, n = struct.unpack(">HHH", b[4:10])
                # loud on empty payloads: the padded-window math below
                # would emit one all-zero window where the oracle emits
                # none — keep that divergence impossible
                assert n > 0, "empty PCM payload"
                # exact LE int16 reinterpretation, widened BEFORE the
                # square so sum_sq keeps int64 semantics
                s = np.frombuffer(b, dtype="<i2", count=n, offset=10).astype(
                    np.int64
                )
                n_w = max(0, -(-(n - _AUD_WIN) // _AUD_STRIDE)) + 1
                starts = np.arange(n_w, dtype=np.int64) * _AUD_STRIDE
                ends = np.minimum(starts + _AUD_WIN, n)
                # zero-pad to the last window's nominal end: pad samples
                # contribute 0 to sum_sq and 0 to |peak|, so the strided
                # view computes the short remainder window exactly while
                # n_samples counts only real samples
                pad = int(starts[-1]) + _AUD_WIN - n
                sp = np.concatenate([s, np.zeros(pad, np.int64)]) if pad > 0 else s
                wv = np.lib.stride_tricks.sliding_window_view(sp, _AUD_WIN)[
                    ::_AUD_STRIDE
                ][:n_w]
                cols["doc_id"].append(np.full(n_w, int(doc_id), np.int64))
                cols["window_idx"].append(np.arange(n_w, dtype=np.int32))
                cols["sample_rate"].append(np.full(n_w, rate, np.int32))
                cols["n_samples"].append((ends - starts).astype(np.int32))
                cols["sum_sq"].append((wv * wv).sum(axis=1))
                cols["peak"].append(np.abs(wv).max(axis=1).astype(np.int32))
            yield pd.DataFrame(
                {k: np.concatenate(v) if v else np.array([], np.int64)
                 for k, v in cols.items()}
            )

    return audio.mapInPandas(
        decode,
        "doc_id long, window_idx int, sample_rate int, n_samples int, "
        "sum_sq long, peak int",
    )


@query(
    "multimodal_audio_windows",
    oracle=f"""
    WITH spec AS (
        SELECT doc_id, CAST({_AUD_N_EXPR} AS INT) AS n FROM documents
    ),
    samples AS (
        SELECT doc_id, n, CAST(t.i AS INT) AS i,
               CAST(((doc_id * 31 + t.i * 17
                      + (doc_id + t.i) * (doc_id + t.i) * 7) % 65536)
                    - 32768 AS BIGINT) AS s
        FROM spec, unnest(range(0, n)) AS t(i)
    ),
    wins AS (
        SELECT doc_id, CAST(w.w AS INT) AS window_idx, s
        FROM samples,
             unnest(range(0, CAST(ceil(greatest(n - {_AUD_WIN}, 0)
                                       / {_AUD_STRIDE}.0) AS BIGINT) + 1))
                 AS w(w)
        WHERE i >= w.w * {_AUD_STRIDE}
          AND i < w.w * {_AUD_STRIDE} + {_AUD_WIN}
    )
    SELECT doc_id, window_idx,
           {_AUD_RATE} AS sample_rate,
           CAST(count(*) AS INT) AS n_samples,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(max(abs(s)) AS INT) AS peak
    FROM wins GROUP BY doc_id, window_idx
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing, round-trip checked: documents encode
    to AUD1 PCM16 containers with JVM expressions (WAV-style header +
    little-endian samples), then a 1->N mapInPandas pass parses the
    REAL bytes — PCM decode is exact reinterpretation, so no media
    library is needed — and windows them
    (size {_AUD_WIN}, stride {_AUD_STRIDE}, short remainders kept:
    lengths are chosen indivisible by the stride) with integer
    energy stats per window. The oracle re-derives every window from
    the closed-form sample generator, so a header/endianness/window
    arithmetic asymmetry anywhere in the chain fails the hash.

    Scale shape: encode is codegen'd expression work, decode+window
    is a narrow Arrow-batched map — no shuffle anywhere; at 100 TB
    of audio this is the scan-side feature-extraction pass, exactly
    like frame sampling for video (reference src/utils.py:24-28's
    decode generalized to the audio lane). Sample-rate/channel
    metadata ride the header like the IMG1 dims."""
    return audio_windows(encode_audio(load_table(spark, sf_dir, "documents")))
