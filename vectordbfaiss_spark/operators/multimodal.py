"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
with decode / resize / frame-sampling as Arrow-batched
``mapInPandas`` stages.

The reference is text-only; this module is the north-star extension for
training-data pipelines (images/audio/video as first-class columns). The
container has no imaging libraries, so the DECODE KERNELS ARE STUBS — a
clearly-marked deterministic fake (seeded from the payload hash) with the
real library call gated behind an import-try. Everything Spark-side —
schemas, batch iteration, partition behavior, column contracts — is real
and tested; swapping in a real decoder changes only the body of the inner
Python function, not the plan.

Scale notes: payloads stay opaque bytes end-to-end (no JVM<->Python copies
until a kernel actually needs the pixels); kernels are mapInPandas so one
Arrow batch amortizes the Python crossing; metadata-only queries never touch
the binary column at all (Parquet column pruning drops it at the scan).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

try:  # real decoder, if ever available in the image
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except Exception:  # pragma: no cover - container has no PIL
    _HAVE_PIL = False


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def _fake_dims(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: dimensions derived from the payload hash.
    STUB — replace with the real decoder when an imaging lib exists."""
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 4


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test fixture builder: synthesize an opaque binary column + media type
    from a text table (UTF-8 payload). In production the payload column
    arrives from the lakehouse as real image/audio bytes."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "media_type",
        F.element_at(
            F.array(F.lit("image/png"), F.lit("image/jpeg"), F.lit("audio/wav")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
    )


def decode_image_metadata(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Decode stage: (id, payload) -> typed image metadata.

    mapInPandas: one Arrow batch in, one out; constant memory, no shuffle.
    """

    def kernel(batches):
        for pdf in batches:
            if _HAVE_PIL:  # pragma: no cover
                raise NotImplementedError(
                    "real PIL decode path not wired in this container"
                )
            dims = [_fake_dims(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "format": ["fake" for _ in dims],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, IMAGE_META_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize stage: payload -> payload at (target_w, target_h).

    STUB fake (no imaging lib in the container): the "resized" payload is
    the input truncated proportionally to the pixel-count ratio —
    floor(len * tw*th / (w*h)) bytes, >= 1 — with dims from the same fake
    decode as :func:`decode_image_metadata`. Real Spark plumbing: binary
    in, binary out, Arrow-batched, constant memory; a real implementation
    replaces only the kernel body (PIL ``Image.resize``).
    """

    def kernel(batches):
        for pdf in batches:
            ids, outs = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(p)
                w, h, _ = _fake_dims(b)
                n = max(1, (len(b) * target_w * target_h) // (w * h))
                ids.append(int(i))
                outs.append(b[:n])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": [target_w] * len(ids),
                    "height": [target_h] * len(ids),
                    "resized": outs,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, RESIZED_SCHEMA)


def sample_frames(
    df: DataFrame, n_frames: int = 4, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Frame-sampling stage ("video" -> n evenly-spaced frames).

    Deterministic fake: byte-range slices of the payload stand in for
    decoded frames; output is one row per (doc, frame) — the explode shape
    a real ffmpeg-backed kernel would produce.
    """

    def kernel(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(p)
                step = max(1, len(b) // n_frames)
                for f in range(n_frames):
                    ids.append(int(i))
                    idxs.append(f)
                    frames.append(b[f * step : (f + 1) * step])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, payload_col).mapInPandas(kernel, FRAME_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.LongType()),
        T.StructField("win_samples", T.LongType()),
        T.StructField("win_md5", T.StringType()),
    ]
)


def window_audio(
    df: DataFrame,
    frame_samples: int = 256,
    hop_samples: int = 128,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Audio windowing stage: PCM16 payload -> overlapping sample windows.

    Treats the opaque payload as 16-bit mono PCM (2 bytes/sample —
    deterministic fake; a real librosa/soundfile decode slots into the
    same kernel). Windows start every ``hop_samples``; the final window
    is the natural partial. Each window's bytes are md5-fingerprinted so
    the slicing is content-verified end-to-end, not just length-verified.

    Same shape as STFT framing in a real feature pipeline: one input row
    explodes to ~n_samples/hop rows inside the worker, no JVM round-trip
    per window.
    """

    def kernel(batches):
        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(p)
                n_samples = len(b) // 2
                for w, start in enumerate(range(0, n_samples, hop_samples)):
                    n_win = min(frame_samples, n_samples - start)
                    # clamp to the SAMPLE boundary: a trailing odd byte is
                    # not a sample and must not leak into the last window
                    win = b[start * 2 : (start + n_win) * 2]
                    ids.append(int(i))
                    idxs.append(w)
                    lens.append(n_win)
                    sums.append(hashlib.md5(win).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "window_idx": idxs,
                    "win_samples": lens,
                    "win_md5": sums,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, AUDIO_WINDOW_SCHEMA)
