"""Multimodal (image/audio/video) column operators (north star L5/L6).

Convention: an opaque ``BINARY`` payload column + a typed metadata struct
alongside (``media_meta``: n_bytes, digest, detected format). Payloads over
~2 GB stay out-of-table as URI columns — same discipline, pointer-typed.

The Spark-side plumbing here is REAL and tested: schemas, metadata
expressions (JVM-side), and the ``mapInPandas`` batch shape for
decode/feature-extraction. Since round 6 the DECODE itself is also real
for every format that pure numpy can parse: WAV, FLAC, subset MP3,
PPM/PGM, BMP, PNG, JPEG and GIF (``operators/codecs.py`` — pass
``decode_fn=codecs.media_features``; the decode→feature path is
oracle-certified by q238/q239). Formats with no decoder there
(compressed video, MP3 outside the subset) still fall back to the
clearly-marked deterministic STUB below; real decoders plug into the
same ``(bytes, out_dim) -> ndarray`` signature.

Scale notes: feature extraction is embarrassingly parallel —
``mapInPandas`` streams Arrow batches, so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch × payload size``; keep
payload columns pruned (select id+payload only) before featurizing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["media_meta", "with_media_meta", "featurize_binary", "stub_decoder"]

#: magic-byte prefixes → format tag (expression-side, real logic)
_MAGIC = [
    ("89504E47", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),  # wav/avi container
    ("664C6143", "flac"),
    ("494433", "mp3"),
]


def media_meta(payload: str | Column) -> Column:
    """Typed metadata struct for an opaque binary column — size, stable
    digest, magic-byte format detection. Pure JVM expressions."""
    c = F.col(payload) if isinstance(payload, str) else payload
    head = F.hex(F.substring(c, 1, 8))
    fmt = F.lit("unknown")
    for magic, name in reversed(_MAGIC):
        fmt = F.when(head.startswith(magic), name).otherwise(fmt)
    return F.struct(
        F.octet_length(c).cast("bigint").alias("n_bytes"),
        F.lower(F.hex(F.xxhash64(c))).alias("digest"),
        fmt.alias("format"),
    )


def with_media_meta(
    df: DataFrame, payload: str = "payload", out: str = "media_meta"
) -> DataFrame:
    return df.withColumn(out, media_meta(payload))


def stub_decoder(payload: bytes, out_dim: int) -> np.ndarray:
    """STUB decode/featurize — the fallback for formats that need
    external codec libraries (JPEG/PNG/MP3/...). WAV/PPM/PGM/BMP have
    REAL pure-numpy decoders in operators/codecs.py (media_features).

    Deterministic fake: features are a seeded hash-expansion of the bytes —
    stable across runs/machines, shaped exactly like a real embedding, so
    every downstream operator (similarity join, dedup, clustering) is
    exercised for real. Swap in a PIL/torchvision/librosa-backed callable
    with the same ``(bytes, out_dim) -> np.ndarray[float32]`` signature for
    production.
    """
    import hashlib

    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(out_dim).astype(np.float32)


def featurize_binary(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    out_dim: int = 16,
    decode_fn: Callable[[bytes, int], np.ndarray] | None = None,
    batch_size_hint: str | None = None,
) -> DataFrame:
    """Decode + feature-extract opaque payloads → ``(id, feature)`` rows.

    ``mapInPandas`` (Arrow-batched) with column pruning enforced up front:
    only (id, payload) cross the Python boundary. ``decode_fn`` is the
    pluggable codec; the default is :func:`stub_decoder` (deterministic
    fake — see its docstring).
    """
    fn = decode_fn or stub_decoder
    pruned = df.select(F.col(id_col), F.col(payload))
    schema = f"{id_col} long, feature array<float>"

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL payloads are dropped (SQL convention: null inputs
            # don't participate) — mapInPandas may emit fewer rows
            keep = pdf[payload].notna()
            pdf = pdf[keep]
            feats = [
                fn(bytes(b), out_dim).tolist() for b in pdf[payload]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "feature": feats})

    return pruned.mapInPandas(_batches, schema=schema)


def stub_frame_extractor(payload: bytes, n_frames: int) -> list[bytes]:
    """STUB frame sampler (no video codecs in this container): slices the
    payload into ``n_frames`` deterministic byte windows shaped like
    decoded frames. A PyAV/ffmpeg-backed callable with the same
    ``(bytes, n) -> list[bytes]`` signature drops in for production."""
    if not payload:
        return []
    step = max(len(payload) // n_frames, 1)
    return [payload[i * step:(i + 1) * step] for i in range(n_frames)][
        : max(1, min(n_frames, len(payload)))
    ]


def sample_frames(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    n_frames: int = 4,
    extract_fn: Callable[[bytes, int], list[bytes]] | None = None,
) -> DataFrame:
    """Explode each media payload into ``(id, frame_idx, frame_payload,
    frame_bytes)`` rows — the frame-sampling stage of a video pipeline.

    Shape notes (the part that is REAL here, codec aside): column pruning
    before the Python boundary, Arrow-batched ``mapInPandas`` with a
    1-to-many yield (one input row → n frame rows, batch-local — no
    driver involvement, no shuffle), and BinaryType frames that downstream
    ``featurize_binary``/``with_media_meta`` consume unchanged. At 100 TB
    the stage is embarrassingly parallel; output row count is bounded by
    ``n_frames`` per input row."""
    fn = extract_fn or stub_frame_extractor
    pruned = df.select(F.col(id_col), F.col(payload))
    schema = (
        f"{id_col} long, frame_idx int, frame_payload binary, "
        "frame_bytes long"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for i, b in zip(pdf[id_col], pdf[payload]):
                if b is None:
                    continue  # null payloads don't participate
                for j, fr in enumerate(fn(bytes(b), n_frames)):
                    ids.append(i)
                    idxs.append(j)
                    frames.append(fr)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_payload": frames,
                    "frame_bytes": pd.Series(
                        [len(f) for f in frames], dtype="int64"
                    ),
                }
            )

    return pruned.mapInPandas(_batches, schema=schema)
