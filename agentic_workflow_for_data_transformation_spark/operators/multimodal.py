"""Multimodal column plumbing (SURVEY.md section 2.9).

Images/audio/video are opaque ``binary`` payload columns plus typed
metadata. The Spark-side machinery here is real and tested — binary
columns, Arrow-batched ``mapInPandas`` with an explicit output schema,
partition-sized batches — while the actual media decoding is stubbed
(image/audio libraries are not in this environment): ``decode_stub``
raises NotImplementedError, and ``fake_decode_meta`` derives
deterministic pseudo-metadata from the raw bytes so the pipeline shape
is exercisable end-to-end.

At 100 TB: payloads live in parquet binary columns (or object-store
pointers for >1 MB blobs); decode/resize/frame-sample runs as
``mapInPandas`` over row groups, so each Python worker sees Arrow
batches, and the expensive stage scales with partitions.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import spread_small_input

META_SCHEMA = (
    "doc_id long, n_bytes int, fake_width int, fake_height int, media_format string"
)


def with_binary_payload(df: DataFrame, text_col: str = "text",
                        out: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of the
    text; in production: the image/audio blob as read by
    ``spark.read.format('binaryFile')``)."""
    return df.withColumn(out, F.encode(F.col(text_col), "utf-8"))


def decode_stub(payload: bytes) -> dict:
    """Placeholder for a real media decoder (PIL / torchaudio / PyAV).

    STUB: media libraries are not available in this environment."""
    raise NotImplementedError(
        "media decoding requires an image/audio library not present in this build"
    )


def fake_decode_meta(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic fake decode: metadata derived only from the byte
    length, standing in for (width, height, format) of a real decode."""
    n = len(payload)
    return n, n % 256, (n // 256) % 256, "fake"


def extract_media_meta(df: DataFrame, id_col: str = "doc_id",
                       payload_col: str = "payload") -> DataFrame:
    """The mapInPandas decode stage: Arrow batches in, metadata rows
    out. Swapping ``fake_decode_meta`` for a real decoder changes no
    Spark plumbing — schema, batching, and partitioning are identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[payload_col].map(fake_decode_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": meta.map(lambda m: m[0]),
                    "fake_width": meta.map(lambda m: m[1]),
                    "fake_height": meta.map(lambda m: m[2]),
                    "media_format": meta.map(lambda m: m[3]),
                }
            )

    # decode is the expensive stage: never let a single small file pin
    # every Arrow batch to one Python worker
    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, META_SCHEMA
    )


RESIZE_SCHEMA = "doc_id long, out_width int, out_height int, scale double"


def resize_meta(df: DataFrame, target_width: int = 64,
                id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """The resize stage: per-item scale factor + output dims, as an
    Arrow-batched mapInPandas over the payload (a real resize would
    transform pixels here; the stub derives dims from the fake decode,
    keeping the batch shape and schema identical to production)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[payload_col].map(fake_decode_meta)
            w = meta.map(lambda m: max(m[1], 1))
            scale = w.map(lambda x: round(target_width / x, 6))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "out_width": [target_width] * len(pdf),
                    "out_height": (
                        meta.map(lambda m: m[2]).astype("int64") * target_width // w
                    ).astype("int32"),
                    "scale": scale,
                }
            )

    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, RESIZE_SCHEMA
    )


FRAMES_SCHEMA = "doc_id long, frame_idx int, byte_offset long"


def frame_sample(df: DataFrame, frame_bytes: int = 100, max_frames: int = 5,
                 id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """The video-style frame-sampling stage: emit up to ``max_frames``
    (frame_idx, byte_offset) rows per payload, one per ``frame_bytes``
    stride — a row-expanding mapInPandas (1 input row -> k output
    rows), the shape a real keyframe extractor has. Offsets are
    deterministic functions of the payload length, so the stage is
    exactly oracle-checkable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs = [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                n = min(max(len(payload) // frame_bytes, 1), max_frames)
                for i in range(n):
                    ids.append(did)
                    idxs.append(i)
                    offs.append(i * frame_bytes)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "byte_offset": offs}
            )

    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, FRAMES_SCHEMA
    )


AUDIO_ZCR_SCHEMA = "doc_id long, frame int, n_samples int, n_crossings int"


def audio_frame_zcr(df: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "payload",
                    frame_size: int = 256) -> DataFrame:
    """Per-frame zero-crossing rate over a binary waveform column read
    as 16-bit little-endian PCM — the second REAL audio branch
    (np.frombuffer('<i2'), no stub): a trailing odd byte is dropped,
    samples are framed, and each frame emits the count of sign flips
    between consecutive samples (negative vs non-negative; frames are
    independent, so boundary pairs are never counted).

    Determinism across engines: the output is pure integer counting —
    no floats anywhere — so the DuckDB oracle recomputes it exactly
    from character code points (valid on an ASCII corpus, which the
    test suite asserts; see tests/test_operators.py ascii guard)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame": [], "n_samples": [], "n_crossings": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                buf = payload[: len(payload) - (len(payload) % 2)]
                samples = np.frombuffer(buf, dtype="<i2")
                for f in range(0, len(samples), frame_size):
                    chunk = samples[f:f + frame_size]
                    neg = chunk < 0
                    out["doc_id"].append(doc_id)
                    out["frame"].append(f // frame_size)
                    out["n_samples"].append(len(chunk))
                    out["n_crossings"].append(
                        int(np.count_nonzero(neg[1:] != neg[:-1]))
                    )
            yield pd.DataFrame(out)

    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, AUDIO_ZCR_SCHEMA
    )


AUDIO_ENERGY_SCHEMA = "doc_id long, frame int, n_samples int, rms_micro long"


def audio_frame_energy(df: DataFrame, id_col: str = "doc_id",
                       payload_col: str = "payload",
                       frame_size: int = 256) -> DataFrame:
    """Per-frame RMS energy over a binary waveform column — the audio
    branch of the multimodal family, and unlike the image decode this
    one is REAL end to end: numpy reads the payload as unsigned 8-bit
    samples (np.frombuffer), frames it, and emits sqrt(mean(sample^2))
    per frame. (Production swaps the frombuffer line for a real codec
    read at the same spot; everything else — Arrow batches, declared
    schema, per-partition parallelism — is unchanged.)

    Determinism across engines: sums of squares of < 2^53 integers are
    exact in float64 and sqrt is IEEE-defined, so emitting
    floor(rms * 1e6) as an integer is bit-identical everywhere — no
    round() semantics to disagree on (the DuckDB oracle recomputes the
    same value from per-character code points)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame": [], "n_samples": [], "rms_micro": []}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                samples = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                for f in range(0, len(samples), frame_size):
                    chunk = samples[f:f + frame_size]
                    rms = math.sqrt(float(np.sum(chunk * chunk)) / len(chunk))
                    out["doc_id"].append(doc_id)
                    out["frame"].append(f // frame_size)
                    out["n_samples"].append(len(chunk))
                    out["rms_micro"].append(math.floor(rms * 1_000_000))
            yield pd.DataFrame(out)

    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, AUDIO_ENERGY_SCHEMA
    )


def audio_voiced_segments(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "payload",
                          frame_size: int = 256,
                          threshold_micro: int = 100_000_000) -> DataFrame:
    """Silence-aware segmentation (VAD-lite): frames whose RMS clears
    ``threshold_micro`` (integer micro-RMS, same scale as
    ``audio_frame_energy``) are voiced; contiguous voiced frames merge
    into maximal segments via per-document gaps-and-islands. Output:
    one row per segment with [seg_start, seg_end] frame bounds, frame
    count, and peak micro-RMS — the clip inventory a speech pipeline
    cuts training samples from.

    Scale shape: the Arrow-batched decode emits (doc_id, frame,
    rms_micro) only — payload bytes never reach an exchange; the
    threshold is a pushable filter and both merge windows share one
    doc_id partitioning. Integer micro-RMS in, integer counting out:
    no float semantics for an oracle to disagree on."""

    energy = audio_frame_energy(df, id_col, payload_col, frame_size)
    voiced = energy.filter(F.col("rms_micro") >= threshold_micro)
    w = Window.partitionBy(id_col).orderBy("frame")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("frame").over(w)
    marked = voiced.withColumn(
        "_brk", F.when(prev.isNull() | (F.col("frame") - prev > 1), 1).otherwise(0)
    )
    return (
        marked.withColumn("_seg", F.sum("_brk").over(wrun))
        .groupBy(id_col, "_seg")
        .agg(
            F.min("frame").cast("int").alias("seg_start"),
            F.max("frame").cast("int").alias("seg_end"),
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.max("rms_micro").alias("peak_rms_micro"),
        )
        .drop("_seg")
    )
