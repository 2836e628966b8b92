"""Multimodal (operators/multimodal.py): image resize and metadata,
video frames, audio frames and segments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import multimodal


def _multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.with_binary_payload(_t(spark, sf_dir, "documents"))
    return multimodal.extract_media_meta(docs)


def _resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.with_binary_payload(_t(spark, sf_dir, "documents"))
    return multimodal.resize_meta(docs, target_width=64)


register(
    "ns_multimodal_resize",
    "WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents), "
    "d AS (SELECT doc_id, greatest(nb % 256, 1) AS w, (nb // 256) % 256 AS h FROM m) "
    "SELECT doc_id, CAST(64 AS INTEGER) AS out_width, "
    "CAST((h * 64) // w AS INTEGER) AS out_height, "
    "round(64.0 / w, 6) AS scale FROM d",
)(_resize)


def _frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.with_binary_payload(_t(spark, sf_dir, "documents"))
    return multimodal.frame_sample(docs, frame_bytes=100, max_frames=5)


register(
    "ns_multimodal_frames",
    "WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents), "
    "k AS (SELECT doc_id, least(greatest(nb // 100, 1), 5) AS n FROM m), "
    "e AS (SELECT doc_id, unnest(range(n)) AS i FROM k) "
    "SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, i * 100 AS byte_offset FROM e",
)(_frames)


register(
    "ns_multimodal_meta",
    "SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, "
    "CAST(octet_length(encode(text)) % 256 AS INTEGER) AS fake_width, "
    "CAST((octet_length(encode(text)) // 256) % 256 AS INTEGER) AS fake_height, "
    "'fake' AS media_format FROM documents",
)(_multimodal)


register(
    "ns_multimodal_audio_energy",
    # per-character code points mirror np.frombuffer(uint8) on the
    # ASCII corpus; floor(rms*1e6) is engine-exact (integer sums of
    # squares are exact in float64, sqrt is IEEE)
    "WITH i AS (SELECT doc_id, unnest(range(1, len(text) + 1)) AS pos, text "
    " FROM documents), "
    "s AS (SELECT doc_id, CAST((pos - 1) // 256 AS INT) AS frame, "
    " ord(substr(text, CAST(pos AS INT), 1)) AS code FROM i) "
    "SELECT doc_id, frame, CAST(count(*) AS INT) AS n_samples, "
    "CAST(floor(sqrt(sum(code * code) * 1.0 / count(*)) * 1000000) AS BIGINT) "
    "AS rms_micro FROM s GROUP BY doc_id, frame",
    desc=(
        "Audio-branch multimodal: per-frame RMS energy over the binary "
        "waveform payload via Arrow-batched mapInPandas + numpy — real "
        "decode (frombuffer), declared schema, exact integer-microunit "
        "oracle."
    ),
)(
    lambda spark, sf_dir: multimodal.audio_frame_energy(
        multimodal.with_binary_payload(_t(spark, sf_dir, "documents"))
    )
)


register(
    "ns_multimodal_audio_zcr",
    # 16-bit little-endian PCM from character code-point pairs
    # (c1 + 256*c2, two's complement at 32768) — byte-exact vs
    # np.frombuffer('<i2') on the ASCII corpus; output is pure
    # integer counting, no float semantics to disagree on
    "WITH i AS (SELECT doc_id, unnest(range(1, len(text) // 2 + 1)) AS pos, text "
    " FROM documents), "
    "s AS (SELECT doc_id, pos, CAST((pos - 1) // 256 AS INT) AS frame, "
    " ord(substr(text, CAST(2 * pos - 1 AS INT), 1)) "
    " + 256 * ord(substr(text, CAST(2 * pos AS INT), 1)) AS u FROM i), "
    "v AS (SELECT doc_id, pos, frame, "
    " CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x FROM s), "
    "p AS (SELECT doc_id, frame, x, "
    " lead(x) OVER (PARTITION BY doc_id ORDER BY pos) AS nx, "
    " lead(frame) OVER (PARTITION BY doc_id ORDER BY pos) AS nframe FROM v) "
    "SELECT doc_id, frame, CAST(count(*) AS INT) AS n_samples, "
    "CAST(count(*) FILTER (WHERE nframe = frame AND ((x < 0) <> (nx < 0))) "
    " AS INT) AS n_crossings "
    "FROM p GROUP BY doc_id, frame",
    desc=(
        "Audio-branch multimodal #2: per-frame zero-crossing rate over "
        "the waveform payload read as 16-bit little-endian PCM — real "
        "numpy decode in Arrow-batched mapInPandas, integer-exact "
        "oracle (sign-flip counting, no floats)."
    ),
)(
    lambda spark, sf_dir: multimodal.audio_frame_zcr(
        multimodal.with_binary_payload(_t(spark, sf_dir, "documents"))
    )
)


@register(
    "ns_multimodal_audio_segments",
    "WITH i AS (SELECT doc_id, unnest(range(1, len(text) + 1)) AS pos, text "
    " FROM documents), "
    "s AS (SELECT doc_id, CAST((pos - 1) // 256 AS INT) AS frame, "
    " ord(substr(text, CAST(pos AS INT), 1)) AS code FROM i), "
    "e AS (SELECT doc_id, frame, "
    " CAST(floor(sqrt(sum(code * code) * 1.0 / count(*)) * 1000000) AS BIGINT) "
    " AS rms_micro FROM s GROUP BY doc_id, frame), "
    "v AS (SELECT * FROM e WHERE rms_micro >= 100000000), "
    "m AS (SELECT doc_id, frame, rms_micro, CASE WHEN lag(frame) OVER w IS NULL "
    " OR frame - lag(frame) OVER w > 1 THEN 1 ELSE 0 END AS brk "
    " FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY frame)), "
    "g AS (SELECT doc_id, frame, rms_micro, sum(brk) OVER ("
    " PARTITION BY doc_id ORDER BY frame "
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM m) "
    "SELECT doc_id, CAST(min(frame) AS INT) AS seg_start, "
    "CAST(max(frame) AS INT) AS seg_end, CAST(count(*) AS INT) AS n_frames, "
    "max(rms_micro) AS peak_rms_micro FROM g GROUP BY doc_id, seg",
)
def ns_multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-branch multimodal #3 — silence-aware segmentation
    (VAD-lite): REAL numpy frame-RMS decode in Arrow-batched
    mapInPandas, then a declarative threshold + per-document
    gaps-and-islands merge of contiguous voiced frames into maximal
    segments (the clip inventory a speech pipeline cuts samples
    from). Payload bytes never reach an exchange — only (doc_id,
    frame, rms_micro) rows do; integer micro-RMS keeps the oracle
    exact (operators/multimodal.py audio_voiced_segments)."""
    return multimodal.audio_voiced_segments(
        multimodal.with_binary_payload(_t(spark, sf_dir, "documents"))
    )


_DESCRIPTIONS.update({
    "ns_multimodal_resize": "Arrow-batched mapInPandas 'image resize' over binary payloads (decode honestly stubbed; schema/batching/partitioning real).",
    "ns_multimodal_frames": "Arrow-batched mapInPandas frame sampling: one output row per sampled frame index with typed metadata.",
    "ns_multimodal_meta": "Typed metadata extraction (byte length, fake width/height) from binary payloads — the schema-contract half of the multimodal path.",
})
