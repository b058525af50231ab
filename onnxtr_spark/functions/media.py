"""Multimodal column operators: opaque binary media + typed metadata.

Three modalities, one discipline — media is an opaque ``binary``
column beside typed metadata columns, decoded only inside Arrow-batched
``mapInPandas``:

- **image**: the deterministic codec from imaging.py (PNG stand-in);
  stats / resize / strip sampling below.
- **audio**: raw PCM s16le is decoded for REAL (``np.frombuffer`` IS
  the decoder for that format); compressed codecs (mp3/opus/flac) gate
  behind a clearly-marked NotImplementedError — a soundfile/ffmpeg
  decode drops into the same ``decode_audio`` seam unchanged.
- **video**: a minimal length-prefixed frame container
  (``OXVID1`` magic + fps + per-frame imaging blobs) written and
  parsed for real; frame sampling walks the index without decoding
  skipped frames — exactly how a real container demuxer saves work.

The Spark-side plumbing (binary columns, typed metadata, Arrow
batching, UDF signatures, pre-stage repartitioning) is the production
deliverable; a cv2/PIL/ffmpeg decode drops into the seams unchanged.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onnxtr_spark import imaging
from onnxtr_spark.partitioning import spread

PAGE_STATS_SCHEMA = "media_ref string, height long, width long, dark_ratio double, n_dark_rows long"


def page_stats(media: DataFrame) -> DataFrame:
    """Per-page image features: dimensions, dark-pixel ratio, rows
    containing any glyph — a feature-extraction pass over binary media."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for _, r in pdf.iterrows():
                img = imaging.decode_image(r["png"])
                dark = img[:, :, 0] < 255
                rows.append({
                    "media_ref": r["media_ref"],
                    "height": img.shape[0],
                    "width": img.shape[1],
                    "dark_ratio": round(float(dark.mean()), 6),
                    "n_dark_rows": int(dark.any(axis=1).sum()),
                })
            yield pd.DataFrame(rows, columns=["media_ref", "height", "width", "dark_ratio", "n_dark_rows"])

    return media.mapInPandas(run, schema=PAGE_STATS_SCHEMA)


def frame_sample(media: DataFrame, every: int = 4) -> DataFrame:
    """Frame-sampling analog for video-like media: emit every Nth row
    strip of each page as a (media_ref, strip_idx, strip_png) row.
    Demonstrates fan-out of one binary blob into sampled sub-blobs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for _, r in pdf.iterrows():
                img = imaging.decode_image(r["png"])
                strips = np.array_split(img, max(1, img.shape[0] // 64), axis=0)
                for i, strip in enumerate(strips):
                    if i % every == 0:
                        rows.append({
                            "media_ref": r["media_ref"],
                            "strip_idx": i,
                            "strip_png": imaging.encode_image(np.ascontiguousarray(strip)),
                        })
            yield pd.DataFrame(rows, columns=["media_ref", "strip_idx", "strip_png"])

    return media.mapInPandas(run, schema="media_ref string, strip_idx long, strip_png binary")


def resize_media(media: DataFrame, out_h: int = 256, out_w: int = 256) -> DataFrame:
    """Batch media resize (aspect-preserving, white symmetric pad — the
    P1 kernel): (media_ref, png, height, width) at the target size.
    The thumbnail/normalization pass of a training-data pipeline."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from onnxtr_spark.kernels.geometry import resize_preserve

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for media_ref, png in zip(pdf["media_ref"], pdf["png"]):
                img = resize_preserve(imaging.decode_image(png), out_h, out_w, True, 255)
                out.append({
                    "media_ref": media_ref,
                    "png": imaging.encode_image(img),
                    "height": img.shape[0],
                    "width": img.shape[1],
                })
            yield pd.DataFrame(out, columns=["media_ref", "png", "height", "width"])

    return media.mapInPandas(run, schema="media_ref string, png binary, height int, width int")


# --- audio ------------------------------------------------------------------

AUDIO_RATE = 16000
AUDIO_PERIOD = 16  # square-wave period in samples (8 high, 8 low)


def decode_audio(blob: bytes, fmt: str = "pcm_s16le") -> np.ndarray:
    """Audio decode seam. Raw PCM s16le decodes for real (frombuffer IS
    the codec); anything compressed is a loud, clearly-marked stub —
    a soundfile/ffmpeg deployment registers here and nothing else
    changes."""
    if fmt != "pcm_s16le":
        raise NotImplementedError(
            f"audio codec {fmt!r}: no audio library in this container; only raw "
            "pcm_s16le decodes here — plug a soundfile/ffmpeg decode into this seam"
        )
    return np.frombuffer(blob, dtype="<i2").astype(np.int64)


def synthesize_audio(documents: DataFrame) -> DataFrame:
    """(doc_id, audio binary, sample_rate, fmt, n_samples): deterministic
    square-wave PCM per doc — amplitude 1000 + (doc_id % 90)·300, length
    16·(50 + n_chars % 200) samples. Closed-form signal → the feature
    extractor below is oracle-checkable bit-for-bit."""
    base = spread(documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("n_chars").cast("long").alias("n_chars")
    ))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        half = AUDIO_PERIOD // 2
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                amp = 1000 + (int(doc_id) % 90) * 300
                n = AUDIO_PERIOD * (50 + int(n_chars) % 200)
                i = np.arange(n)
                x = np.where((i % AUDIO_PERIOD) < half, amp, -amp).astype("<i2")
                rows.append({
                    "doc_id": int(doc_id), "audio": x.tobytes(),
                    "sample_rate": AUDIO_RATE, "fmt": "pcm_s16le", "n_samples": n,
                })
            yield pd.DataFrame(rows, columns=["doc_id", "audio", "sample_rate", "fmt", "n_samples"])

    return base.mapInPandas(
        build, "doc_id long, audio binary, sample_rate int, fmt string, n_samples long"
    )


def audio_features(audio: DataFrame) -> DataFrame:
    """Real signal features off decoded PCM: duration, RMS, peak,
    zero-crossing count — integer-exact on int16 input (sum of squares
    < 2^53), so the closed-form oracle hashes identically."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, blob, rate, fmt in zip(pdf["doc_id"], pdf["audio"], pdf["sample_rate"], pdf["fmt"]):
                x = decode_audio(bytes(blob), fmt)
                sq = int((x * x).sum())
                n = len(x)
                rms = int(np.sqrt(sq / n)) if n else 0
                rows.append({
                    "doc_id": int(doc_id),
                    "duration_ms": n * 1000 // int(rate),
                    "rms": rms,
                    "peak": int(np.abs(x).max()) if n else 0,
                    "zero_crossings": int((np.signbit(x[1:]) != np.signbit(x[:-1])).sum()),
                })
            yield pd.DataFrame(rows, columns=["doc_id", "duration_ms", "rms", "peak", "zero_crossings"])

    return audio.mapInPandas(
        run, "doc_id long, duration_ms long, rms long, peak long, zero_crossings long"
    )


def audio_features_query(documents: DataFrame) -> DataFrame:
    """synthesize → decode → features, end-to-end over binary columns."""
    return audio_features(synthesize_audio(documents))


AUDIO_FEATURES_SQL = f"""
WITH a AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         1000 + (CAST(doc_id AS BIGINT) % 90) * 300 AS amp,
         {AUDIO_PERIOD} * (50 + CAST(n_chars AS BIGINT) % 200) AS n
  FROM documents
)
SELECT doc_id,
       n * 1000 // {AUDIO_RATE} AS duration_ms,
       amp AS rms,              -- |x| = amp everywhere for a square wave
       amp AS peak,
       n // {AUDIO_PERIOD} * 2 - 1 AS zero_crossings  -- 2 sign flips per period, none at the end
FROM a
"""


# --- video ------------------------------------------------------------------

VIDEO_MAGIC = b"OXVID1"
VIDEO_FPS = 4


def encode_video(frames: list[np.ndarray], fps: int = VIDEO_FPS) -> bytes:
    """Minimal real container: magic, u16 fps, u32 frame count, then
    length-prefixed imaging-codec frames."""
    out = bytearray(VIDEO_MAGIC)
    out += struct.pack("<HI", fps, len(frames))
    for f in frames:
        blob = imaging.encode_image(f)
        out += struct.pack("<I", len(blob)) + blob
    return bytes(out)


def iter_video_frames(blob: bytes):
    """Yield (frame_idx, frame_bytes) WITHOUT decoding pixels — the
    demuxer walk. Sampling skips payloads it doesn't yield."""
    if blob[: len(VIDEO_MAGIC)] != VIDEO_MAGIC:
        raise ValueError("not an OXVID1 container")
    off = len(VIDEO_MAGIC)
    fps, n = struct.unpack_from("<HI", blob, off)
    off += 6
    for i in range(n):
        (ln,) = struct.unpack_from("<I", blob, off)
        off += 4
        yield i, fps, blob[off : off + ln]
        off += ln


def synthesize_videos(documents: DataFrame) -> DataFrame:
    """(doc_id, video binary, fps, n_frames): one video per doc whose
    frames are the doc's rendered pages in order (a doc IS one media
    blob here — the realistic video-table shape)."""
    from onnxtr_spark.corpus import WORDS_PER_LINE, WORDS_PER_PAGE

    base = spread(documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim("text"), r"\s+").alias("words"),
    ))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, words in zip(pdf["doc_id"], pdf["words"]):
                words = [w for w in list(words) if w]
                n_pages = max(1, -(-len(words) // WORDS_PER_PAGE))
                frames = []
                for p in range(n_pages):
                    chunk = words[p * WORDS_PER_PAGE : (p + 1) * WORDS_PER_PAGE]
                    lines = [chunk[i : i + WORDS_PER_LINE] for i in range(0, len(chunk), WORDS_PER_LINE)] or [[]]
                    frames.append(imaging.render_page(lines))
                rows.append({
                    "doc_id": int(doc_id), "video": encode_video(frames),
                    "fps": VIDEO_FPS, "n_frames": n_pages,
                })
            yield pd.DataFrame(rows, columns=["doc_id", "video", "fps", "n_frames"])

    return base.mapInPandas(build, "doc_id long, video binary, fps int, n_frames long")


def sample_video_frames(videos: DataFrame, every: int = 2) -> DataFrame:
    """Every Nth frame of each video with timing + decoded dimensions:
    (doc_id, frame_idx, t_ms, height, width). Skipped frames are never
    pixel-decoded (the demuxer walks length prefixes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["video"]):
                for i, fps, frame in iter_video_frames(bytes(blob)):
                    if i % every:
                        continue
                    # frame dimensions live in the codec header (the
                    # container-metadata read a real demuxer does) — no
                    # need to inflate the pixel payload for them
                    fh, fw = imaging.peek_dims(frame)
                    rows.append({
                        "doc_id": int(doc_id), "frame_idx": i,
                        "t_ms": i * 1000 // fps,
                        "height": int(fh), "width": int(fw),
                    })
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "t_ms", "height", "width"])

    return videos.mapInPandas(run, "doc_id long, frame_idx long, t_ms long, height long, width long")


def video_frame_meta_query(documents: DataFrame, every: int = 2) -> DataFrame:
    """synthesize → demux → sample → decode dims, end-to-end."""
    return sample_video_frames(synthesize_videos(documents), every)


def video_frame_meta_sql(every: int = 2) -> str:
    from onnxtr_spark.corpus import WORDS_PER_LINE, WORDS_PER_PAGE

    return f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_words
  FROM documents
), frames AS (
  SELECT doc_id, n_words,
         unnest(generate_series(0, CAST(greatest(1, ceil(n_words / {WORDS_PER_PAGE}.0)) AS INT) - 1)) AS p
  FROM docs
)
SELECT doc_id, CAST(p AS BIGINT) AS frame_idx,
       p * 1000 // {VIDEO_FPS} AS t_ms,
       CAST(96 + (greatest(1, CAST(ceil(least(n_words - p * {WORDS_PER_PAGE}, {WORDS_PER_PAGE}) / {WORDS_PER_LINE}.0) AS INT)) - 1) * 48 AS BIGINT) AS height,
       CAST(640 AS BIGINT) AS width
FROM frames WHERE p % {every} = 0
"""
