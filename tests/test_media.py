"""Multimodal operators: audio PCM decode/features, video container
demux + frame sampling, media resize — binary columns + typed metadata
through Arrow-batched stages (the round brief's multimodal plumbing)."""

import numpy as np
import pandas as pd
import pytest

from onnxtr_spark import imaging
from onnxtr_spark.functions import media as M


def test_audio_codec_gate_is_loud():
    """Compressed codecs stub loudly (no audio lib in this container);
    raw PCM decodes for real."""
    x = np.array([3, -7, 100], dtype="<i2")
    assert list(M.decode_audio(x.tobytes())) == [3, -7, 100]
    with pytest.raises(NotImplementedError, match="mp3"):
        M.decode_audio(b"\xff\xfb\x90", fmt="mp3")


def test_audio_features_numpy_reference(spark):
    """Features off the synthesized square wave equal an independent
    numpy computation (and the closed forms the SQL oracle uses)."""
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [7, 42], "n_chars": [123, 999]}))
    rows = {r.doc_id: r for r in M.audio_features_query(docs).collect()}
    for doc_id, n_chars in [(7, 123), (42, 999)]:
        amp = 1000 + (doc_id % 90) * 300
        n = 16 * (50 + n_chars % 200)
        i = np.arange(n)
        x = np.where((i % 16) < 8, amp, -amp)
        r = rows[doc_id]
        assert r.peak == amp == int(np.abs(x).max())
        assert r.rms == int(np.sqrt((x.astype(np.int64) ** 2).mean()))
        assert r.duration_ms == n * 1000 // 16000
        assert r.zero_crossings == int((np.signbit(x[1:]) != np.signbit(x[:-1])).sum()) == n // 16 * 2 - 1


def test_video_container_roundtrip_and_lazy_demux():
    frames = [np.full((32, 40, 3), v, dtype=np.uint8) for v in (0, 128, 255)]
    blob = M.encode_video(frames, fps=4)
    got = list(M.iter_video_frames(blob))
    assert [i for i, _, _ in got] == [0, 1, 2]
    assert all(fps == 4 for _, fps, _ in got)
    for (_, _, fb), f in zip(got, frames):
        assert np.array_equal(imaging.decode_image(fb), f)
    with pytest.raises(ValueError, match="OXVID1"):
        list(M.iter_video_frames(b"not a container"))


def test_peek_dims_reads_every_frame_kind_and_rejects_bad_headers():
    """Frame dimensions come from the codec header of every frame kind;
    a wrong magic or a header cut short fails loudly in one place, for
    the demuxer's dimension read and for decode_image alike."""
    rgb = np.arange(6 * 9 * 3, dtype=np.uint8).reshape(6, 9, 3)
    gray = np.broadcast_to(rgb[:, :, :1], (6, 9, 3))
    blobs = [
        imaging.encode_image(rgb),
        imaging.encode_image(gray),
        imaging.encode_image_gray_scaled(rgb[:, :, 0], 3),
    ]
    assert [b[:5] for b in blobs] == [imaging.MAGIC_Z, imaging.MAGIC_G, imaging.MAGIC_S]
    for blob in blobs:
        assert imaging.peek_dims(blob) == imaging.decode_image(blob).shape[:2]
    wrong = b"PNG\r\n" + blobs[0][5:]
    # the retired uncompressed NPIM1 frame is no longer a frame kind
    npim1 = b"NPIM1" + (6).to_bytes(4, "little") + (9).to_bytes(4, "little") + rgb.tobytes()
    for bad in (wrong, npim1, blobs[0][:12], blobs[2][:16], b"NP"):
        with pytest.raises(ValueError, match="bad image magic"):
            imaging.peek_dims(bad)
        with pytest.raises(ValueError, match="bad image magic"):
            imaging.decode_image(bad)


def test_sample_video_frames_every_n(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [" ".join(f"w{i}" for i in range(125))]})
    )
    out = M.video_frame_meta_query(docs, every=2).toPandas().sort_values("frame_idx")
    # 125 words / 30 per page = 5 frames; every=2 keeps 0, 2, 4
    assert list(out.frame_idx) == [0, 2, 4]
    assert list(out.t_ms) == [0, 500, 1000]
    assert (out.width == 640).all()


def test_resize_media_contract(spark):
    img = imaging.render_page([["alpha", "beta"]])
    df = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["m0"], "png": [imaging.encode_image(img)]})
    )
    out = M.resize_media(df, 128, 128).collect()[0]
    got = imaging.decode_image(bytes(out.png))
    assert got.shape == (128, 128, 3)
    assert out.height == 128 and out.width == 128
    # aspect preserved: white pad bands, content centered (symmetric pad)
    assert (got[0] == 255).all() or (got[:, 0] == 255).all()
