"""Bit-identity fuzz for two kernel rewrites.

- The nearest-neighbour resizes gather with two ``take`` calls; they
  must equal the fancy-index gathers they replace for (H, W), (H, W, 1),
  stride-0 (H, W, 3), full (H, W, 3) and float32 inputs.
- ``ctc_best_path`` / ``attention_decode`` reduce DECODE_BLOCK crops at
  a time; they must equal the whole-batch formulas for batch sizes
  around the block size.
"""

import numpy as np
import pytest

from onnxtr_spark.kernels import ctc
from onnxtr_spark.kernels.geometry import resize_preserve, resize_stretch, resize_unpadded


def _nn(h, w, th, tw):
    scale = min(th / h, tw / w)
    new_h, new_w = max(1, round(h * scale)), max(1, round(w * scale))
    ys = np.minimum((np.arange(new_h) / scale).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(new_w) / scale).astype(np.int64), w - 1)
    return ys, xs, new_h, new_w


def _images(rng):
    h, w = int(rng.integers(1, 90)), int(rng.integers(1, 90))
    plane = rng.integers(0, 256, (h, w), dtype=np.uint8)
    yield plane
    yield plane[:, :, None]
    yield np.broadcast_to(plane[:, :, None], (h, w, 3))
    yield rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    yield rng.random((h, w, 3), dtype=np.float32)
    yield rng.random((h, w), dtype=np.float32)


def test_take_gathers_equal_fancy_index_gathers():
    rng = np.random.default_rng(21)
    for _ in range(150):
        th, tw = int(rng.integers(1, 70)), int(rng.integers(1, 140))
        for img in _images(rng):
            h, w = img.shape[:2]
            ys, xs, new_h, new_w = _nn(h, w, th, tw)
            want = img[ys[:, None], xs]
            got = resize_unpadded(img, th, tw)
            assert got.dtype == want.dtype and got.shape == want.shape
            np.testing.assert_array_equal(got, want)

            sym = bool(rng.integers(0, 2))
            pad = np.full((th, tw) + img.shape[2:], 7, dtype=img.dtype)
            oy, ox = ((th - new_h) // 2, (tw - new_w) // 2) if sym else (0, 0)
            pad[oy : oy + new_h, ox : ox + new_w] = want
            np.testing.assert_array_equal(resize_preserve(img, th, tw, sym, 7), pad)

            sy = np.minimum((np.arange(th) * (h / th)).astype(np.int64), h - 1)
            sx = np.minimum((np.arange(tw) * (w / tw)).astype(np.int64), w - 1)
            got = resize_stretch(img, th, tw)
            assert got.shape == (th, tw) + img.shape[2:]
            np.testing.assert_array_equal(got, img[np.ix_(sy, sx)])


def _ctc_whole_batch(logits, vocab):
    blank = len(vocab)
    m = logits.max(axis=-1, keepdims=True)
    probs = (1.0 / np.exp(logits - m).sum(axis=-1)).min(axis=1)
    best = np.argmax(logits, axis=-1)
    words = []
    for row in best:
        keep = np.r_[True, row[1:] != row[:-1]] & (row != blank)
        words.append("".join(vocab[int(c)] for c in row[keep]))
    return list(zip(words, probs.astype(float).tolist()))


def _attention_whole_batch(logits, vocab, conf_reduction, n_special):
    emb = list(vocab) + ["<eos>", "<sos>", "<pad>"][: max(1, n_special)]
    best = np.argmax(logits, axis=-1)
    m = logits.max(axis=-1, keepdims=True)
    probs = 1.0 / np.exp(logits - m).sum(axis=-1)
    out = []
    for seq, p in zip(best, probs):
        word = "".join(emb[int(i)] for i in seq).split("<eos>")[0]
        if conf_reduction == "mean":
            conf = float(p[: len(word)].clip(0, 1).mean()) if word else 0.0
        else:
            conf = float(np.clip(p.min(), 0, 1))
        out.append((word, conf))
    return out


@pytest.mark.parametrize("n", [1, 15, 16, 17, 256, 257])
@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_blocked_decode_equals_whole_batch(n, dtype):
    vocab = "abcdefghij"
    rng = np.random.default_rng([22, n])
    # peaked logits with ties and runs, like a recognizer's
    classes = rng.integers(0, len(vocab) + 1, (n, 23))
    logits = rng.normal(0.0, 3.0, (n, 23, len(vocab) + 1)).astype(dtype)
    logits[np.arange(n)[:, None], np.arange(23), classes] += 9.0
    assert ctc.ctc_best_path(logits, vocab) == _ctc_whole_batch(logits, vocab)
    att = rng.normal(0.0, 3.0, (n, 19, len(vocab) + 3)).astype(dtype)
    for conf, n_special in (("mean", 2), ("mean", 3), ("min", 1)):
        lg = att[:, :, : len(vocab) + n_special]
        assert ctc.attention_decode(lg, vocab, conf, n_special) == _attention_whole_batch(
            lg, vocab, conf, n_special
        )
