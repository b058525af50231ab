"""CTC greedy (best-path) decoding.

Re-derives the reference's CRNN postprocessor
(onnxtr/models/recognition/models/crnn.py:55-101):

- per-timestep argmax over classes,
- collapse of consecutive repeats,
- removal of the blank label (index = len(vocab)),
- word confidence = min over timesteps of the max softmax probability.

Vectorized NumPy (shift-compare collapse) instead of itertools.groupby —
same result, batch-friendly inside the recognize ``mapInArrow`` stage.
"""

from __future__ import annotations

import numpy as np

# Crops per decode block: a 16×T×C float32 exp temporary (~0.5 MB at
# T=68, C=127) stays in L2, where a whole 256-crop batch's two full-size
# temporaries (8.8 MB each) stream through DRAM.
DECODE_BLOCK = 16


def _argmax_top_prob(logits: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-position argmax class and top softmax probability of a
    (N, T, C) float logits batch, computed DECODE_BLOCK crops at a time.

    max(softmax(l)) = exp(m - m) / sum(exp(l - m)) = 1 / s: the same
    float ops as softmax(...).max(-1) (same shift, same sum, same single
    division) without materializing the softmax. The shift m is read at
    the argmax position instead of reduced again: it is the same value
    max(-1) returns. Blocking changes only which rows share the
    (reused) temporary; every row's exp and pairwise sum run over the
    same C contiguous values as on the whole batch, so the results are
    identical."""
    shape = logits.shape[:2]
    best = np.empty(shape, dtype=np.intp)
    sums = np.empty(shape, dtype=logits.dtype)
    buf = np.empty((DECODE_BLOCK,) + logits.shape[1:], dtype=logits.dtype)
    for i in range(0, shape[0], DECODE_BLOCK):
        blk = logits[i : i + DECODE_BLOCK]
        b = blk.argmax(axis=-1, out=best[i : i + DECODE_BLOCK])
        e = np.subtract(blk, np.take_along_axis(blk, b[..., None], axis=-1), out=buf[: len(blk)])
        np.exp(e, out=e)
        e.sum(axis=-1, out=sums[i : i + DECODE_BLOCK])
    return best, 1.0 / sums


def attention_decode(
    logits: np.ndarray, vocab: str, conf_reduction: str = "mean", n_special: int = 2
) -> list[tuple[str, float]]:
    """Attention-family positional decode (C2): argmax per position,
    word = everything before the first <eos>.

    Exact mirror of the reference's four attention postprocessors —
    the class axis is vocab + specials in embedding order
    (<eos> at index len(vocab), then <sos>, then <pad>):

    - ViTSTR (vitstr.py:81-109): n_special=2, conf = mean of the
      per-position top softmax prob over the first len(word)
      positions, clipped, 0.0 for an empty word;
    - PARSeq (parseq.py:77-101): n_special=3, same mean formula;
    - SAR (sar.py:79-99): n_special=1, conf = min of the top prob
      over ALL positions (including past <eos>), clipped;
    - MASTER (master.py:83-110): n_special=3, same min formula.

    A special token before the first <eos> joins into the word as its
    literal "<sos>"/"<pad>" text — the reference's string-join-then-
    split does exactly that, and len(word) (the STRING length) is what
    the mean prefix runs over."""
    specials = ["<eos>", "<sos>", "<pad>"][: max(1, n_special)]
    emb = list(vocab) + specials
    best, probs = _argmax_top_prob(logits)

    out = []
    for seq, p in zip(best, probs):
        word = "".join(emb[int(i)] for i in seq).split("<eos>")[0]
        if conf_reduction == "mean":
            conf = float(p[: len(word)].clip(0, 1).mean()) if word else 0.0
        else:
            conf = float(np.clip(p.min(), 0, 1))
        out.append((word, conf))
    return out


def ctc_best_path(logits: np.ndarray, vocab: str, blank: int | None = None) -> list[tuple[str, float]]:
    """Best-path decode of a (N, T, C) logits batch.

    Confidence: ``softmax(logits).max(-1).min(1)`` — smallest per-step
    top-probability across the sequence (reference crnn.py:78-79).
    Collapse: drop consecutive duplicates, then drop blanks
    (reference crnn.py:82-86).
    """
    if blank is None:
        blank = len(vocab)

    # per-step top softmax probability (_argmax_top_prob), min over T
    best, top = _argmax_top_prob(logits)  # (N, T) each
    probs = top.min(axis=1)

    # Batch collapse: keep positions that differ from their predecessor
    # AND are not blank — identical to collapse-repeats-then-drop-blank
    # (a repeat run keeps only its first element; blank runs vanish).
    # The per-word join happens ONCE for the whole batch: kept classes
    # are mapped through the vocab and joined into a single string,
    # then sliced per row by the kept-count offsets.
    keep = np.ones(best.shape, dtype=bool)
    keep[:, 1:] = best[:, 1:] != best[:, :-1]
    keep &= best != blank
    counts = keep.sum(axis=1)
    flat = best[keep]  # row-major: row i's kept classes are contiguous
    lut = np.array(list(vocab))
    big = "".join(lut[flat].tolist()) if flat.size else ""
    offs = np.concatenate([[0], np.cumsum(counts)])
    words = [big[offs[i] : offs[i + 1]] for i in range(len(counts))]

    return list(zip(words, probs.astype(float).tolist()))
