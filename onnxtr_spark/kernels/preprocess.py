"""P2-P4 preprocessing for float-contract models (reference
models/preprocessor/base.py:28-115 + transforms/base.py:96-126).

The stub detector is affine in pixel value, so its uint8 map folds
straight into the postprocess. A float-contract engine (a real ONNX
model, see engine.EngineConfig.input_contract) gets the reference's
float input instead. The page path runs P1 as ``PagePath.detect_map``'s
resize, P2+P3 as ``cast_normalize`` (uint8 -> float32 / 255, then
(x - mean) / std per channel, in one output buffer) and P4 as
``stages/page_path._session_layout`` (channels-first for a
``float_bchw`` session).
"""

from __future__ import annotations

import functools

import numpy as np

MEAN_DEFAULT = (0.5, 0.5, 0.5)  # PreProcessor defaults, preprocessor/base.py:36-37
STD_DEFAULT = (1.0, 1.0, 1.0)


def cast_normalize(x: np.ndarray, mean=MEAN_DEFAULT, std=STD_DEFAULT) -> np.ndarray:
    """P3 cast (uint8 -> float32 / 255, preprocessor/base.py:72-73,
    99-100) then P2 normalize (per-channel (x - mean) / std on a
    channels-last array, transforms/base.py:96-126) in ONE output
    buffer, bit-equal to the composed ``normalize(cast_scale(x))`` of
    ``tests/preprocess_oracle.py`` (pinned by
    tests/test_cast_normalize_lut.py).

    uint8 input goes through a table: a uint8 channel value v can only
    map to 256 outputs, and ``_channel_tables`` computes each one with
    the composition's own float32 op sequence (cast, /255, -mean_c,
    /std_c). IEEE ops are deterministic, so the same ops on the same v
    give the same bits whether they run once per table entry or once
    per pixel; one ``take`` per channel then fills the output, where
    the arithmetic made four full float32 passes over the frame.
    float32 input runs the arithmetic (copy, -mean, /std). Shapes that
    mean/std do not broadcast into raise ValueError on both branches;
    for uint8, mean/std hold one value per channel or one for all.
    """
    mean = np.asarray(mean, dtype=np.float32)
    std = np.asarray(std, dtype=np.float32)
    if x.dtype != np.uint8:
        if x.dtype != np.float32:
            raise TypeError("cast_normalize expects uint8 or float32")
        out = x.copy()
        out -= mean
        out /= std
        return out
    shape = np.broadcast_shapes(x.shape, mean.shape, std.shape)
    if shape != x.shape:
        raise ValueError(
            f"non-broadcastable output operand with shape {x.shape} "
            f"doesn't match the broadcast shape {shape}"
        )
    if any(p.size != 1 and p.shape[-1] != p.size for p in (mean, std)):
        # e.g. a (3, 1) mean would vary along rows, not channels
        raise ValueError("cast_normalize takes one mean/std value per channel")
    n_ch = x.shape[-1] if x.ndim else 1
    tables = _channel_tables(
        tuple(np.broadcast_to(mean.ravel(), (n_ch,)).tolist()),
        tuple(np.broadcast_to(std.ravel(), (n_ch,)).tolist()),
    )
    out = np.empty(x.shape, dtype=np.float32)
    xv, ov = np.atleast_1d(x, out)
    for c in range(n_ch):
        # uint8 indices are always in range, so "clip" only skips the
        # bounds check. The take fills a contiguous plane, then one
        # strided copy interleaves it; take(out=<strided view>) measured
        # about twice as slow per page map.
        ov[..., c] = tables[c].take(xv[..., c], mode="clip")
    return out


@functools.lru_cache(maxsize=16)
def _channel_tables(mean: tuple[float, ...], std: tuple[float, ...]) -> np.ndarray:
    """Read-only (C, 256) float32 table: row c holds
    ``((v as float32) / 255 - mean[c]) / std[c]`` for v = 0..255."""
    tab = np.arange(256, dtype=np.uint8).astype(np.float32)[None, :]
    tab = tab / np.float32(255.0) - np.asarray(mean, dtype=np.float32)[:, None]
    tab /= np.asarray(std, dtype=np.float32)[:, None]
    tab.flags.writeable = False
    return tab
