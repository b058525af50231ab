"""P1-P4 preprocessing as a real float path (reference
models/preprocessor/base.py:28-115 + transforms/base.py:96-126 +
utils/geometry.py:128-164).

The fused/standalone stub stages keep the uint8 fast path (the stub
models are affine in pixel value, so normalization folds away); this
module is the production-contract path a real ONNX model needs —
resize → uint8->float32/255 cast → batch stack → (x - mean)/std
normalize → layout translate — so a real CNN drops into the stages
without stage changes (see engine.EngineConfig.input_contract).
"""

from __future__ import annotations

import functools
import math

import numpy as np

from onnxtr_spark.kernels.geometry import resize_preserve

MEAN_DEFAULT = (0.5, 0.5, 0.5)  # PreProcessor defaults, preprocessor/base.py:36-37
STD_DEFAULT = (1.0, 1.0, 1.0)


def shape_translate(data: np.ndarray, format: str) -> np.ndarray:
    """P4 layout projection (utils/geometry.py:128-164): translate
    between (B)CHW and (B)HWC by inspecting which axis holds channels."""
    if format == "HWC":
        if data.ndim != 3:
            raise ValueError("expected 3D array")
        return data if data.shape[2] in (1, 3) else np.moveaxis(data, 0, -1)
    if format == "CHW":
        if data.ndim != 3:
            raise ValueError("expected 3D array")
        return data if data.shape[0] in (1, 3) else np.moveaxis(data, -1, 0)
    if format == "BHWC":
        if data.ndim != 4:
            raise ValueError("expected 4D array")
        return data if data.shape[3] in (1, 3) else np.moveaxis(data, 1, -1)
    if format == "BCHW":
        if data.ndim != 4:
            raise ValueError("expected 4D array")
        return data if data.shape[1] in (1, 3) else np.moveaxis(data, -1, 1)
    return data  # unknown format: identity (reference behavior for 'XYZ')


def cast_scale(x: np.ndarray) -> np.ndarray:
    """P3 (preprocessor/base.py:72-73,99-100): uint8 -> float32 / 255."""
    return x.astype(np.float32) / 255.0 if x.dtype == np.uint8 else x


def normalize(x: np.ndarray, mean=MEAN_DEFAULT, std=STD_DEFAULT) -> np.ndarray:
    """P2 (transforms/base.py:96-126): per-channel (x - mean) / std on a
    channels-last float array."""
    if x.dtype != np.float32:
        raise TypeError("normalize expects float32 (cast_scale first)")
    return (x - np.asarray(mean, dtype=np.float32)) / np.asarray(std, dtype=np.float32)


def cast_normalize(x: np.ndarray, mean=MEAN_DEFAULT, std=STD_DEFAULT) -> np.ndarray:
    """``normalize(cast_scale(x))`` in ONE output buffer, bit-equal to
    the composed P2∘P3 (pinned by tests/test_cast_normalize_lut.py).

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


def batch_inputs(samples: list[np.ndarray], batch_size: int) -> list[np.ndarray]:
    """I1 (preprocessor/base.py:44-59): stack samples into fixed-size
    batches (last batch ragged)."""
    num_batches = int(math.ceil(len(samples) / batch_size))
    return [
        np.stack(samples[idx * batch_size : min((idx + 1) * batch_size, len(samples))], axis=0)
        for idx in range(num_batches)
    ]


def preprocess_samples(
    samples: list[np.ndarray],
    out_h: int,
    out_w: int,
    batch_size: int,
    mean=MEAN_DEFAULT,
    std=STD_DEFAULT,
    symmetric_pad: bool = True,
    output_format: str = "BHWC",
    pad_value: int = 0,
    preserve_aspect_ratio: bool = True,
) -> list[np.ndarray]:
    """The PreProcessor.__call__ list branch (preprocessor/base.py:
    61-113): per sample HWC translate -> P1 resize+pad -> P3 cast/255;
    then I1 batching and P2 normalize per batch; optional P4 layout for
    channels-first models. Returns a list of float32 batches."""
    # The reference's Resize zero-pads (transforms/base.py:59-71); a
    # real model is trained with that. The stub models interpret pixel
    # value directly (dark = text), so the stub stages pass
    # pad_value=255 (white) for bit-equivalence with the uint8 path.
    if preserve_aspect_ratio:
        resized = [
            cast_scale(resize_preserve(shape_translate(s, "HWC"), out_h, out_w, symmetric_pad, pad_value))
            for s in samples
        ]
    else:
        from onnxtr_spark.kernels.geometry import resize_stretch

        # Resize(preserve_aspect_ratio=False): anisotropic stretch, no
        # padding at all (transforms/base.py:41-50)
        resized = [
            cast_scale(resize_stretch(shape_translate(s, "HWC"), out_h, out_w)) for s in samples
        ]
    batches = [normalize(b, mean, std) for b in batch_inputs(resized, batch_size)]
    if output_format != "BHWC":
        batches = [shape_translate(b, output_format) for b in batches]
    return batches
