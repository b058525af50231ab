"""P3 and P2 as two float32 passes: the composed oracle of
``kernels/preprocess.cast_normalize``, which fills one buffer from a
per-channel table (``tests/test_cast_normalize_lut.py`` pins the two
equal bit for bit)."""

from __future__ import annotations

import numpy as np

from onnxtr_spark.kernels.preprocess import MEAN_DEFAULT, STD_DEFAULT


def cast_scale(x: np.ndarray) -> np.ndarray:
    """P3 (preprocessor/base.py:72-73,99-100): uint8 -> float32 / 255."""
    return x.astype(np.float32) / 255.0 if x.dtype == np.uint8 else x


def normalize(x: np.ndarray, mean=MEAN_DEFAULT, std=STD_DEFAULT) -> np.ndarray:
    """P2 (transforms/base.py:96-126): per-channel (x - mean) / std on a
    channels-last float array."""
    if x.dtype != np.float32:
        raise TypeError("normalize expects float32 (cast_scale first)")
    return (x - np.asarray(mean, dtype=np.float32)) / np.asarray(std, dtype=np.float32)
