"""Bit-identity of the table-lookup ``cast_normalize`` (P2-P4).

The oracle is the arithmetic the runtime ran before the lookup: cast
the whole frame to float32, then /255, -mean and /std in place. Every
case compares float32 bit patterns, so -0.0 vs 0.0 or a one-ulp drift
fails, and rejected shapes must raise the same exception type.
"""

import numpy as np
import pytest

from onnxtr_spark.kernels import preprocess as pp
from tests import preprocess_oracle

IMAGENET = ((0.485, 0.456, 0.406), (0.229, 0.224, 0.225))
PARAMS = [(pp.MEAN_DEFAULT, pp.STD_DEFAULT), IMAGENET, ((0.7,), (0.3,)), ((0.1, 0.9, 0.5), (2.0, 0.5, 1.0))]


def cast_normalize_arith(x: np.ndarray, mean=pp.MEAN_DEFAULT, std=pp.STD_DEFAULT) -> np.ndarray:
    """The former uint8 branch: four full float32 passes."""
    if x.dtype == np.uint8:
        out = x.astype(np.float32)
        out /= np.float32(255.0)
    else:
        if x.dtype != np.float32:
            raise TypeError("cast_normalize expects uint8 or float32")
        out = x.copy()
    out -= np.asarray(mean, dtype=np.float32)
    out /= np.asarray(std, dtype=np.float32)
    return out


def assert_bits_equal(got: np.ndarray, want: np.ndarray) -> None:
    assert got.dtype == want.dtype == np.float32
    assert got.shape == want.shape
    assert got.flags.c_contiguous and got.flags.writeable
    np.testing.assert_array_equal(got.view(np.uint32), want.view(np.uint32))


def _frames(rng: np.random.Generator) -> list[np.ndarray]:
    plane = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    return [
        rng.integers(0, 256, (41, 29, 3), dtype=np.uint8),  # contiguous page map
        np.broadcast_to(plane[:, :, None], plane.shape + (3,)),  # stride-0 grayscale page
        rng.integers(0, 256, (5, 32, 47, 3), dtype=np.uint8),  # crop batch
        rng.integers(0, 256, (64, 96, 3), dtype=np.uint8)[::2, 1::3],  # strided view
    ]


@pytest.mark.parametrize("mean,std", PARAMS)
def test_all_256_values_every_channel(mean, std):
    v = np.arange(256, dtype=np.uint8)
    x = np.stack([v, v[::-1], np.roll(v, 77)], axis=-1)  # (256, 3): each channel sees all values
    assert_bits_equal(pp.cast_normalize(x, mean, std), cast_normalize_arith(x, mean, std))


@pytest.mark.parametrize("mean,std", PARAMS)
def test_equals_cast_then_normalize(mean, std):
    """One buffer gives the bits of P3 then P2 as two float32 passes."""
    for x in _frames(np.random.default_rng(7)):
        want = preprocess_oracle.normalize(preprocess_oracle.cast_scale(x), mean, std)
        assert_bits_equal(pp.cast_normalize(x, mean, std), want)


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("mean,std", PARAMS)
def test_uint8_frames_bit_identical(seed, mean, std):
    for x in _frames(np.random.default_rng(seed)):
        assert_bits_equal(pp.cast_normalize(x, mean, std), cast_normalize_arith(x, mean, std))


@pytest.mark.parametrize("mean,std", PARAMS)
def test_float32_branch_unchanged(mean, std):
    rng = np.random.default_rng(7)
    x = rng.random((3, 17, 23, 3), dtype=np.float32)
    before = x.copy()
    assert_bits_equal(pp.cast_normalize(x, mean, std), cast_normalize_arith(x, mean, std))
    np.testing.assert_array_equal(x, before)  # input is never written


def test_tables_are_cached_and_read_only():
    x = np.zeros((2, 2, 3), dtype=np.uint8)
    pp.cast_normalize(x, *IMAGENET)
    tab = pp._channel_tables(*(tuple(np.asarray(p, dtype=np.float32).tolist()) for p in IMAGENET))
    assert tab.shape == (3, 256) and not tab.flags.writeable
    hits = pp._channel_tables.cache_info().hits
    pp.cast_normalize(x, *IMAGENET)
    assert pp._channel_tables.cache_info().hits == hits + 1


@pytest.mark.parametrize("shape", [(4, 4, 4), (4, 4, 1), (2, 4, 4, 2), (4, 3, 1), (), (4, 5)])
@pytest.mark.parametrize("dtype", [np.uint8, np.float32])
def test_rejected_shapes_raise_as_before(shape, dtype):
    x = np.zeros(shape, dtype=dtype)
    with pytest.raises(Exception) as want:
        cast_normalize_arith(x)
    with pytest.raises(want.type):
        pp.cast_normalize(x)


def test_mean_along_another_axis_rejected():
    # broadcastable, but a (3, 1) mean varies along rows: no per-channel table
    with pytest.raises(ValueError, match="per channel"):
        pp.cast_normalize(np.zeros((2, 3, 3), dtype=np.uint8), mean=np.full((3, 1), 0.5))


def test_rejected_dtype():
    with pytest.raises(TypeError):
        pp.cast_normalize(np.zeros((2, 2, 3), dtype=np.float64))
