"""Arrow columns built over buffers: no pandas in a Python worker.

The executor stages run on ``mapInArrow`` and build their output
``RecordBatch`` here. Whenever pandas is installed, pyarrow 16 imports
it on ``pa.array`` over a list or a NumPy array and on
``RecordBatch.from_pydict``/``from_pylist`` (``array.pxi``
``_is_array_like``), and on ``Array.to_numpy``; a reused worker keeps it
resident from then on (~22 MB RSS). So fixed-width columns are built over
NumPy buffers, string and binary columns over an offsets buffer plus one
data buffer, and lists over an offsets buffer plus their child array.
Inputs are read with ``column(name).to_pylist()``, which stays
pandas-free. Every type here is the Arrow type Spark maps the declared
SQL type to: ``int`` → int32, ``double`` → float64, ``string``,
``binary``, ``array<T>`` → a list of ``element`` T.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _fixed(values, dtype, typ: pa.DataType) -> pa.Array:
    data = np.ascontiguousarray(values, dtype=dtype)
    return pa.Array.from_buffers(typ, len(data), [None, pa.py_buffer(data)])


def int32(values) -> pa.Array:
    return _fixed(values, np.int32, pa.int32())


def float64(values) -> pa.Array:
    return _fixed(values, np.float64, pa.float64())


def _offsets(lengths) -> np.ndarray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return offsets


def binary(values: list[bytes], typ: pa.DataType = pa.binary()) -> pa.Array:
    offsets = _offsets([len(v) for v in values])
    return pa.Array.from_buffers(typ, len(values), [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(values))])


def string(values: list[str]) -> pa.Array:
    return binary([v.encode() for v in values], pa.string())


def lists(lengths, child: pa.Array) -> pa.Array:
    """``len(lengths)`` lists over consecutive runs of ``child``."""
    typ = pa.list_(pa.field("element", child.type))
    return pa.Array.from_buffers(typ, len(lengths), [None, pa.py_buffer(_offsets(lengths))], children=[child])


def typed(column: pa.Array, typ: pa.DataType) -> pa.Array:
    """``column`` as ``typ``: passed-through input columns keep the
    declared output type whatever the input frame's type."""
    return column if column.type == typ else column.cast(typ)


def batch(columns: dict[str, pa.Array]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(list(columns.values()), names=list(columns))
