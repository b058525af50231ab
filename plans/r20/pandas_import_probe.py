"""Which pyarrow calls import pandas, and which onnxtr_spark modules do.

    python plans/r20/pandas_import_probe.py [TREE]

Each line runs in a fresh interpreter (numpy and pyarrow imported, pandas
not) and prints whether ``pandas`` is in ``sys.modules`` afterwards. The
first block is the pyarrow calls an Arrow stage could use to read its
input and build its output; the second imports the modules a Python
worker loads for the OCR stages, from TREE (default: the current
directory)."""
import os
import subprocess
import sys

tree = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")

I32 = "pa.Array.from_buffers(pa.int32(), 3, [None, pa.py_buffer(np.arange(3, dtype=np.int32))])"
F64 = "pa.Array.from_buffers(pa.float64(), 2, [None, pa.py_buffer(np.arange(2.0))])"
CALLS = {
    "import pyarrow": "pass",
    "Array.from_buffers": I32,
    "RecordBatch.from_arrays": f"pa.RecordBatch.from_arrays([{I32}], names=['x'])",
    "Array.take(Array)": f"{I32}.take({I32})",
    "RecordBatch.take(Array)": f"pa.RecordBatch.from_arrays([{I32}], names=['x']).take({I32})",
    "RecordBatch.select/column/slice": f"b = pa.RecordBatch.from_arrays([{I32}], names=['x']); b.select(['x']).column('x').slice(1)",
    "Array.cast": f"{I32}.cast(pa.string())",
    "ListArray.from_arrays": f"pa.ListArray.from_arrays({I32}, {F64})",
    "list Array.from_buffers(children=)": (
        f"pa.Array.from_buffers(pa.list_(pa.float64()), 2, [None, pa.py_buffer(np.arange(3, dtype=np.int32))], children=[{F64}])"
    ),
    "binary Array.from_buffers": (
        "pa.Array.from_buffers(pa.binary(), 2, [None, pa.py_buffer(np.array([0, 1, 3], dtype=np.int32)), pa.py_buffer(b'abc')])"
    ),
    "Array.to_pylist": f"{I32}.to_pylist()",
    "Array.take(ndarray)": f"{I32}.take(np.arange(3))",
    "Array.to_numpy": f"{I32}.to_numpy()",
    "pa.array(list)": "pa.array([1, 2])",
    "pa.scalar": "pa.scalar(1, pa.int32())",
    "RecordBatch.from_pydict": "pa.RecordBatch.from_pydict({'x': [1, 2]})",
}
MODULES = [
    "onnxtr_spark.arrow_cols",
    "onnxtr_spark.corpus",
    "onnxtr_spark.lineage",
    "onnxtr_spark.stages.page_path",
    "onnxtr_spark.stages.detect",
    "onnxtr_spark.stages.recognize",
    "onnxtr_spark.stages.fused",
    "onnxtr_spark.stages.ingest",
    "onnxtr_spark.zoo",
]


def imports_pandas(code: str) -> str:
    src = f"import sys\nimport numpy as np\nimport pyarrow as pa\n{code}\nprint('pandas' in sys.modules)"
    proc = subprocess.run([sys.executable, "-c", src], cwd=tree, capture_output=True, text=True)
    return proc.stdout.strip() or f"error: {proc.stderr.strip().splitlines()[-1]}"


for name, code in CALLS.items():
    print(f"{name:36s} {imports_pandas(code)}")
for module in MODULES:
    print(f"import {module:29s} {imports_pandas(f'import {module}')}")
