"""Resident memory of one reused Python worker, before and after pandas.

    python plans/r20/worker_rss_probe.py TREE

In a ``local[1]`` session (one reused worker) of TREE, runs the page
renderer and the fused page path over the seed-41 ``ocr_straight``
inputs of perfbench/workloads.py, then two probe stages in the same
worker: the first reports the worker's VmRSS and VmHWM and whether
pandas is loaded, building its answer over buffers; the second imports
pandas and reports the same."""
import json
import os
import sys

tree = os.path.abspath(sys.argv[1])
sys.path.insert(0, tree)
os.chdir(tree)

from onnxtr_spark.session import get_spark  # noqa: E402
from onnxtr_spark.stages import ingest  # noqa: E402
from onnxtr_spark.stages.pipeline import extract_spans  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

spark = get_spark("worker_rss_probe", cpus=1, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")


def probe(import_pandas: bool):
    def run(batches):
        import sys

        if import_pandas:
            import pandas  # noqa: F401
        loaded = "pandas" in sys.modules
        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        status = dict(ln.split(":", 1) for ln in open("/proc/self/status") if ln.startswith(("VmRSS", "VmHWM")))
        vals = np.array([float(status["VmRSS"].split()[0]) / 1024, float(status["VmHWM"].split()[0]) / 1024, loaded])
        cols = [pa.Array.from_buffers(pa.float64(), 1, [None, pa.py_buffer(vals[i : i + 1].copy())]) for i in range(3)]
        yield pa.RecordBatch.from_arrays(cols, names=["rss_mb", "hwm_mb", "pandas"])

    return run


documents = spark.createDataFrame(wl.documents(wl.SPECS["ocr_straight"], 41), "doc_id long, text string")
docs = ingest.docs_from_documents(documents)
media = ingest.media_from_documents(documents).cache()
media.count()
for _ in range(2):
    extract_spans(docs, media).write.format("noop").mode("overwrite").save()
schema = "rss_mb double, hwm_mb double, pandas double"
out = {}
for name, import_pandas in (("after_ocr", False), ("after_import_pandas", True)):
    r = spark.range(1, numPartitions=1).mapInArrow(probe(import_pandas), schema).collect()[0]
    out[name] = {"rss_mb": round(r.rss_mb, 1), "hwm_mb": round(r.hwm_mb, 1), "pandas": bool(r.pandas)}
print(json.dumps(out))
spark.stop()
