"""The Python worker that runs the OCR stages never imports pandas.

A reused worker keeps every module it ever imported, and pandas alone is
~22 MB of its RSS. In a fresh ``local[1]`` session (one reused worker)
this runs the page renderer, the fused page path of ``extract_spans``,
the checkpointed rotated job (float detector, metrics accumulator) and
the orientation predictor; then a probe stage in the same worker reads
``'pandas' in sys.modules`` before it builds anything, and builds its
answer from buffers (``RecordBatch.from_pydict`` would import pandas
itself). The session runs in a subprocess: the test session's workers
have run pandas UDFs of other tests.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, sys, tempfile

from onnxtr_spark.corpus import FIXTURE_TEXTS
from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.lineage import run_checkpointed
from onnxtr_spark.session import get_spark
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.ingest import docs_from_documents, media_from_documents
from onnxtr_spark.stages.pipeline import extract_spans
from onnxtr_spark.zoo import ocr_predictor

spark = get_spark("worker_no_pandas", cpus=1, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
texts = [t for t in FIXTURE_TEXTS if t[0] != "doc-0003"][:3]  # doc-0003 is wider than a rotated page
documents = spark.createDataFrame(texts, "doc_id string, text string")
docs = docs_from_documents(documents)
media = media_from_documents(documents)
extract_spans(docs, media).write.format("noop").mode("overwrite").save()
rotated = media_from_documents(documents, rotate_words=True)
det_cfg = DetectConfig(
    assume_straight_pages=False,
    engine=EngineConfig(arch="stub_fast_float", input_contract="float_bchw"),
)
groups = run_checkpointed(spark, docs, rotated, tempfile.mkdtemp(), n_groups=2, det_cfg=det_cfg)
ocr_predictor(detect_orientation=True)(docs, media).write.format("noop").mode("overwrite").save()


def probe(batches):
    import sys

    seen = [
        "pandas" in sys.modules,  # read first: nothing below may import it
        # what the stages' pickled closures import: the page path, the
        # renderer's imaging, the accumulator's module
        "onnxtr_spark.stages.page_path" in sys.modules,
        "onnxtr_spark.imaging" in sys.modules,
        "onnxtr_spark.lineage" in sys.modules,
    ]
    import numpy as np
    import pyarrow as pa

    for _ in batches:
        pass
    flags = np.array(seen, dtype=np.int32)
    col = pa.Array.from_buffers(pa.int32(), len(flags), [None, pa.py_buffer(flags)])
    yield pa.RecordBatch.from_arrays([col], names=["flag"])


flags = [r.flag for r in spark.range(1, numPartitions=1).mapInArrow(probe, "flag int").collect()]
print("RESULT " + json.dumps({"groups": groups, "flags": flags}))
spark.stop()
"""


def test_ocr_stages_leave_the_worker_without_pandas():
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=ROOT, env=env, capture_output=True, text=True, timeout=900
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    result = json.loads(lines[-1].removeprefix("RESULT "))
    assert result["groups"] == [0, 1]
    pandas_loaded, *stages_loaded = result["flags"]
    assert not pandas_loaded, "an OCR stage imported pandas in the Python worker"
    assert all(stages_loaded), "the probe ran in another worker than the stages"
