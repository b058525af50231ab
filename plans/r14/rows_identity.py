"""Fused OCR rows of one checkout over the benchmark inputs, for a
bit-identity diff against another checkout.

    python plans/r14/rows_identity.py TREE OUT.pkl [SEED]
    python plans/r14/rows_identity.py --diff A.pkl B.pkl

Builds the ``ocr_straight`` and ``ocr_rotated_job`` documents of
perfbench/workloads.py for SEED (default 41) with TREE's ingest stage,
runs ``detect_recognize_pages`` on five configurations (straight
default, B4 blocks, attention recognizer, straightened skewed pages,
rotated pages with the float detector) and pickles each result sorted by
(media_ref, word_id). ``--diff`` compares every column's values and
dtype with ``pandas.testing.assert_frame_equal(check_exact=True)``."""
import os
import pickle
import sys

import pandas as pd

if sys.argv[1] == "--diff":
    a, b = (pickle.load(open(p, "rb")) for p in sys.argv[2:4])
    assert a.keys() == b.keys(), (a.keys(), b.keys())
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name], check_exact=True)
        print(f"{name}: {len(a[name])} rows identical, dtypes {dict(a[name].dtypes.astype(str))}")
    sys.exit(0)

tree = os.path.abspath(sys.argv[1])
sys.path.insert(0, tree)
os.chdir(tree)
seed = int(sys.argv[3]) if len(sys.argv) > 3 else 41

from onnxtr_spark.engine import EngineConfig  # noqa: E402
from onnxtr_spark.session import get_spark  # noqa: E402
from onnxtr_spark.stages import ingest  # noqa: E402
from onnxtr_spark.stages.detect import DetectConfig  # noqa: E402
from onnxtr_spark.stages.fused import detect_recognize_pages  # noqa: E402
from onnxtr_spark.stages.pipeline import media_pages  # noqa: E402
from onnxtr_spark.stages.recognize import RecognizeConfig  # noqa: E402
from onnxtr_spark.zoo import ocr_predictor  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

spark = get_spark("rows_identity", cpus=2, shuffle_partitions=4)


def pages(name: str, **media_kwargs):
    documents = spark.createDataFrame(wl.documents(wl.SPECS[name], seed), "doc_id long, text string")
    docs = ingest.docs_from_documents(documents)
    return media_pages(docs, ingest.media_from_documents(documents, **media_kwargs)).cache()


straight = pages("ocr_straight")
float_det = EngineConfig(arch="stub_fast_float", input_contract="float_bchw")
runs = {
    "straight": (straight, DetectConfig(), RecognizeConfig()),
    "blocks": (straight, DetectConfig(), RecognizeConfig(resolve_blocks=True)),
    "attention": (straight, DetectConfig(), ocr_predictor(reco_arch="vitstr_small").reco_cfg),
    "straightened": (pages("ocr_straight", skew_pages=True), DetectConfig(straighten_pages=True), RecognizeConfig()),
    "rotated": (
        pages("ocr_rotated_job", rotate_words=True),
        DetectConfig(assume_straight_pages=False, engine=float_det),
        RecognizeConfig(),
    ),
}
out = {}
for name, (pg, det_cfg, reco_cfg) in runs.items():
    pdf = detect_recognize_pages(pg, det_cfg, reco_cfg).toPandas()
    out[name] = pdf.sort_values(["media_ref", "word_id"], ignore_index=True)
    print(name, len(out[name]), flush=True)
with open(sys.argv[2], "wb") as f:
    pickle.dump(out, f)
spark.stop()
