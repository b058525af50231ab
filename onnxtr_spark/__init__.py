"""onnxtr_spark — a PySpark-native document-extraction analytics engine.

A brand-new, Spark-first rebuild of the capabilities of
felixdittrich92/OnnxTR (reference at /root/reference, Apache 2.0):
a detect-then-recognize OCR dataflow over Iceberg/parquet tables of
interleaved text+media documents, plus the large-scale training-data
operators (dedup, similarity search, text analysis) such a corpus
pipeline needs.

Architecture (NOT a port — see SURVEY.md):

- ``kernels/``   pure NumPy math that must match the reference bit-for-bit
                 (detection postprocess, CTC decode, wide-crop split/merge,
                 document-builder geometry).
- ``stages/``    Spark stages: ``mapInArrow`` render, detect +
                 recognize, SQL span assembly.
- ``functions/`` corpus-scale ops: dedup (exact/minhash/simhash/jaccard),
                 ANN similarity search, text quality/langid/tokens.
- ``queries/``   relational benchmark queries over the TPC-H-ish testdata.
- ``corpus.py``  deterministic synthetic docs+media generator (no external
                 data; the sandbox has no PIL/cv2/onnxruntime, so page
                 rendering and the two neural nets are deterministic fakes —
                 every other operator is real; see imaging.py docstring).
"""

__version__ = "0.1.0"


def __getattr__(name):
    # Lazy top-level API (mirrors the reference's `from onnxtr.models
    # import ocr_predictor, from_hub, EngineConfig` surface) without
    # importing pyspark at package-import time.
    if name in (
        "ocr_predictor",
        "detection_predictor",
        "recognition_predictor",
        "crop_orientation_predictor",
        "page_orientation_predictor",
    ):
        from onnxtr_spark import zoo

        return getattr(zoo, name)
    if name == "DocumentFile":
        from onnxtr_spark.sources.reader import DocumentFile

        return DocumentFile
    if name == "from_hub":
        from onnxtr_spark.hub import from_hub

        return from_hub
    if name == "EngineConfig":
        from onnxtr_spark.engine import EngineConfig

        return EngineConfig
    raise AttributeError(f"module 'onnxtr_spark' has no attribute {name!r}")
