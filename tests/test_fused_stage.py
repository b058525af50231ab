"""Fused detect+recognize must be row-identical to the chained stages."""

from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs
from onnxtr_spark.stages.build import assemble_spans
from onnxtr_spark.stages.detect import detect_pages
from onnxtr_spark.stages.pipeline import extract_spans, media_pages
from onnxtr_spark.stages.recognize import recognize_pages
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA


def test_fused_equals_unfused(spark):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS[:3])
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    fused = extract_spans(docs, media)
    chained = assemble_spans(docs, recognize_pages(detect_pages(media_pages(docs, media))))
    assert fused.exceptAll(chained).count() == 0
    assert chained.exceptAll(fused).count() == 0
