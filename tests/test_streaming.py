"""Streaming extraction: AvailableNow drains new files incrementally
with exactly-once output across restarts."""

import pandas as pd
from pyspark.sql import functions as F

from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs, build_rotated_words_corpus_pdfs
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.pipeline import extract_spans
from onnxtr_spark.streaming.extract_stream import stream_extract_available_now
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA, golden_flat


def test_available_now_stream(spark, tmp_path):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # land the first two docs, drain
    first = spark.createDataFrame(docs_pdf.iloc[:2], schema=DOCS_SCHEMA)
    first.write.mode("append").parquet(docs_dir)
    q = stream_extract_available_now(spark, docs_dir, media, out_dir, ckpt)
    q.awaitTermination(120)

    got1 = spark.read.parquet(f"{out_dir}/spans")
    assert set(r["doc_id"] for r in got1.select("doc_id").distinct().collect()) == {
        "doc-0001", "doc-0002",
    }

    # land the rest, drain again — previously-processed files are skipped
    rest = spark.createDataFrame(docs_pdf.iloc[2:], schema=DOCS_SCHEMA)
    rest.write.mode("append").parquet(docs_dir)
    q2 = stream_extract_available_now(spark, docs_dir, media, out_dir, ckpt)
    q2.awaitTermination(120)

    got = (
        spark.read.parquet(f"{out_dir}/spans")
        .toPandas()
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    want = golden_flat().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert len(got) == len(want)  # exactly once: no dupes from the restart
    pd.testing.assert_frame_equal(
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str), want.astype(str)
    )


def test_available_now_stream_keeps_the_detect_config(spark, tmp_path):
    """A streaming run with the rotated-word config returns exactly the
    rows the batch pipeline returns with it, not the straight path's."""
    docs_pdf, media_pdf = build_rotated_words_corpus_pdfs(FIXTURE_TEXTS)
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    det_cfg = DetectConfig(assume_straight_pages=False)
    docs.write.parquet(str(tmp_path / "docs"))
    q = stream_extract_available_now(
        spark, str(tmp_path / "docs"), media, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        det_cfg=det_cfg,
    )
    q.awaitTermination(120)
    want = extract_spans(docs, media, det_cfg)
    got = spark.read.parquet(str(tmp_path / "out" / "spans")).select(*want.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
