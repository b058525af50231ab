"""End-to-end extraction pipeline: docs + media → ordered span rows.

Physical plan (SURVEY.md §4):

    scan docs ── explode spans ── filter kind='media'     (narrow)
          │
          └─ join media ON media_ref        ← the ONE ingest shuffle;
             (hash-partitions pages by media_ref, so a 1000-page doc's
             pages scatter across all tasks — this IS the north_rule
             skew salt: parallel grain = page, never doc)
          │
    detect+recognize (one mapInArrow: the page layer sequence of
          │           stages/page_path.py, decode→resize→model→
          │           postprocess→crop→split→model→decode→rank) (narrow)
    assemble (union text spans + window row_number by doc_id)
                                            ← the ONE reassembly shuffle
                                              (word rows only, tiny; AQE
                                              coalesces its partitions)

The media join broadcasts nothing (both sides huge at 10^12 docs); it is
an equi-join on a unique key, the canonical co-partitioned case — at
scale both tables are bucketed by media_ref to make it shuffle-free:
``ingest.write_bucketed_corpus`` + ``ingest.media_pages_bucketed``
produce exactly that plan (SortMergeJoin, zero Exchange — asserted in
test_plans.test_bucketed_media_join_shuffle_free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onnxtr_spark.stages.build import assemble_spans, to_doc_spans
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.ingest import docs_from_documents, load_documents, media_from_documents
from onnxtr_spark.stages.recognize import RecognizeConfig
from onnxtr_spark.partitioning import spread


def media_pages(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Explode media spans and attach page bytes.

    The explicit keyed ``repartition`` after the join pins the parallel
    grain of the model stages to pages-spread-across-all-cores. Without
    it AQE (correctly, by byte size) coalesces the small compressed-blob
    shuffle into a couple of partitions — but the Python model stages
    are CPU-bound per *row*, not per byte, so byte-based coalescing
    would serialize them. Explicit numPartitions is exempt from AQE
    coalescing."""
    spans = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.media_ref").alias("media_ref"))
    )
    # Join + explicit hash repartition on media_ref. Measured A/B
    # (BASELINE.md): a broadcast join that streams pages in scan order
    # is ~30% SLOWER end-to-end than paying this small shuffle, because
    # scan-contiguous pages have correlated per-page model cost (long
    # docs cluster) → straggler tasks; the hash shuffle randomizes work
    # per task. Page blobs are zlib-compressed (~2-3 KB/page), so the
    # shuffle is cheap — and this is exactly the north_rule's skew
    # salt: a 1000-page document scatters across all tasks.
    return spread(spans.join(media, "media_ref"), "media_ref").select(
        "doc_id", "offset", "media_ref", "png", "height", "width"
    )


def extract_spans(
    docs: DataFrame,
    media: DataFrame,
    det_cfg: DetectConfig = DetectConfig(),
    reco_cfg: RecognizeConfig = RecognizeConfig(),
    metrics_acc=None,
) -> DataFrame:
    """Full OCR extraction: flat span rows (doc_id, offset, kind, text, media_ref).

    Detect+recognize run in one mapInArrow so page bytes cross the
    JVM↔Python boundary once (see stages/fused.py); chaining the
    standalone ``detect_pages`` and ``recognize_pages`` gives the same
    rows (asserted in tests). ``metrics_acc``: see
    fused.detect_recognize_pages."""
    words = detect_recognize_pages(media_pages(docs, media), det_cfg, reco_cfg, metrics_acc=metrics_acc)
    return assemble_spans(docs, words)


def extract_documents(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Nested export: (doc_id, spans) in the input-table shape (S6 sink)."""
    return to_doc_spans(extract_spans(docs, media))


def extract_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: derive docs+media from the driver's documents table,
    OCR every page, return the interleaved flat spans."""
    documents = load_documents(spark, sf_dir)
    docs = docs_from_documents(documents)
    media = media_from_documents(documents)
    return extract_spans(docs, media)


def extract_from_testdata_straightened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 arbitrary-angle pipeline end-to-end: pages carry a small
    integer skew (±1-5°, corpus.small_angle_for) that the STRAIGHT
    pipeline undoes via estimate_orientation → rotate → re-detect
    (straighten_pages=True; reference models/_utils.py:33-151 +
    predictor/base.py:102-124). Output spans must equal the straight
    pipeline's — the oracle is identical."""
    documents = load_documents(spark, sf_dir)
    docs = docs_from_documents(documents)
    media = media_from_documents(documents, skew_pages=True)
    return extract_spans(docs, media, det_cfg=DetectConfig(straighten_pages=True))


def extract_from_testdata_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-word pipeline end-to-end (assume_straight_pages=False):
    pages are skewed 6-10° in-plane at ingest; detection emits (N,4,2)
    polygons, recognition crops along them, the builder straightens for
    reading order, and exported geometry is the B7 enclosing box. Output
    spans must equal the straight pipeline's (the oracle is identical —
    text and order are rotation-invariant)."""
    documents = load_documents(spark, sf_dir)
    docs = docs_from_documents(documents)
    media = media_from_documents(documents, rotate_words=True)
    return extract_spans(docs, media, det_cfg=DetectConfig(assume_straight_pages=False))
