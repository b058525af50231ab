"""Ingest: derive the interleaved docs table + media store from raw text.

The driver's testdata has a ``documents(doc_id, text, lang, source,
n_chars)`` table; these transforms derive the authoritative input shape
(BASELINE.json input_hint) from it deterministically:

- ``docs_from_documents``  — pure-SQL span construction (JVM-side,
  whole-stage codegen; no Python in the loop).
- ``media_from_documents`` — renders each page's words into a page image
  inside ``mapInArrow`` on executors (the PNG-encode stand-in; a real
  deployment would already hold these bytes in an object store keyed by
  media_ref).

The derivation follows corpus.py's SQL-reproducible rules so the whole
OCR pipeline has a DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onnxtr_spark import arrow_cols, imaging
from onnxtr_spark.corpus import lines, pages_col
from onnxtr_spark.partitioning import spread

MEDIA_SCHEMA = "media_ref string, png binary, height int, width int"


def _with_pages(documents: DataFrame) -> DataFrame:
    """(doc_id string, pages array<array<string>>): each doc's words cut
    by the corpus page rule (``corpus.pages_col``)."""
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        pages_col(F.split(F.trim(F.col("text")), r"\s+")).alias("pages"),
    )


def docs_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) → docs(doc_id, spans) with a header
    text span + one media span per corpus page."""
    header = F.struct(
        F.lit("text").alias("kind"),
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    media_spans = F.transform(
        F.col("pages"),
        lambda _, p: F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("m-"), F.col("doc_id"), F.lit("-"), p.cast("string")).alias("media_ref"),
            (p + 1).cast("int").alias("offset"),
        ),
    )
    return _with_pages(documents).select("doc_id", F.concat(F.array(header), media_spans).alias("spans"))


def media_from_documents(
    documents: DataFrame, rotate_words: bool = False, artefacts: bool = False,
    skew_pages: bool = False,
) -> DataFrame:
    """documents(doc_id, text, ...) → media(media_ref, png, height, width).

    Page word-lists are computed JVM-side (posexplode of
    ``corpus.pages_col``); only the rendering itself runs in Python,
    one ``mapInArrow`` batch at a time (no pandas in the worker,
    onnxtr_spark/arrow_cols.py), one ``corpus.lines`` frame per page.

    ``rotate_words=True`` renders the rotated-words corpus variant:
    each page image is skewed in-plane by ``corpus.angle_for`` degrees
    (6-10°, deterministic per page), exercising the
    ``assume_straight_pages=False`` pipeline. The OCR oracle is
    unchanged — word text and reading order are rotation-invariant.

    ``skew_pages=True`` renders the SMALL-skew corpus for the G4
    straighten path: ``corpus.small_angle_for`` degrees (±1-5°,
    integers), to be undone by ``straighten_pages`` on the STRAIGHT
    pipeline (not the rotated-box path). Same rotation-invariant oracle.

    ``artefacts=True`` draws ``corpus.artefacts_for`` blocks in the top
    page margin (pixel values above the text-detection cutoff, so the
    text path is byte-identical) for the artefact-detection stage.
    """
    # Rendering is CPU-bound Python: spread it across all cores even when
    # the source is a single small parquet file (1 input partition).
    pages = spread(_with_pages(documents)).select(
        "doc_id", F.posexplode("pages").alias("page", "page_words")
    ).select(
        F.concat(F.lit("m-"), F.col("doc_id"), F.lit("-"), F.col("page").cast("string")).alias("media_ref"),
        "page_words",
    )

    def render(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from onnxtr_spark.corpus import R_CELL_W, R_GAP_W, angle_for, artefacts_for, small_angle_for

        render_kwargs = {"cell_w": R_CELL_W, "gap_w": R_GAP_W} if (rotate_words or skew_pages) else {}
        for batch in batches:
            if not batch.num_rows:
                continue
            pngs, heights, widths = [], [], []
            media_refs = batch.column("media_ref")
            for media_ref, page_words in zip(media_refs.to_pylist(), batch.column("page_words").to_pylist()):
                # Empty page -> blank image: detection finds no boxes, so
                # the doc contributes only its pass-through text spans.
                img = imaging.render_page(lines([w for w in page_words if w]), **render_kwargs)
                if artefacts:
                    doc_id, page = media_ref[2:].rsplit("-", 1)
                    img = imaging.add_artefacts(img, artefacts_for(doc_id, int(page)))
                if rotate_words or skew_pages:
                    # media_ref is "m-<doc>-<page>"; rendered pages are
                    # grayscale (3 equal channels), so rotate channel 0
                    # only and broadcast — 3x less gather traffic, and
                    # encode_image stores the grayscale frame anyway
                    doc_id, page = media_ref[2:].rsplit("-", 1)
                    deg = (
                        angle_for(doc_id, int(page)) if rotate_words
                        else small_angle_for(doc_id, int(page))
                    )
                    rot0 = imaging.rotate_image_nearest(img[:, :, 0], deg)
                    img = np.broadcast_to(rot0[:, :, None], rot0.shape + (3,))
                pngs.append(imaging.encode_image(img))
                heights.append(img.shape[0])
                widths.append(img.shape[1])
            yield arrow_cols.batch({
                "media_ref": arrow_cols.typed(media_refs, pa.string()),
                "png": arrow_cols.binary(pngs),
                "height": arrow_cols.int32(heights),
                "width": arrow_cols.int32(widths),
            })

    return pages.mapInArrow(render, schema=MEDIA_SCHEMA)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def materialize_corpus(spark: SparkSession, sf_dir: str, cache_dir: str) -> tuple[DataFrame, DataFrame]:
    """One-time ingest: derive docs+media from documents and persist as
    parquet (the production shape — media bytes live in storage keyed by
    media_ref; extraction jobs scan them, they don't synthesize them).
    Returns (docs, media) reading from the cache."""
    import os

    docs_path = f"{cache_dir}/docs.parquet"
    media_path = f"{cache_dir}/media.parquet"
    documents = load_documents(spark, sf_dir)
    if not os.path.exists(docs_path):
        docs_from_documents(documents).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(media_path):
        media_from_documents(documents).write.mode("overwrite").parquet(media_path)
    return spark.read.parquet(docs_path), spark.read.parquet(media_path)


def write_bucketed_corpus(
    docs: DataFrame, media: DataFrame, buckets: int = 32, prefix: str = "onnxtr_bkt"
) -> tuple[str, str]:
    """Persist the ingest-join inputs BUCKETED on ``media_ref`` so the
    page join is shuffle-free — the strategy the pipeline docstring
    promises for 10^12 docs, made concrete.

    The media-span side is pre-exploded (doc_id, offset, media_ref)
    rows and both tables are ``bucketBy(buckets, media_ref)`` +
    ``sortBy(media_ref)``: a scan of either reports hash partitioning
    on media_ref, so Catalyst plans the join as a SortMergeJoin with
    ZERO Exchange (plan-asserted in test_plans.py). At 100 TB this
    removes the single ingest shuffle — the only wide op ahead of the
    model stages — and repeated extraction runs (backfills, model
    re-runs) amortize the one-time bucketed write. Returns the two
    table names (Spark managed tables; parquet + bucket metadata in
    the session catalog — the Iceberg analog is a bucket-partitioned
    table spec)."""
    spans_tbl, media_tbl = f"{prefix}_spans", f"{prefix}_media"
    spans = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.media_ref").alias("media_ref"))
    )
    for tbl, df in ((spans_tbl, spans), (media_tbl, media)):
        df.write.mode("overwrite").bucketBy(buckets, "media_ref").sortBy(
            "media_ref"
        ).saveAsTable(tbl)
    return spans_tbl, media_tbl


def media_pages_bucketed(spark: SparkSession, spans_tbl: str, media_tbl: str) -> DataFrame:
    """The media_pages join over bucketed tables: co-located, no
    exchange, no explicit repartition needed ahead of the model stages
    (bucket count IS the parallel grain; pick buckets ≈ cluster cores
    at write time)."""
    return (
        spark.table(spans_tbl)
        .join(spark.table(media_tbl), "media_ref")
        .select("doc_id", "offset", "media_ref", "png", "height", "width")
    )


def replicate_documents(documents: DataFrame, factor: int) -> DataFrame:
    """Deterministically scale the corpus: ``factor`` copies with
    disjoint doc_id ranges (doc_id + 10^7 * k). Used by bench --scaling
    so per-job fixed costs amortize at high core counts."""
    from functools import reduce

    copies = [
        documents.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000 * k)) for k in range(factor)
    ]
    return reduce(DataFrame.unionByName, copies)
