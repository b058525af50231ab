"""S4 multi-source facade: the DocumentFile analog
(reference io/reader.py:21-79 — from_pdf / from_images / from_url
choosing a decode path per input kind).

Spark-first shape: ONE mixed-kind table (doc_id, kind, page, payload)
fans out into declarative branches — kind is a partition-predicate
filter, never a per-row Python dispatch — and the branches union back
into a single (doc_id, kind, page, text) relation:

- ``html``  → JVM-side boilerplate strip (sources/html.py), page 0;
- ``html_scanned`` → render HTML to PDF (sources/render.py, the
  injectable weasyprint seam, reference io/html.py:11-26) then the
  rasterize→OCR chain — the reference's read_html path re-entering S1;
- ``pdf``   → content-stream text parse (sources/pdf.py), one output
  row per PDF page (a doc is one payload) — the born-digital path.
  PDFs the parser cannot faithfully read (encryption, non-Flate
  filters — pdf.UNSUPPORTED_PDF_TOKENS, checked JVM-side on the raw
  bytes) are REROUTED to the rasterizer branch and come back with kind
  ``pdf_scanned``: flagged by kind, never silently empty text;
- ``pdf_scanned`` → rasterize (sources/rasterize.py, the injectable
  pypdfium2 seam, reference io/pdf.py:16-43 + io/reader.py:25-45) then
  the full OCR pipeline — the scanned-document path;
- ``image`` → the full OCR pipeline (fused detect+recognize) with
  reading-order text assembly per page (a doc may span several page
  images, keyed by the input ``page`` column);
- ``warc`` → gzip web-archive record (sources/warc.py): Python-side
  member/Content-Length framing, JVM-side boilerplate strip.

At scale each branch prunes to its own partitions when the table is
partitioned by ``kind`` (partition pruning is visible in the scan), so
a corpus that is 90% HTML never pays image decode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onnxtr_spark import imaging
from onnxtr_spark.corpus import WORDS_PER_PAGE, render_pages
from onnxtr_spark.sources.html import html_main_text, synthesize_html
from onnxtr_spark.sources.pdf import UNSUPPORTED_PDF_TOKENS, pdf_pages_text, synthesize_pdfs
from onnxtr_spark.sources.rasterize import RasterizerConfig, rasterize_pdf_pages
from onnxtr_spark.sources.render import HtmlRendererConfig, render_html_pdfs
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.partitioning import spread

READ_COLS = ["doc_id", "kind", "page", "text"]


def assemble_page_text(words: DataFrame, kind: str) -> DataFrame:
    """Reading-order text per page from fused-OCR word rows:
    (doc_id, kind, page, text)."""
    return (
        words.groupBy("doc_id", "offset")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list(F.struct("rank", "text"))), lambda s: s["text"]),
                " ",
            ).alias("text")
        )
        .select("doc_id", F.lit(kind).alias("kind"), F.col("offset").alias("page"), "text")
    )


def read_documents(
    df: DataFrame,
    rasterizer_cfg: RasterizerConfig = RasterizerConfig(),
    renderer_cfg: HtmlRendererConfig = HtmlRendererConfig(),
) -> DataFrame:
    """(doc_id, kind, page, payload binary) → (doc_id, kind, page, text).

    ``payload``: utf-8 HTML bytes, PDF bytes (born-digital or scanned),
    or an encoded page image (imaging codec / PNG stand-in) according
    to ``kind``. ``rasterizer_cfg``/``renderer_cfg`` pick the pypdfium2
    / weasyprint implementations (injectable seams; the defaults are
    the deterministic stubs).
    """
    html = (
        df.where(F.col("kind") == "html")
        .select(
            "doc_id",
            F.lit("html").alias("kind"),
            F.lit(0).alias("page"),
            html_main_text(F.col("payload").cast("string")).alias("text"),
        )
    )
    # Unsupported-PDF gate (encryption / non-Flate filters): a cheap
    # JVM byte scan on the raw payload decides the route — supported
    # docs take the content-stream parse; unsupported ones join the
    # rasterizer branch (a real pypdfium2 renders what the parser
    # can't) and surface with kind 'pdf_scanned'. Never silently empty.
    unsupported = F.lit(False)
    for tok in UNSUPPORTED_PDF_TOKENS:
        unsupported = unsupported | F.contains(F.col("payload"), F.lit(tok))
    pdf = pdf_pages_text(
        df.where((F.col("kind") == "pdf") & ~unsupported)
        .select("doc_id", F.col("payload").alias("pdf"))
    ).select("doc_id", F.lit("pdf").alias("kind"), "page", F.col("page_text").alias("text"))

    rendered_pdfs = render_html_pdfs(
        df.where(F.col("kind") == "html_scanned")
        .select("doc_id", F.col("payload").cast("string").alias("html")),
        renderer_cfg,
    )
    html_scanned = assemble_page_text(
        detect_recognize_pages(rasterize_pdf_pages(rendered_pdfs, rasterizer_cfg)),
        "html_scanned",
    )

    scanned_pages = rasterize_pdf_pages(
        df.where(
            (F.col("kind") == "pdf_scanned") | ((F.col("kind") == "pdf") & unsupported)
        ).select("doc_id", F.col("payload").alias("pdf")),
        rasterizer_cfg,
    )
    scanned = assemble_page_text(detect_recognize_pages(scanned_pages), "pdf_scanned")

    image_pages = df.where(F.col("kind") == "image").select(
        "doc_id",
        F.col("page").alias("offset"),
        F.concat("doc_id", F.lit("-"), F.col("page").cast("string")).alias("media_ref"),
        F.col("payload").alias("png"),
        F.lit(0).alias("height"),  # dims live in the image header; the
        F.lit(0).alias("width"),   # fused stage decodes them itself
    )
    image = assemble_page_text(detect_recognize_pages(image_pages), "image")

    # warc: one crawl record per doc (gzip WARC member); parse the
    # archive framing Python-side, strip the HTML payload JVM-side
    from collections.abc import Iterator as _It

    import pandas as _pd

    def parse_warc_rows(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        from onnxtr_spark.sources.warc import parse_warc

        for pdf_b in batches:
            if pdf_b.empty:
                continue
            rows = []
            for doc_id, blob in zip(pdf_b["doc_id"], pdf_b["payload"]):
                recs = parse_warc(bytes(blob))
                rows.append({"doc_id": doc_id, "html": recs[0][1] if recs else ""})
            yield _pd.DataFrame(rows, columns=["doc_id", "html"])

    warc = (
        df.where(F.col("kind") == "warc")
        .select("doc_id", "payload")
        .mapInPandas(parse_warc_rows, "doc_id string, html string")
        .select(
            "doc_id",
            F.lit("warc").alias("kind"),
            F.lit(0).alias("page"),
            html_main_text(F.col("html")).alias("text"),
        )
    )
    return (
        html.unionByName(pdf)
        .unionByName(html_scanned)
        .unionByName(scanned)
        .unionByName(image)
        .unionByName(warc)
        .select(*READ_COLS)
    )


def mixed_corpus_from_documents(documents: DataFrame) -> DataFrame:
    """Deterministic mixed-kind corpus: doc i is html / pdf / image /
    pdf_scanned / warc by ``doc_id % 5`` — html as one boilerplate
    page, pdf (born-digital AND scanned payloads are the same bytes —
    the KIND routes the decode path) as one ``synthesize_pdfs`` file
    with a page per corpus page, image as one ``corpus.render_pages``
    frame per corpus page, warc as a single-record gzip crawl archive.
    Output: (doc_id, kind, page, payload binary)."""
    k4 = F.col("doc_id").cast("long") % 5
    base = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        k4.alias("k4"),
        F.split(F.trim("text"), r"\s+").alias("words"),
    )
    html = (
        synthesize_html(documents)
        .join(base.where(F.col("k4") == 0).select("doc_id"), "doc_id")
        .select(
            "doc_id", F.lit("html").alias("kind"), F.lit(0).alias("page"),
            F.col("html").cast("binary").alias("payload"),
        )
    )

    # pdf and pdf_scanned docs: filter BEFORE encoding, so only the two
    # kinds' documents pay for a PDF
    pdfs = synthesize_pdfs(documents.where(k4.isin(1, 3))).select(
        "doc_id",
        F.when(k4 == 1, "pdf").otherwise("pdf_scanned").alias("kind"),
        F.lit(0).alias("page"),
        F.col("pdf").alias("payload"),
    )

    from collections.abc import Iterator

    import pandas as pd

    def build_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, words in zip(pdf["doc_id"], pdf["words"]):
                for p, img in enumerate(render_pages([w for w in list(words) if w])):
                    rows.append({
                        "doc_id": doc_id, "kind": "image", "page": p,
                        "payload": imaging.encode_image(img),
                    })
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "page", "payload"])

    images = (
        base.where(F.col("k4") == 2)
        .transform(spread)
        .mapInPandas(build_images, "doc_id string, kind string, page int, payload binary")
    )

    def build_warcs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from onnxtr_spark.sources.warc import encode_warc

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, uri, html_s in zip(pdf["doc_id"], pdf["uri"], pdf["html"]):
                rows.append({
                    "doc_id": doc_id, "kind": "warc", "page": 0,
                    "payload": encode_warc([(uri, html_s)]),
                })
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "page", "payload"])

    from onnxtr_spark.sources.warc import doc_uri

    warcs = (
        synthesize_html(documents)
        .join(base.where(F.col("k4") == 4).select("doc_id"), "doc_id")
        .select("doc_id", doc_uri(F.col("doc_id")).alias("uri"), "html")
        .transform(spread)
        .mapInPandas(build_warcs, "doc_id string, kind string, page int, payload binary")
    )
    return html.unionByName(pdfs).unionByName(images).unionByName(warcs)


MULTISOURCE_READ_SQL = f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS sid, doc_id % 5 AS k4,
         string_split_regex(trim(text), '\\s+') AS words,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
  FROM documents
), paged AS (
  SELECT sid, k4, words,
         unnest(generate_series(0, CAST(greatest(1, ceil(len(words) / {WORDS_PER_PAGE}.0)) AS INT) - 1)) AS p
  FROM w WHERE k4 NOT IN (0, 4)
)
SELECT sid AS doc_id, 'html' AS kind, 0 AS page, norm AS text FROM w WHERE k4 = 0
UNION ALL
SELECT sid, 'warc', 0, norm FROM w WHERE k4 = 4
UNION ALL
SELECT sid, CASE k4 WHEN 1 THEN 'pdf' WHEN 2 THEN 'image' ELSE 'pdf_scanned' END, CAST(p AS INT),
       array_to_string(words[p * {WORDS_PER_PAGE} + 1 : (p + 1) * {WORDS_PER_PAGE}], ' ')
FROM paged
"""


class DocumentFile:
    """The reference's I/O entry (io/reader.py:21-79) in Spark shape:
    each classmethod turns a DataFrame of raw document bytes into the
    PAGES relation (doc_id, offset, media_ref, png, height, width) the
    predictors consume — ``DocumentFile.from_pdfs(blobs)`` then
    ``ocr_predictor()``/``detection_predictor()`` mirrors the
    reference's ``DocumentFile.from_pdf(path)`` then ``model(doc)``.
    Single-file convenience is a 1-row DataFrame; at 10^12 docs the
    input is a table either way."""

    @classmethod
    def from_pdfs(
        cls, pdfs: DataFrame, rasterizer_cfg: RasterizerConfig = RasterizerConfig()
    ) -> DataFrame:
        """(doc_id, pdf binary) → one page-image row per PDF page
        (reference from_pdf → read_pdf, io/pdf.py:16-43: pypdfium2
        render at scale=2 — the injectable rasterizer seam)."""
        return rasterize_pdf_pages(pdfs, rasterizer_cfg)

    @classmethod
    def from_images(cls, images: DataFrame) -> DataFrame:
        """(doc_id, page, png [, height, width]) → the pages contract
        (reference from_images, io/image.py decode). Width/height are
        read JVM-side from the frame header when absent
        (``imaging.header_dims``); a blob that is not a frame fails the
        query with ``bad image magic``."""
        cols = set(images.columns)
        if "offset" not in cols:
            images = images.withColumn("offset", F.coalesce(F.col("page"), F.lit(0)).cast("int"))
        if "media_ref" not in cols:
            images = images.withColumn(
                "media_ref", F.concat_ws("-", F.lit("m"), F.col("doc_id"), F.col("offset"))
            )
        if "height" not in cols or "width" not in cols:
            height, width = imaging.header_dims(F.col("png"))
            images = images.withColumn("height", height).withColumn("width", width)
        return images.select("doc_id", "offset", "media_ref", "png", "height", "width")

    @classmethod
    def from_html(
        cls,
        htmls: DataFrame,
        renderer_cfg: HtmlRendererConfig = HtmlRendererConfig(),
        rasterizer_cfg: RasterizerConfig = RasterizerConfig(),
    ) -> DataFrame:
        """(doc_id, html string) → rendered PDF → page images (the
        reference's from_url: weasyprint render then from_pdf,
        io/reader.py:41-61 + io/html.py:11-26; fetching the URL body
        is the caller's concern here — the table holds the HTML)."""
        return rasterize_pdf_pages(
            render_html_pdfs(htmls.select("doc_id", "html"), renderer_cfg).select(
                "doc_id", F.col("pdf")
            ),
            rasterizer_cfg,
        )
