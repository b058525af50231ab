"""S4 multi-source facade: one mixed-kind table routed to the right
decode path per kind (reference io/reader.py:21-79)."""

import pandas as pd

from onnxtr_spark import imaging
from onnxtr_spark.sources.pdf import encode_pdf
from onnxtr_spark.sources.reader import read_documents


def test_mixed_corpus_routes_per_kind(spark):
    html_payload = (
        "<html><head><script>x&&1</script></head><body><nav><p>junk</p></nav>"
        "<main><p>web words here</p></main><footer>f</footer></body></html>"
    ).encode()
    pdf_payload = encode_pdf(["pdf page one", "pdf page two"])
    img = imaging.render_page([["scanned", "words"]])
    img_payload = imaging.encode_image(img)

    img2 = imaging.render_page([["second", "page"]])
    from onnxtr_spark.sources.warc import encode_warc

    warc_payload = encode_warc([
        ("https://s.example/doc/w1", "<html><body><main><p>crawled archive words</p></main></body></html>")
    ])
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["h1", "p1", "i1", "i1", "w1"],
            "kind": ["html", "pdf", "image", "image", "warc"],
            "page": [0, 0, 0, 1, 0],
            "payload": [html_payload, pdf_payload, img_payload, imaging.encode_image(img2), warc_payload],
        })
    )
    out = read_documents(df).toPandas().sort_values(["doc_id", "page"]).reset_index(drop=True)
    rows = {(r.doc_id, r.page): (r.kind, r.text) for r in out.itertuples()}
    assert rows[("h1", 0)] == ("html", "web words here")
    assert rows[("p1", 0)] == ("pdf", "pdf page one")
    assert rows[("p1", 1)] == ("pdf", "pdf page two")
    assert rows[("i1", 0)] == ("image", "scanned words")
    assert rows[("i1", 1)] == ("image", "second page")
    assert rows[("w1", 0)] == ("warc", "crawled archive words")
    assert len(out) == 6


def test_documentfile_from_pdfs_feeds_predictors(spark):
    """DocumentFile.from_pdfs → detection/recognition predictors: the
    reference's `DocumentFile.from_pdf(path); model(doc)` shape as
    DataFrame transforms, span-text-equal to the source words."""
    import onnxtr_spark as ox
    from onnxtr_spark.corpus import FIXTURE_TEXTS
    from onnxtr_spark.sources.pdf import synthesize_pdfs
    from onnxtr_spark.sources.reader import DocumentFile

    docs = spark.createDataFrame(
        [(d, t) for d, t in FIXTURE_TEXTS[:2]], "doc_id string, text string"
    )
    pages = DocumentFile.from_pdfs(synthesize_pdfs(docs))
    words = ox.recognition_predictor()(ox.detection_predictor()(pages)).toPandas()
    got = sorted(words.text)
    want = sorted(w for _, t in FIXTURE_TEXTS[:2] for w in t.split())
    assert got == want


def test_documentfile_from_images_decodes_dims_and_runs(spark):
    """from_images fills offset/media_ref and decodes height/width from
    the image header JVM-side (no Python pass), yielding the exact
    pages contract."""
    import pandas as pd

    from onnxtr_spark import imaging
    from onnxtr_spark.corpus import FIXTURE_TEXTS, doc_words, render_pages
    from onnxtr_spark.sources.reader import DocumentFile
    from onnxtr_spark.stages.fused import detect_recognize_pages

    rows = []
    for doc_id, text in FIXTURE_TEXTS[:2]:
        for p, img in enumerate(render_pages(doc_words(text))):
            rows.append({"doc_id": doc_id, "page": p, "png": imaging.encode_image(img),
                         "h": img.shape[0], "w": img.shape[1]})
    images = spark.createDataFrame(pd.DataFrame(rows), "doc_id string, page int, png binary, h int, w int")
    pages = DocumentFile.from_images(images.select("doc_id", "page", "png"))
    out = pages.toPandas()
    byref = {r["doc_id"] + "-" + str(r["page"]): (r["h"], r["w"]) for r in rows}
    for _, r in out.iterrows():
        assert (r.height, r.width) == byref[r.doc_id + "-" + str(r.offset)]
    assert detect_recognize_pages(pages).count() > 0


def test_documentfile_from_images_rejects_blobs_that_are_not_frames(spark):
    """A PNG-signature blob and a blob shorter than a frame header fail
    the header read loudly instead of yielding garbage dimensions."""
    import pytest

    from onnxtr_spark.sources.reader import DocumentFile

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + bytes(17)
    for blob in (png, b"NPIMZ\x06\x00"):
        images = spark.createDataFrame([("d", 0, blob)], "doc_id string, page int, png binary")
        with pytest.raises(Exception, match="bad image magic"):
            DocumentFile.from_images(images).collect()


def test_documentfile_from_html_renders_to_pages(spark):
    from onnxtr_spark.sources.reader import DocumentFile

    htmls = spark.createDataFrame(
        [("h1", "<html><body><main><p>alpha beta gamma</p></main></body></html>")],
        "doc_id string, html string",
    )
    pages = DocumentFile.from_html(htmls).toPandas()
    assert len(pages) >= 1
    assert set(pages.columns) == {"doc_id", "offset", "media_ref", "png", "height", "width"}
