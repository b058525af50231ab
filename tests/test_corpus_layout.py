"""The corpus page layout (``corpus.pages``/``lines``/``pages_col``) is
the one rule every synthesizer paginates by: each of them must emit
exactly ``len(pages(words))`` pages per doc, at the edges of the rule
too (no words, one word, one short of / exactly / one past a page)."""

import pandas as pd
import pytest

from onnxtr_spark.corpus import (
    WORDS_PER_LINE, WORDS_PER_PAGE, build_corpus_pdfs, doc_words, lines, pages, pages_col, render_pages,
)
from onnxtr_spark.functions.media import synthesize_videos
from onnxtr_spark.sources.html import synthesize_html, synthesize_html_linked
from onnxtr_spark.sources.pdf import decode_pdf_texts, synthesize_pdfs
from onnxtr_spark.sources.reader import mixed_corpus_from_documents
from onnxtr_spark.sources.render import HtmlRendererConfig, StubWeasyRenderer
from onnxtr_spark.stages.ingest import docs_from_documents, media_from_documents

WORD_COUNTS = [0, 1, 29, 30, 31, 60, 61]


def _texts() -> list[tuple[int, str]]:
    """Every word count (plus a whitespace-only doc) under doc ids of
    residue 1, 2 and 3 mod 5: the mixed corpus' pdf, image and
    pdf_scanned kinds."""
    bodies = [" ".join(f"w{i}" for i in range(n)) for n in WORD_COUNTS] + [" \t\n  "]
    return [(10 * i + r, body) for i, body in enumerate(bodies) for r in (1, 2, 3)]


TEXTS = _texts()
N_PAGES = {str(d): len(pages(doc_words(t))) for d, t in TEXTS}


@pytest.fixture(scope="module")
def documents(spark):
    return spark.createDataFrame(pd.DataFrame(TEXTS, columns=["doc_id", "text"]), "doc_id long, text string")


def test_pages_and_lines_rule():
    for n in WORD_COUNTS:
        words = [f"w{i}" for i in range(n)]
        got = pages(words)
        assert len(got) == max(1, -(-n // WORDS_PER_PAGE))
        assert [w for page in got for w in page] == words
        assert all(len(page) == WORDS_PER_PAGE for page in got[:-1])
        for page in got:
            assert [w for ln in lines(page) for w in ln] == page
            assert all(len(ln) == WORDS_PER_LINE for ln in lines(page)[:-1])
    assert pages([]) == [[]] and lines([]) == [[]]
    assert len(render_pages([])) == 1 and len(render_pages([f"w{i}" for i in range(61)])) == 3


def test_pages_col_equals_pages(spark):
    words = [[f"w{i}" for i in range(n)] for n in WORD_COUNTS]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "i int, words array<string>")
    got = {r.i: [list(p) for p in r.pages] for r in df.select("i", pages_col(df.words).alias("pages")).collect()}
    assert got == {i: pages(w) for i, w in enumerate(words)}


def test_ingest_emits_one_media_span_and_frame_per_page(documents):
    spans = {r.doc_id: r.spans for r in docs_from_documents(documents).collect()}
    assert {d: sum(s.kind == "media" for s in ss) for d, ss in spans.items()} == N_PAGES
    frames: dict[str, int] = {}
    for r in media_from_documents(documents).select("media_ref").collect():
        doc_id = r.media_ref[2:].rsplit("-", 1)[0]
        frames[doc_id] = frames.get(doc_id, 0) + 1
    assert frames == N_PAGES


def test_pdf_sources_emit_one_pdf_page_per_page(documents):
    want = {str(d): [" ".join(p) for p in pages(doc_words(t))] for d, t in TEXTS}
    got = {r.doc_id: decode_pdf_texts(bytes(r.pdf)) for r in synthesize_pdfs(documents).collect()}
    assert got == want
    renderer = StubWeasyRenderer(HtmlRendererConfig())
    rendered = {r.doc_id: decode_pdf_texts(renderer.render(r.html)) for r in synthesize_html(documents).collect()}
    assert rendered == want


def test_html_synthesizers_emit_one_paragraph_per_page(documents):
    for synth in (synthesize_html, synthesize_html_linked):
        got = {
            r.doc_id: r.html.split("<main>")[1].split("</main>")[0].count("<p>")
            for r in synth(documents).collect()
        }
        assert got == N_PAGES, synth.__name__


def test_videos_emit_one_frame_per_page(documents):
    got = {str(r.doc_id): r.n_frames for r in synthesize_videos(documents).select("doc_id", "n_frames").collect()}
    assert got == N_PAGES


def test_mixed_corpus_pages(documents):
    rows = mixed_corpus_from_documents(documents).collect()
    images: dict[str, int] = {}
    for r in rows:
        if r.kind == "image":
            images[r.doc_id] = images.get(r.doc_id, 0) + 1
        else:
            assert r.kind == ("pdf" if int(r.doc_id) % 5 == 1 else "pdf_scanned") and r.page == 0
            assert len(decode_pdf_texts(bytes(r.payload))) == N_PAGES[r.doc_id]
    assert images == {d: n for d, n in N_PAGES.items() if int(d) % 5 == 2}
    assert len(rows) - sum(images.values()) == 2 * (len(WORD_COUNTS) + 1)


def test_fixture_builder_frames_equal_ingest_frames(documents):
    _, fixture = build_corpus_pdfs([(str(d), t) for d, t in TEXTS])
    want = {r.media_ref: (bytes(r.png), r.height, r.width) for r in fixture.itertuples()}
    got = {r.media_ref: (bytes(r.png), r.height, r.width) for r in media_from_documents(documents).collect()}
    assert got == want
