"""Vocab-parameterized recognition (F4): end-to-end extraction over a
GERMAN-vocab corpus — words carrying characters absent from the default
french vocab (ß) must round-trip exactly when both the renderer and the
recognition engine are bound to VOCABS['german'] (reference
utils/vocabs.py composition table; german = english-base + äöüß...)."""

import pandas as pd
import pytest

from onnxtr_spark import imaging
from onnxtr_spark.corpus import doc_spans, doc_words, expected_spans, render_pages
from onnxtr_spark.stages.pipeline import extract_spans
from onnxtr_spark.stages.recognize import RecognizeConfig
from onnxtr_spark.vocabs import VOCABS
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA

GERMAN_TEXTS = [
    ("de-0001", "straße größer müde schön ärger übung weiß fußball dröge jünger"),
    ("de-0002", "Ökonomie Änderung Übermut ßßß äöü"),
]


@pytest.fixture(scope="module")
def german_corpus(spark):
    vocab = VOCABS["german"]
    doc_rows, media_rows = [], []
    for doc_id, text in GERMAN_TEXTS:
        doc_rows.append({"doc_id": doc_id, "spans": doc_spans(doc_id, text)})
        (img,) = render_pages(doc_words(text), vocab=vocab)
        media_rows.append({
            "media_ref": f"m-{doc_id}-0",
            "png": imaging.encode_image(img),
            "height": img.shape[0],
            "width": img.shape[1],
        })
    docs = spark.createDataFrame(pd.DataFrame(doc_rows), schema=DOCS_SCHEMA)
    media = spark.createDataFrame(pd.DataFrame(media_rows), schema=MEDIA_SCHEMA)
    return docs, media


def test_german_vocab_not_french_compatible():
    assert "ß" in VOCABS["german"] and "ß" not in VOCABS["french"]
    # and the shared chars sit at DIFFERENT indices, so a wrong vocab
    # binding would decode garbage, not just drop characters
    assert VOCABS["german"].index("ü") != VOCABS["french"].index("ü")


def test_extraction_with_german_vocab(german_corpus):
    docs, media = german_corpus
    got = (
        extract_spans(docs, media, reco_cfg=RecognizeConfig(vocab=VOCABS["german"]))
        .toPandas()
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for doc_id, text in GERMAN_TEXTS:
        for s in expected_spans(doc_id, text):
            exp_rows.append({"doc_id": doc_id, **s})
    exp = (
        pd.DataFrame(exp_rows)[["doc_id", "offset", "kind", "text", "media_ref"]]
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns].astype(str), exp.astype(str))


def test_wrong_vocab_binding_decodes_garbage(german_corpus):
    """The failure mode ADVICE flagged: an engine bound to a different
    vocab of a different composition must NOT reproduce the words."""
    docs, media = german_corpus
    got = extract_spans(docs, media).toPandas()  # default french engine
    words = set(got[got.media_ref != ""].text)
    assert "straße" not in words
