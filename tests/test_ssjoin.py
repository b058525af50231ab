"""The shared prefix-filter set join returns exactly the rows of the
hand-written SSJoin bodies in ``tests/ssjoin_oracle.py``, for token and
character-n-gram Jaccard and for directional containment, over small
random corpora built to sit on the thresholds."""

import numpy as np
import pandas as pd
import pytest

from onnxtr_spark.functions import dedup
from tests import ssjoin_oracle as oracle

VOCAB = ["a", "b", "ab", "ba", "aab", "bb", "abab", "c", "ca", "bc", "cab"]


def _texts(seed: int, n_docs: int = 72) -> list[str]:
    """Word lists over a tiny vocabulary, so many pairs meet exactly at
    J = t or C = t: a third are an earlier doc with one word dropped or
    added, some repeat an earlier doc verbatim, some are empty,
    whitespace-only or one word (shorter than a 3-word shingle and than
    a 3- or 5-character gram)."""
    rng = np.random.default_rng(seed)
    out: list[list[str]] = []
    for _ in range(n_docs):
        r = rng.random()
        if out and r < 0.35:
            words = list(out[rng.integers(len(out))])
            if words and rng.random() < 0.5:
                del words[rng.integers(len(words))]
            else:
                words.insert(rng.integers(len(words) + 1), VOCAB[rng.integers(len(VOCAB))])
        elif out and r < 0.45:
            words = list(out[rng.integers(len(out))])
        elif r < 0.5:
            words = []
        elif r < 0.6:
            words = [VOCAB[rng.integers(len(VOCAB))]]
        else:
            words = list(rng.choice(VOCAB, size=rng.integers(2, 13)))
        out.append(words)
    seps = [" ", "  ", " \t "]
    return [("  " if i % 7 == 0 else "") + seps[i % 3].join(w) for i, w in enumerate(out)]


@pytest.fixture(scope="module")
def corpus(spark):
    texts = _texts(11)
    ids = np.random.default_rng(5).permutation(10 * len(texts))[: len(texts)]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts}), "doc_id long, text string"
    )


def _rows(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)


def _same(got, want) -> int:
    got, want = _rows(got), _rows(want)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    return len(want)


@pytest.mark.parametrize("t", [0.5, 0.8, 0.9, 1.0])
def test_set_joins_equal_the_hand_written_ssjoins(corpus, t):
    pairs = {
        "token": _same(dedup.token_jaccard_pairs(corpus, t), oracle.token_jaccard_pairs(corpus, t)),
        "containment": _same(
            dedup.containment_pairs(corpus, t), oracle.containment_pairs(corpus, t)
        ),
    }
    for n in (3, 5):
        pairs[f"ngram{n}"] = _same(
            dedup.ngram_jaccard_pairs(corpus, n, t), oracle.ngram_jaccard_pairs(corpus, n, t)
        )
    assert min(pairs.values()) > 0, pairs

