"""Property tests: builder invariants on random inputs (the reference's
test strategy category 2 — random inputs + invariant assertions), plus a
drift guard between the corpus generator and the OCR oracle SQL."""

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from onnxtr_spark.corpus import expected_spans
from onnxtr_spark.kernels.builder import word_order
from tests.builder_oracle import resolve_lines


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 40), st.integers(0, 2**31 - 1))
def test_resolve_lines_is_partition(n, seed):
    rng = np.random.RandomState(seed)
    x0 = rng.rand(n) * 0.8
    y0 = rng.rand(n) * 0.8
    boxes = np.stack([x0, y0, x0 + 0.02 + rng.rand(n) * 0.15, y0 + 0.02 + rng.rand(n) * 0.05], axis=1)
    lines = resolve_lines(boxes)
    flat = [i for line in lines for i in line]
    assert sorted(flat) == list(range(n))  # every box exactly once
    for line in lines:  # within a line, sorted by xmin (resolve_sub_lines)
        xs = boxes[line, 0]
        assert (np.diff(xs) >= 0).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 30), st.integers(0, 2**31 - 1))
def test_word_order_is_permutation(n, seed):
    rng = np.random.RandomState(seed)
    x0 = rng.rand(n) * 0.8
    y0 = rng.rand(n) * 0.8
    boxes = np.stack([x0, y0, x0 + 0.05, y0 + 0.05], axis=1)
    rank, line_id = word_order(boxes)
    assert sorted(rank.tolist()) == list(range(n))
    # ranks within a line are contiguous
    for li in np.unique(line_id):
        rs = sorted(rank[line_id == li].tolist())
        assert rs == list(range(rs[0], rs[0] + len(rs)))


def test_corpus_expected_spans_match_oracle_sql():
    """Drift guard: corpus.expected_spans (the pytest golden) must equal
    the DuckDB OCR_SPANS_SQL derivation (the driver oracle) on arbitrary
    texts — they are two expressions of the same contract."""
    import __spark_entry__ as em

    rows = [
        (0, "alpha beta gamma"),
        (1, " ".join(f"w{i}" for i in range(75))),  # multi-page
        (2, "single"),
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = con.sql(em.OCR_SPANS_SQL).df().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want_rows = []
    for doc_id, text in rows:
        for s in expected_spans(str(doc_id), text):
            want_rows.append({"doc_id": str(doc_id), **s})
    want = (
        pd.DataFrame(want_rows)[["doc_id", "offset", "kind", "text", "media_ref"]]
        .sort_values(["doc_id", "offset"]).reset_index(drop=True)
    )
    got["offset"] = got["offset"].astype(int)
    pd.testing.assert_frame_equal(got[["doc_id", "offset", "kind", "text", "media_ref"]], want)


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 80))
def test_pdf_layout_roundtrip_random(seed, n_words):
    """Layout decode recovers reading order for ANY word sequence,
    including words with PDF-special characters, regardless of how the
    interleaved column stream slices it."""
    from onnxtr_spark.sources.pdf import decode_pdf_layout, encode_pdf_columns

    rng = np.random.RandomState(seed)
    alphabet = list("abcXYZ09()\\")
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8))) for _ in range(n_words)
    ]
    text = " ".join(words)
    assert " ".join(decode_pdf_layout(encode_pdf_columns(text))).split() == words


@settings(max_examples=12, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 60), st.integers(1, 12))
def test_pack_sequences_invariants_random(spark, seed, n_docs, ctx):
    """For random doc lengths: starts are the exact running sum per
    shard, offsets < ctx, bins nonnegative and nondecreasing in doc
    order within a shard. (Session-scoped fixture: each example is one
    tiny local job.)"""
    import pandas as pd

    from onnxtr_spark.functions.text import pack_sequences

    rng = np.random.RandomState(seed)
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs),
        "text": [" ".join("w" for _ in range(rng.randint(1, 9))) for _ in range(n_docs)],
    })
    got = (
        pack_sequences(spark.createDataFrame(docs), ctx=ctx, shard_docs=16)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (got["bin_offset"] < ctx).all() and (got["bin_in_shard"] >= 0).all()
    for shard, g in got.groupby("shard"):
        starts = (g["bin_in_shard"] * ctx + g["bin_offset"]).to_numpy()
        lens = g["n_bpe_tokens"].to_numpy()
        assert starts[0] == 0
        assert (starts[1:] == np.cumsum(lens)[:-1]).all()


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_containment_prefix_filter_is_exact(spark, seed):
    """The prefix-pruned containment join returns EXACTLY the brute
    force answer on random corpora with planted containments."""
    import pandas as pd

    from onnxtr_spark.functions.dedup import containment_pairs

    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for _ in range(10):
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
    # plant: doc 10 embeds doc 0's text verbatim
    texts.append(texts[0] + " extra tail words beyond")
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = containment_pairs(spark.createDataFrame(docs), threshold=0.8, k=3).toPandas()
    got_pairs = set(map(tuple, got[["doc_a", "doc_b"]].values.tolist()))

    # brute force over the same shingle definition
    def shingle_set(t):
        w = t.split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingle_set(t) for i, t in enumerate(texts)}
    want = set()
    for a in sets:
        for b in sets:
            if a != b and 10000 * len(sets[a] & sets[b]) >= 8000 * len(sets[a]):
                want.add((a, b))
    assert got_pairs == want
