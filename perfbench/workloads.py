"""Seeded inputs, oracles and timed passes of the three workloads.

Inputs are generated from the seed alone and cached per seed under the
benchmark's work directory; the program under test only ever receives
those tables. A pass is one call of the workload's public entry points
over the whole input, ending in an output that is checked against the
oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Words of 3+ characters: the rotated-word corpus measures word angles
# from glyph blobs, and near-square 1-2 character blobs give no angle.
WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup alpha beta gamma delta epsilon lambda query index "
    "vector cluster page token model layer shard bucket commit lineage crop"
).split()
# 17+ characters: wider than the recognizer's 8:1 crop aspect limit on
# straight pages, so these words take the split/merge path.
LONG_WORDS = ["internationalization", "reconfigurability", "deterministically"]
LONG_WORD_P = 0.01
WORDS_PER_PAGE = 30  # onnxtr_spark.corpus.WORDS_PER_PAGE

EMBED_DIM = 64
HOT_SHARE = 0.4  # share of the vectors in the one hot k-means cell

SPAN_COLS = ["doc_id", "offset", "kind", "text", "media_ref"]
SPAN_SCHEMA = "doc_id string, offset int, kind string, text string, media_ref string"


@dataclass(frozen=True)
class Spec:
    """Size and shape of one workload's generated input."""

    name: str
    kind: str  # "ocr" or "embed"
    n_docs: int = 0
    long_docs: tuple[int, ...] = ()  # page counts of the heavy-tail documents
    rotated: bool = False
    n_vectors: int = 0


SPECS = {
    "ocr_straight": Spec("ocr_straight", "ocr", n_docs=240),
    "ocr_rotated_job": Spec("ocr_rotated_job", "ocr", n_docs=40, long_docs=(100,), rotated=True),
    "embed_dedup": Spec("embed_dedup", "embed", n_vectors=1500),
}
# fixed, seed-independent slices for the untimed warm-up of each workload
WARMUP_SPECS = {
    "ocr_straight": Spec("warmup_straight", "ocr", n_docs=12),
    "ocr_rotated_job": Spec("warmup_rotated", "ocr", n_docs=8, rotated=True),
    "embed_dedup": Spec("warmup_embed", "embed", n_vectors=200),
}
WARMUP_SEED = 0
ROTATED_JOB_GROUPS = 1


def scaled(spec: Spec, scale: float) -> Spec:
    """The same workload shape at a fraction of its size (for smoke tests)."""
    return Spec(
        f"{spec.name}-x{scale:g}", spec.kind,
        n_docs=max(2, int(spec.n_docs * scale)) if spec.n_docs else 0,
        long_docs=tuple(max(2, int(p * scale)) for p in spec.long_docs),
        rotated=spec.rotated,
        n_vectors=max(64, int(spec.n_vectors * scale)) if spec.n_vectors else 0,
    )


# --- input generation (pure functions of the seed) --------------------------

def _doc_text(rng: np.random.Generator, n_pages: int, last_page_words: int) -> str:
    n_words = (n_pages - 1) * WORDS_PER_PAGE + last_page_words
    words = rng.choice(WORDS, n_words)
    long_at = rng.random(n_words) < LONG_WORD_P
    if long_at.any():
        words[long_at] = rng.choice(LONG_WORDS, int(long_at.sum()))
    return " ".join(words)


def documents(spec: Spec, seed: int) -> pd.DataFrame:
    """documents(doc_id, text): 1-4 pages per document, plus the spec's
    heavy-tail documents. Every seed has the same multiset of page counts
    and of last-page word counts, so the same number of pages and words;
    the seed picks the words and the order of the documents."""
    rng = np.random.default_rng([seed, 1])
    pages = [1 + i % 4 for i in range(spec.n_docs)] + list(spec.long_docs)
    last = [1 + i % WORDS_PER_PAGE for i in range(len(pages))]
    pages = [pages[i] for i in rng.permutation(len(pages))]
    last = [last[i] for i in rng.permutation(len(last))]
    texts = [_doc_text(rng, p, w) for p, w in zip(pages, last)]
    return pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})


def embeddings(spec: Spec, seed: int) -> pd.DataFrame:
    """embeddings(vec_id, embedding, label) shaped like bench.py's tables:
    eight clusters, one holding ``HOT_SHARE`` of the vectors, so one
    k-means cell is hot. Vectors 0-7 come one from each cluster because
    the k-means seeds its centroids from vec_id 0..k-1."""
    rng = np.random.default_rng([seed, 2])
    k = 8
    centers = rng.normal(0.0, 1.0, (k, EMBED_DIM))
    n_hot = int(HOT_SHARE * spec.n_vectors)
    cluster = np.concatenate([np.zeros(n_hot, dtype=np.int64), np.arange(spec.n_vectors - n_hot) % (k - 1) + 1])
    cluster = rng.permutation(cluster)
    cluster[:k] = np.arange(k)
    vecs = centers[cluster] + rng.normal(0.0, 0.8, (spec.n_vectors, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4.0
    flip = rng.random(spec.n_vectors) < 0.1
    labels = np.where(flip, rng.integers(0, k, spec.n_vectors), cluster).astype(np.int32)
    return pd.DataFrame({
        "vec_id": np.arange(spec.n_vectors, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels,
    })


def expected_spans(docs: pd.DataFrame) -> pd.DataFrame:
    """The golden spans of corpus.expected_spans for every document."""
    from onnxtr_spark.corpus import expected_spans as golden

    rows = [
        (str(doc_id), s["offset"], s["kind"], s["text"], s["media_ref"])
        for doc_id, text in zip(docs["doc_id"], docs["text"])
        for s in golden(str(doc_id), text)
    ]
    return pd.DataFrame(rows, columns=SPAN_COLS)


def n_pages(docs: pd.DataFrame) -> int:
    return int(sum(max(1, -(-len(t.split()) // WORDS_PER_PAGE)) for t in docs["text"]))


# --- digests -----------------------------------------------------------------

def digest_columns():
    """Order-independent digest of span rows: row count and the sum of
    xxhash64 over (doc_id, offset, kind, text, media_ref). The sum runs in
    decimal so it cannot overflow."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*SPAN_COLS).cast("decimal(38,0)")).alias("h"),
    ]


def digest(df) -> tuple[int, str]:
    row = df.select(*SPAN_COLS).agg(*digest_columns()).collect()[0]
    return int(row["n"]), str(row["h"])


# --- cached inputs -----------------------------------------------------------

class Inputs:
    """A workload's generated tables for one seed, cached on disk."""

    def __init__(self, spark, spec: Spec, seed: int, cache_root: str) -> None:
        self.spark, self.spec, self.seed = spark, spec, seed
        # keyed by the spec and this file too, so a changed workload
        # never reads inputs cached for its old definition
        with open(__file__, "rb") as f:
            key = hashlib.sha1(repr(spec).encode() + f.read()).hexdigest()[:8]
        self.dir = os.path.join(cache_root, f"{spec.name}-s{seed}-{key}")
        self.generated = False
        if not os.path.exists(os.path.join(self.dir, "meta.json")):
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)
            meta = self._generate_ocr() if spec.kind == "ocr" else self._generate_embed()
            with open(os.path.join(self.dir, "meta.json"), "w") as f:
                json.dump(meta, f)
            self.generated = True
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.items = self.meta["items"]

    def _generate_ocr(self) -> dict:
        from onnxtr_spark.stages import ingest

        spark = self.spark
        docs_pdf = documents(self.spec, self.seed)
        documents_df = spark.createDataFrame(docs_pdf, "doc_id long, text string")
        ingest.docs_from_documents(documents_df).write.parquet(f"{self.dir}/docs")
        ingest.media_from_documents(documents_df, rotate_words=self.spec.rotated).write.parquet(
            f"{self.dir}/media"
        )
        gold = spark.createDataFrame(expected_spans(docs_pdf), SPAN_SCHEMA)
        n, h = digest(gold)
        return {"items": n_pages(docs_pdf), "docs": len(docs_pdf), "spans": n, "digest": h}

    def _generate_embed(self) -> dict:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        emb = embeddings(self.spec, self.seed)
        table = pa.Table.from_pandas(emb, preserve_index=False).replace_schema_metadata(None)
        pq.write_table(table, f"{self.dir}/embeddings.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {os.cpu_count() or 1}")
            con.register("embeddings", table)
            for name, sql in oracle_sql().items():
                con.execute(sql).df().to_parquet(f"{self.dir}/oracle_{name}.parquet", index=False)
        finally:
            con.close()
        return {"items": len(emb)}

    # -- accessors --
    def ocr_tables(self):
        return (
            self.spark.read.parquet(f"{self.dir}/docs"),
            self.spark.read.parquet(f"{self.dir}/media"),
        )

    def embeddings_df(self):
        return self.spark.read.parquet(f"{self.dir}/embeddings.parquet")

    def oracle(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(f"{self.dir}/oracle_{name}.parquet")


def oracle_sql() -> dict[str, str]:
    from onnxtr_spark.functions import similarity

    return {
        "semdedup": similarity.semdedup_sql(),
        "knn_classify": similarity.knn_classify_sql(),
        "cosine_topk": similarity.cosine_topk_sql(),
    }


# --- embed_dedup output check -------------------------------------------------

EMBED_KEYS = {
    "semdedup": ["vec_id"],
    "knn_classify": ["vec_id"],
    "cosine_topk": ["query_id", "rank"],
}


def embed_mismatches(name: str, got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows of ``want`` that ``got`` does not reproduce exactly (plus any
    extra rows in ``got``)."""
    keys = EMBED_KEYS[name]
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols):
        return max(len(want), 1)
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    if len(g) != len(w):
        return abs(len(g) - len(w)) + min(len(g), len(w))
    same = np.ones(len(w), dtype=bool)
    for c in cols:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            same &= np.asarray(gv, dtype=np.float64) == np.asarray(wv, dtype=np.float64)
        else:
            same &= np.asarray(gv).astype(str) == np.asarray(wv).astype(str)
    return int((~same).sum())
