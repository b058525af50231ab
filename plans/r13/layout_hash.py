"""Hash every corpus synthesizer's output in one checkout.

    python plans/r13/layout_hash.py TREE SF_DIR OUT.json

Runs the ingest stage (docs spans and the four media variants), the PDF,
HTML, video and mixed-kind synthesizers and the stub HTML renderer over
SF_DIR/documents.parquet, and the three pandas fixture builders over
FIXTURE_TEXTS plus 0-word, whitespace-only, 30- and 31-word docs; prints
and writes "rows:sha256-prefix" per output. WARC payloads are hashed
without their gzip mtime header bytes, which carry the wall clock."""
import hashlib
import json
import os
import sys

tree = os.path.abspath(sys.argv[1])
sys.path.insert(0, tree)
os.chdir(tree)

from pyspark.sql import functions as F  # noqa: E402

from onnxtr_spark import corpus  # noqa: E402
from onnxtr_spark.session import get_spark  # noqa: E402
from onnxtr_spark.stages import ingest  # noqa: E402

spark = get_spark("layout_hash", cpus=4, shuffle_partitions=8)
docs = spark.read.parquet(f"{sys.argv[2]}/documents.parquet")
out = {}


def h_rows(rows):
    m = hashlib.sha256()
    for r in sorted(repr(tuple(x)) for x in rows):
        m.update(r.encode())
    return f"{len(rows)}:{m.hexdigest()[:16]}"


def h_df(df):
    return h_rows([tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in df.collect()])


def h_pd(frame):
    rows = []
    for r in frame.itertuples(index=False):
        rows.append(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else (repr(v) if isinstance(v, list) else v) for v in r))
    return h_rows(rows)


out["docs"] = h_df(ingest.docs_from_documents(docs))
for name, kw in [("default", {}), ("rotate_words", {"rotate_words": True}),
                 ("skew_pages", {"skew_pages": True}), ("artefacts", {"artefacts": True})]:
    out[f"media_{name}"] = h_df(ingest.media_from_documents(docs, **kw))

from onnxtr_spark.sources import html, pdf, reader, render  # noqa: E402
from onnxtr_spark.functions import media  # noqa: E402

out["synthesize_pdfs"] = h_df(pdf.synthesize_pdfs(docs))
out["synthesize_html"] = h_df(html.synthesize_html(docs))
out["synthesize_html_linked"] = h_df(html.synthesize_html_linked(docs))
out["synthesize_videos"] = h_df(media.synthesize_videos(docs))
out["mixed_corpus"] = h_rows([tuple(r[:3]) + ((bytes(r[3])[:4] + bytes(r[3])[8:]) if r[1] == "warc" else bytes(r[3]),) for r in reader.mixed_corpus_from_documents(docs).collect()])
out["render_html_pdfs"] = h_df(render.render_html_pdfs(html.synthesize_html(docs)))

texts = list(corpus.FIXTURE_TEXTS) + [
    ("e-0", ""), ("e-ws", "   \t  "), ("e-30", " ".join(f"w{i}" for i in range(30))),
    ("e-31", " ".join(f"w{i}" for i in range(31))),
]
for b in ("build_corpus_pdfs", "build_rotated_words_corpus_pdfs", "build_rotated_corpus_pdfs"):
    d, m = getattr(corpus, b)(texts)
    out[b] = [h_pd(d), h_pd(m)]

with open(sys.argv[3], "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
print(json.dumps(out, indent=1, sort_keys=True))
spark.stop()
