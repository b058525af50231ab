"""``run_checkpointed`` overwrites its groups dynamically through a write
option, and leaves the caller's session settings as they were."""

import shutil

from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs
from onnxtr_spark.lineage import read_spans, run_checkpointed
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA

KEY = "spark.sql.sources.partitionOverwriteMode"


def test_run_checkpointed_keeps_the_session_overwrite_mode(spark, tmp_path):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    out = str(tmp_path / "out")
    before = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "static")
        assert run_checkpointed(spark, docs, media, out, n_groups=2) == [0, 1]
        assert spark.conf.get(KEY) == "static"
        rows = {g: n for g, n in spark.read.parquet(f"{out}/spans").groupBy("group").count().collect()}
        assert set(rows) == {0, 1}
        # re-running group 0 alone replaces only its own partition: a
        # static overwrite would drop group 1's files
        shutil.rmtree(f"{out}/lineage")
        assert run_checkpointed(spark, docs, media, out, n_groups=2, fail_after=1) == [0]
        assert read_spans(spark, out).count() == sum(rows.values())
        assert spark.conf.get(KEY) == "static"
    finally:
        spark.conf.set(KEY, before)
