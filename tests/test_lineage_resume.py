"""Checkpoint/resume semantics (FIXTURES.md §5): kill after k groups,
re-run, assert no duplicate spans and full golden equality."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs, expected_spans
from onnxtr_spark.lineage import completed_groups, read_spans, run_checkpointed
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA, golden_flat


@pytest.fixture()
def corpus(spark):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    return (
        spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA),
        spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA),
    )


def test_crash_and_resume(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "out")

    first = run_checkpointed(spark, docs, media, out, n_groups=4, fail_after=2)
    assert len(first) == 2
    assert completed_groups(spark, out) == set(first)

    second = run_checkpointed(spark, docs, media, out, n_groups=4)
    assert set(first).isdisjoint(second)
    assert len(first) + len(second) == 4

    got = read_spans(spark, out).toPandas().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want = golden_flat().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str),
        want.astype(str),
    )

    # lineage carries metrics for every group
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    assert sorted(lin["group"].tolist()) == [0, 1, 2, 3]
    assert ((lin["n_spans"] > 0) == (lin["n_docs"] > 0)).all()
    assert lin["n_docs"].sum() == len(FIXTURE_TEXTS)
    assert (lin["wall_ms"] > 0).all()


def test_rerun_is_noop(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "out")
    run_checkpointed(spark, docs, media, out, n_groups=2)
    n1 = read_spans(spark, out).count()
    assert run_checkpointed(spark, docs, media, out, n_groups=2) == []
    assert read_spans(spark, out).count() == n1


def test_group_reprocess_idempotent(spark, corpus, tmp_path):
    """Crash AFTER data write but BEFORE lineage commit: the group is
    re-processed on resume and the overwrite leaves no duplicates."""
    docs, media = corpus
    out = str(tmp_path / "out")
    run_checkpointed(spark, docs, media, out, n_groups=2, fail_after=1)
    # simulate lost lineage for the completed group
    import shutil

    shutil.rmtree(f"{out}/lineage")
    assert completed_groups(spark, out) == set()
    run_checkpointed(spark, docs, media, out, n_groups=2)
    got = read_spans(spark, out)
    assert got.count() == got.dropDuplicates(["doc_id", "offset"]).count()
    assert got.count() == len(golden_flat())


def test_partition_metrics_rows(spark, corpus, tmp_path):
    """North-star lineage metrics: per-partition rows carrying pages
    decoded, boxes detected, words recognized, and decode latency."""
    docs, media = corpus
    out = str(tmp_path / "outm")
    run_checkpointed(spark, docs, media, out, n_groups=2)
    pm = spark.read.parquet(f"{out}/partition_metrics").toPandas()
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    # every processed group reported metrics
    assert set(pm.group) == set(lineage[lineage.n_docs > 0].group)
    # totals agree with the lineage counters
    assert pm.pages.sum() == lineage.n_pages.sum()
    assert pm.words.sum() == lineage.n_words.sum()
    assert pm.boxes.sum() >= pm.words.sum() > 0
    assert (pm.decode_ms >= 0).all() and (pm.wall_ms > 0).all()
    assert (pm.partition_id >= 0).all()


def test_resume_heals_concurrent_partial_write(spark, corpus, tmp_path):
    """A zombie writer died mid-overwrite of a group it never lineaged:
    its partial/garbage part-files sit in that group's directory. The
    resume run must re-process the group (absent from lineage) and the
    dynamic overwrite must REPLACE the leftovers - final table equals a
    clean run, no duplicates, no garbage rows (the documented delta
    from Iceberg's atomic commit: lineage-gated idempotent replace)."""
    docs, media = corpus
    out = str(tmp_path / "out")
    first = run_checkpointed(spark, docs, media, out, n_groups=4, fail_after=2)
    remaining = sorted(set(range(4)) - set(first))
    victim = remaining[0]

    # simulate the zombie's partial write: garbage span rows (duplicated
    # ids + a marker row) written INTO the unfinished group's directory
    garbage = spark.createDataFrame(
        [("zombie", 0, "text", "GARBAGE", ""), ("zombie", 1, "text", "GARBAGE", "")],
        schema="doc_id string, offset int, kind string, text string, media_ref string",
    )
    garbage.write.mode("append").parquet(f"{out}/spans/group={victim}")
    assert "GARBAGE" in set(
        r.text for r in spark.read.parquet(f"{out}/spans").where(F.col("group") == victim).collect()
    )

    second = run_checkpointed(spark, docs, media, out, n_groups=4)
    assert sorted(set(first) | set(second)) == [0, 1, 2, 3]

    got = read_spans(spark, out).toPandas().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want = golden_flat().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert "zombie" not in set(got["doc_id"])
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str),
        want.astype(str),
    )


def test_lineage_gated_read_never_sees_uncommitted_group(spark, corpus, tmp_path):
    """The reader contract that stands in for Iceberg snapshot
    isolation: consumers join spans against the lineage table, so a
    group whose data landed but whose lineage row didn't (crash window)
    is invisible until its re-run commits."""
    docs, media = corpus
    out = str(tmp_path / "out")
    run_checkpointed(spark, docs, media, out, n_groups=2)
    import shutil
    # wipe lineage for one completed group -> its data is now uncommitted
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    # drop a group that actually wrote spans (an empty group's absence
    # wouldn't change the gated count)
    dropped = int(lin[lin["n_spans"] > 0]["group"].iloc[0])
    keep = lin[lin["group"] != dropped]
    shutil.rmtree(f"{out}/lineage")
    if len(keep):
        spark.createDataFrame(keep).write.mode("append").parquet(f"{out}/lineage")

    committed = completed_groups(spark, out)
    assert dropped not in committed
    gated = spark.read.parquet(f"{out}/spans").where(F.col("group").isin(list(committed)))
    raw = spark.read.parquet(f"{out}/spans")
    assert gated.count() < raw.count()  # uncommitted group's rows filtered


# Spark jobs one group starts (AQE on, as in the session fixture): an
# empty group runs the pre-count and the lineage commit; a non-empty
# one adds the OCR write (its query stages) and the partition-metrics
# commit. Another per-group count or read-back job fails the pin.
JOBS_EMPTY_GROUP = 2
JOBS_GROUP = 8


def test_group_counters_and_job_count(spark, corpus, tmp_path, monkeypatch):
    """The lineage counters equal the derivations the job used to run
    as separate jobs (doc count, media-span explode count, read-back of
    the written group), and each group starts a pinned number of Spark
    jobs, told apart by a job group switched after each lineage commit."""
    from pyspark.sql.readwriter import DataFrameWriter

    from onnxtr_spark import lineage

    docs, media = corpus
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    tag = f"lineage-jobs-{tmp_path.name}"
    committed = [0]

    orig_completed = lineage.completed_groups
    orig_parquet = DataFrameWriter.parquet

    def completed(spark_, path):
        sc.setJobGroup(f"{tag}-resume", "resume read")
        done = orig_completed(spark_, path)
        sc.setJobGroup(f"{tag}-0", "group 0")
        return done

    def parquet(writer, path, *args, **kwargs):
        ret = orig_parquet(writer, path, *args, **kwargs)
        if path.endswith("/lineage"):
            committed[0] += 1
            sc.setJobGroup(f"{tag}-{committed[0]}", f"group {committed[0]}")
        return ret

    monkeypatch.setattr(lineage, "completed_groups", completed)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    try:
        assert run_checkpointed(spark, docs, media, out, n_groups=4) == [0, 1, 2, 3]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()

    lin = spark.read.parquet(f"{out}/lineage").toPandas().set_index("group").sort_index()
    grouped = lineage._with_group(docs, 4)
    spans = spark.read.parquet(f"{out}/spans")
    tracker = sc.statusTracker()
    assert (lin["n_docs"] == 0).any() and (lin["n_docs"] > 0).any()
    for g, row in lin.iterrows():
        gdocs = grouped.where(F.col("group") == g).drop("group")
        written = spans.where(F.col("group") == g)
        want = {
            "n_docs": gdocs.count(),
            "n_pages": gdocs.select(F.explode("spans").alias("s")).where(F.col("s.kind") == "media").count(),
            "n_words": written.where(F.col("media_ref") != "").count(),
            "n_spans": written.count(),
        }
        assert {k: int(row[k]) for k in want} == want, g
        jobs = tracker.getJobIdsForGroup(f"{tag}-{g}")
        assert len(jobs) == (JOBS_GROUP if want["n_docs"] else JOBS_EMPTY_GROUP), (g, sorted(jobs))


def test_completed_groups_checks_the_path_before_reading(spark, tmp_path, monkeypatch):
    """A fresh out_path is answered by a FileSystem check, not by a
    failing parquet read; a lineage directory holding no parquet file
    yet (a crashed first commit) still reads as no completed group."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    orig = DataFrameReader.parquet

    def parquet(reader, *paths, **kwargs):
        reads.append(paths)
        return orig(reader, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    out = tmp_path / "out"
    assert completed_groups(spark, str(out)) == set()
    assert reads == []
    (out / "lineage").mkdir(parents=True)
    assert completed_groups(spark, str(out)) == set()
    assert reads == [(f"{out}/lineage",)]
