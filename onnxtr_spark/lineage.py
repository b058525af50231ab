"""Checkpointed extraction with per-partition-group lineage and resume.

The north_rule requires the job to be resumable from checkpoint with
per-partition lineage + metrics. Strategy (SURVEY.md §7 step 7):

- documents are assigned to ``n_groups`` buckets by a deterministic hash
  of doc_id (``pmod(xxhash64(doc_id), n_groups)`` — at 10^12-doc scale
  these map 1:1 onto Iceberg partition groups / MERGE targets).
- each group is extracted and written independently:
  ``out/spans/group=<g>/`` via dynamic-partition overwrite (idempotent:
  re-running a group replaces exactly that group's files — the
  parquet-on-fs analog of Iceberg ``MERGE INTO`` on doc_id).
- after a group's output commits, one lineage row is appended to
  ``out/lineage/`` recording docs/pages/words/spans counts, wall time,
  and the run id. Lineage is written AFTER data, so a crash between the
  two at worst re-processes one group — never drops or duplicates rows
  (overwrite makes re-processing idempotent).
- resume: groups present in the lineage table are skipped.

Jobs per group, in order (``tests/test_lineage_resume.py`` pins the
count):

1. one pre-count aggregate over the group's docs gives ``n_docs`` and
   ``n_pages`` (the docs' media spans);
2. the OCR write of the group's spans (an empty group skips it). It
   carries an ``Observation`` of the written rows, which gives
   ``n_spans`` and ``n_words`` (spans with a media_ref) without reading
   the group back;
3. the partition-metrics append, then the lineage append. Both one-off
   row sets are built from Arrow tables, so Spark reads them in the JVM
   and the commits start no Python worker.

A driver-side loop over groups (not ``collect()`` of data — only of the
already-done group ids) is the deliberate checkpoint grain: group count
is small and fixed (e.g. 256 at production scale), each group is a full
distributed job.

Delta from real Iceberg semantics (this sandbox has no Iceberg jars;
SURVEY §1.3/§4 promise ``MERGE INTO`` when they are available):

- **Atomic commit**: Iceberg commits a snapshot atomically; dynamic
  partition overwrite swaps a directory's files non-atomically, so a
  reader racing a writer can observe a partially-replaced group.
  Covered here by the write-data-THEN-lineage ordering: consumers that
  gate on the lineage table (the contract) never read a group whose
  overwrite hasn't finished, and a crash mid-overwrite leaves the group
  un-lineaged → fully re-processed on resume (idempotent replace,
  proven by tests/test_lineage_resume.py incl. a simulated concurrent
  partial write).
- **Writer isolation**: Iceberg's optimistic concurrency rejects one of
  two conflicting commits; the fs standin is last-writer-wins per file.
  The deployment contract is therefore ONE active driver per
  ``out_path`` (the usual scheduler lock); zombie-writer leftovers in a
  group directory are healed by the next overwrite of that group, and
  never surface through lineage-gated reads (test-pinned).
- **Snapshot reads / time travel**: not reproduced; ``read_spans``
  reads current files only.
"""

from __future__ import annotations

import time
import uuid

from pyspark import AccumulatorParam
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from onnxtr_spark.stages.pipeline import extract_spans

LINEAGE_SCHEMA = (
    "run_id string, group int, n_docs long, n_pages long, n_words long, n_spans long, "
    "wall_ms double, completed_at_unix double"
)

PARTITION_METRICS_SCHEMA = (
    "run_id string, group int, partition_id int, pages long, boxes long, words long, "
    "decode_ms double, wall_ms double"
)


class _ListAccum(AccumulatorParam):
    """AccumulatorParam collecting lists of tuples (executor -> driver
    side channel for per-partition metric rows)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def metrics_accumulator(spark: SparkSession):
    """Fresh per-partition-metrics accumulator for the fused stage
    (stages/fused.detect_recognize_pages ``metrics_acc``): each task
    adds one (partition_id, pages, boxes, words, decode_ms, wall_ms)
    row — the north-star lineage metrics."""
    return spark.sparkContext.accumulator([], _ListAccum())


def _with_group(docs: DataFrame, n_groups: int) -> DataFrame:
    return docs.withColumn("group", F.pmod(F.xxhash64("doc_id"), F.lit(n_groups)).cast("int"))


def completed_groups(spark: SparkSession, out_path: str) -> set[int]:
    """Groups with a lineage row. A first run has no lineage directory:
    that is checked through the session's Hadoop ``FileSystem`` rather
    than by a failing read, which Spark's listener bus logs as an error
    with a full stack trace once the session has used an ``Observation``."""
    path = f"{out_path}/lineage"
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).exists(jpath):
        return set()
    try:
        rows = spark.read.parquet(path).select("group").distinct().collect()
    except AnalysisException:  # a directory with no parquet file yet (crashed first commit)
        return set()
    return {r["group"] for r in rows}


def run_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_path: str,
    n_groups: int = 8,
    fail_after: int | None = None,
    det_cfg=None,
) -> list[int]:
    """Extract all doc groups, skipping completed ones. Returns the list
    of groups processed this run. ``fail_after`` aborts after N groups
    (test hook simulating a mid-job crash). After a group commits, its
    per-partition rows (pages decoded, boxes detected, words
    recognized, decode latency, wall time) are appended to
    ``out/partition_metrics/``."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    run_id = uuid.uuid4().hex[:12]
    done = completed_groups(spark, out_path)
    grouped = _with_group(docs, n_groups)
    processed: list[int] = []

    for g in range(n_groups):
        if g in done:
            continue
        t0 = time.time()
        gdocs = grouped.where(F.col("group") == g).drop("group")
        pre = gdocs.agg(
            F.count("*").alias("docs"),
            # a doc's pages are its media spans (array_size: NULL, not
            # -1, for a doc without spans, whatever sizeOfNull says)
            F.coalesce(
                F.sum(F.array_size(F.filter("spans", lambda s: s["kind"] == "media"))), F.lit(0)
            ).alias("pages"),
        ).collect()[0]
        n_docs = int(pre["docs"])
        n_pages = int(pre["pages"])
        n_spans = 0
        n_words = 0
        acc = metrics_accumulator(spark)
        if n_docs:
            kw = {"det_cfg": det_cfg} if det_cfg is not None else {}
            obs = Observation()
            flat = extract_spans(gdocs, media, metrics_acc=acc, **kw).observe(
                obs,
                F.count("*").alias("spans"),
                # OCR'd word spans carry their source page's media_ref
                F.sum(F.when(F.col("media_ref") != "", 1).otherwise(0)).alias("words"),
            )
            flat.withColumn("group", F.lit(g)).write.mode("overwrite").partitionBy("group").parquet(
                f"{out_path}/spans"
            )
            counts = obs.get
            n_spans = int(counts["spans"])
            n_words = int(counts["words"] or 0)
        if acc.value:
            rows = [(run_id, g, *tup) for tup in acc.value]
            _local_frame(spark, rows, PARTITION_METRICS_SCHEMA).write.mode("append").parquet(
                f"{out_path}/partition_metrics"
            )
        lineage_row = _local_frame(
            spark,
            [(run_id, g, n_docs, n_pages, n_words, n_spans, (time.time() - t0) * 1000.0, time.time())],
            LINEAGE_SCHEMA,
        )
        lineage_row.write.mode("append").parquet(f"{out_path}/lineage")
        processed.append(g)
        if fail_after is not None and len(processed) >= fail_after:
            break
    return processed


def _local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side rows as a DataFrame built from an Arrow table:
    Spark reads the batch in the JVM, so writing it starts no Python
    worker (a DataFrame from a Python list does)."""
    import pyarrow as pa

    names = StructType.fromDDL(schema).fieldNames()
    return spark.createDataFrame(pa.table(list(zip(*rows)), names=names), schema=schema)


def read_spans(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(f"{out_path}/spans").drop("group")
