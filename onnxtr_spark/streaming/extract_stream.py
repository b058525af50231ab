"""Streaming extraction: incremental OCR of newly-landed doc files.

The reference is pure batch (SURVEY.md §2.10); this is the Spark-native
incremental mode a 10^12-doc ingest actually runs in: documents land as
parquet files, a ``readStream`` + ``Trigger.AvailableNow`` job drains
whatever is new and exits (cron-able). Per micro-batch we run the
normal batch pipeline via ``foreachBatch`` — the whole DAG (join, fused
model stage, assembly window) is reused unchanged, and the media side
stays a batch lookup table (the media store is keyed by media_ref; only
docs stream).

Exactly-once: checkpoint bookkeeping makes replays *at-least*-once;
the sink write is made idempotent (batch_id-partitioned dynamic
overwrite, see ``process_batch``), which together gives exactly-once
output even across crash/restart mid-batch.

Output: parquet of flat span rows partitioned by batch_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.pipeline import extract_spans

DOCS_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind: string, text: string, media_ref: string, offset: int>>"
)


def stream_extract_available_now(
    spark: SparkSession,
    docs_dir: str,
    media: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    det_cfg: DetectConfig = DetectConfig(),
):
    """Drain all unprocessed doc files through the OCR pipeline, each
    micro-batch through ``extract_spans`` with ``det_cfg``.

    Returns the StreamingQuery (already started); callers typically
    ``awaitTermination()`` — AvailableNow stops by itself when caught up.
    """
    reader = (
        spark.readStream.schema(DOCS_SCHEMA_DDL)
        .format("parquet")
        .option("path", docs_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs_stream = reader.load()

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        # foreachBatch alone is only at-least-once: a crash after the
        # write but before the checkpoint commit re-runs the micro-batch
        # on restart. Writing each batch into its own batch_id partition
        # with DYNAMIC partition overwrite makes the replay idempotent
        # (the re-run replaces exactly its own partition), which upgrades
        # the sink to exactly-once.
        if batch_docs.isEmpty():
            return
        (
            extract_spans(batch_docs, media, det_cfg)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/spans")
        )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
