"""spark-submit entry point for the extraction pipeline.

Usage (the north_star's deployment shape):

    spark-submit --master <cluster> \
        --py-files onnxtr_spark.zip \
        --conf spark.python.worker.reuse=true \
        jobs/extract_job.py \
        --docs  s3://bucket/docs_table \
        --media s3://bucket/media_table \
        --out   s3://bucket/extracted \
        [--groups 256] [--streaming-dir <landing_dir>]

Model artifacts for a real ONNX deployment ride along via
``--files det.onnx reco.onnx`` and load once per Python worker
(onnxtr_spark.engine session cache). Batch mode runs the checkpointed
group loop (resume-safe); --streaming-dir instead drains new files with
Trigger.AvailableNow.
"""

from __future__ import annotations

import argparse

from onnxtr_spark.lineage import run_checkpointed
from onnxtr_spark.session import get_spark
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.streaming.extract_stream import stream_extract_available_now


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--media", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--streaming-dir", default=None)
    # G4/I5: classify page orientation, estimate residual skew, rotate
    # straight, re-detect (reference straighten_pages, models/zoo.py:19)
    ap.add_argument("--straighten-pages", action="store_true")
    # rotated-word geometry (assume_straight_pages=False)
    ap.add_argument("--rotated-boxes", action="store_true")
    # one-time: persist both join sides bucketed by media_ref (catalog
    # tables) so every later extraction run's ingest join is
    # shuffle-free (ingest.write_bucketed_corpus); value = bucket count
    ap.add_argument("--write-bucketed", type=int, default=None, metavar="BUCKETS")
    args = ap.parse_args()

    spark = get_spark("extract_job")
    media = spark.read.parquet(args.media)
    if args.write_bucketed:
        from onnxtr_spark.stages.ingest import write_bucketed_corpus

        docs = spark.read.parquet(args.docs)
        spans_tbl, media_tbl = write_bucketed_corpus(docs, media, buckets=args.write_bucketed)
        print(f"bucketed tables written: {spans_tbl}, {media_tbl}")
        spark.stop()
        return
    det_cfg = DetectConfig(
        straighten_pages=args.straighten_pages, assume_straight_pages=not args.rotated_boxes
    )
    if args.streaming_dir:
        q = stream_extract_available_now(
            spark, args.streaming_dir, media, args.out, f"{args.out}/_checkpoint", det_cfg=det_cfg
        )
        q.awaitTermination()
    else:
        docs = spark.read.parquet(args.docs)
        done = run_checkpointed(
            spark, docs, media, args.out, n_groups=args.groups, det_cfg=det_cfg
        )
        print(f"processed groups: {done}")
    spark.stop()


if __name__ == "__main__":
    main()
