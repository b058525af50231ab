"""The fused stage's Python body in process, on the rotated job's inputs.

    python plans/r20/inproc_fused.py TREE

Reads TREE's cached seed-42 ``ocr_rotated_job`` inputs (a perfbench run
in TREE writes them), joins the pages once through Spark, then runs the
fused stage's function (``mapInPandas`` or ``mapInArrow``, whichever
TREE uses) in this process over 64-row chunks of the same pages, seven
times, with the rotated job's detector config. Prints each run's
seconds and the minimum: the stage's own work without Spark's transfer
to and from the worker."""
import os, sys, time, glob
tree = os.path.abspath(sys.argv[1]); sys.path.insert(0, tree); os.chdir(tree)
import pandas as pd, pyarrow as pa
from onnxtr_spark.session import get_spark
from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.pipeline import media_pages
spark = get_spark("inproc", cpus=1, shuffle_partitions=2); spark.sparkContext.setLogLevel("ERROR")
d = sorted(glob.glob(f"{tree}/perfbench/.work/inputs/ocr_rotated_job-s42-*"))[0]
pdf = media_pages(spark.read.parquet(f"{d}/docs"), spark.read.parquet(f"{d}/media")).toPandas().sort_values("media_ref", ignore_index=True)
spark.stop()
det = DetectConfig(assume_straight_pages=False, engine=EngineConfig(arch="stub_fast_float", input_contract="float_bchw"))
class Cap:
    def mapInPandas(self, fn, schema): return fn
    def mapInArrow(self, fn, schema): return fn
run = detect_recognize_pages(Cap(), det)
arrow = "mapInArrow" in open(f"{tree}/onnxtr_spark/stages/fused.py").read()
if arrow:
    chunks = pa.Table.from_pandas(pdf, preserve_index=False).to_batches(max_chunksize=64)
else:
    chunks = [pdf[i:i+64] for i in range(0, len(pdf), 64)]
ts = []
for _ in range(7):
    t0 = time.perf_counter(); n = sum(len(o) for o in run(iter(chunks))); ts.append(time.perf_counter() - t0)
print("RESULT", "arrow" if arrow else "pandas", len(pdf), n, " ".join(f"{t:.3f}" for t in ts), f"min {min(ts):.3f}")
