"""Attribute the worker time of a straight OCR pass that passes before
the UDF body starts.

    python plans/r14/preudf_probe.py [PASSES] [SEED]

Runs PASSES (default 6) ``extract_spans`` passes over the
``ocr_straight`` input of perfbench/workloads.py for SEED (default 41)
into the ``noop`` sink, one task slot as in perfbench, with
``plans/r14/preudf_daemon.py`` as the PySpark daemon module. Prints, per
Python task of at least 0.5 s (the fused stage), the task seconds, the
seconds from task start to ``setup_spark_files`` (the task header's
arrival), ``setup_spark_files`` and ``setup_broadcasts`` themselves, the
start of ``read_udfs``, the seconds inside
``importlib.invalidate_caches()`` and, per zip archive on the worker's
``sys.path``, its directory re-reads (calls x mean ms)."""
import glob
import json
import os
import shlex
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
log_dir = os.environ["PREUDF_LOG_DIR"] = tempfile.mkdtemp(prefix="preudf-")
os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
    "--conf", "spark.ui.enabled=false",
    "--conf", "spark.python.daemon.module=plans.r14.preudf_daemon",
    "pyspark-shell",
])
passes = int(sys.argv[1]) if len(sys.argv) > 1 else 6
seed = int(sys.argv[2]) if len(sys.argv) > 2 else 41

from onnxtr_spark.session import get_spark  # noqa: E402
from onnxtr_spark.stages import ingest  # noqa: E402
from onnxtr_spark.stages.pipeline import extract_spans  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

spark = get_spark("preudf_probe", cpus=1, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
documents = spark.createDataFrame(wl.documents(wl.SPECS["ocr_straight"], seed), "doc_id long, text string")
docs = ingest.docs_from_documents(documents).localCheckpoint()
media = ingest.media_from_documents(documents).localCheckpoint()
for i in range(passes):
    t0 = time.perf_counter()
    extract_spans(docs, media).write.format("noop").mode("overwrite").save()
    print(f"pass {i}: {time.perf_counter() - t0:.2f} s", flush=True)
spark.stop()

records = [json.loads(ln) for path in glob.glob(f"{log_dir}/preudf-*.jsonl") for ln in open(path)]
zip_paths = [os.path.basename(p) for p in records[0]["zip_paths"]]
print(f"{len(records)} Python tasks; zip/jar entries on a worker's sys.path: {zip_paths}")
for r in records:
    if r["task_s"] < 0.5:
        continue
    zips = ", ".join(
        f"{os.path.basename(a)} {n}x{1000 * s / n:.1f} ms" for a, (n, s) in sorted(r.get("zips", {}).items())
    )
    nan = float("nan")
    print(
        f"task {r['task_s']:.2f} s | header at {r.get('setup_spark_files_at_s', nan):.3f} s | "
        f"setup_spark_files {r.get('setup_spark_files_s', nan):.3f} s | "
        f"setup_broadcasts {r.get('setup_broadcasts_s', nan):.3f} s | "
        f"read_udfs at {r.get('read_udfs_at_s', nan):.3f} s | "
        f"invalidate_caches {r.get('invalidate_caches_s', 0.0):.3f} s | {zips}"
    )
