"""CPU seconds the JVM's JIT compiler threads burn per straight OCR pass.

    python plans/r14/jit_probe.py [PASSES] [SEED]

Runs PASSES (default 20) ``extract_spans`` passes over the
``ocr_straight`` input of perfbench/workloads.py for SEED (default 41)
into the ``noop`` sink, one task slot as in perfbench, and prints per
pass its wall time, the CPU seconds of the JVM's ``C1 CompilerThre*``
and ``C2 CompilerThre*`` threads (utime + stime from
``/proc/<jvm>/task/*/stat``) and the growth of Spark's
``CodegenMetrics`` compilation count (whole-stage codegen compiles)."""
import glob
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
passes = int(sys.argv[1]) if len(sys.argv) > 1 else 20
seed = int(sys.argv[2]) if len(sys.argv) > 2 else 41

from onnxtr_spark.session import get_spark  # noqa: E402
from onnxtr_spark.stages import ingest  # noqa: E402
from onnxtr_spark.stages.pipeline import extract_spans  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")


def compiler_cpu_s(pid: int) -> float:
    """utime + stime of the JVM's JIT compiler threads, in seconds."""
    total = 0
    for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            text = open(stat).read()
        except OSError:  # the thread exited
            continue
        name, rest = text[text.index("(") + 1 : text.rindex(")")], text[text.rindex(")") + 2 :].split()
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += int(rest[11]) + int(rest[12])  # fields 14 and 15: utime, stime
    return total / TICK


spark = get_spark("jit_probe", cpus=1, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
jvm_pid = spark.sparkContext._gateway.proc.pid
codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
documents = spark.createDataFrame(wl.documents(wl.SPECS["ocr_straight"], seed), "doc_id long, text string")
docs = ingest.docs_from_documents(documents).localCheckpoint()
media = ingest.media_from_documents(documents).localCheckpoint()
for i in range(passes):
    jit0, gen0, t0 = compiler_cpu_s(jvm_pid), codegen.METRIC_COMPILATION_TIME().getCount(), time.perf_counter()
    extract_spans(docs, media).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    jit, gen = compiler_cpu_s(jvm_pid) - jit0, codegen.METRIC_COMPILATION_TIME().getCount() - gen0
    print(f"pass {i}: {wall:.2f} s wall | JIT compiler threads {jit:.2f} CPU-s | codegen compiles {gen}", flush=True)
spark.stop()
