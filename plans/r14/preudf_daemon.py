"""PySpark daemon module that logs where a worker's task time goes
before its UDF body starts.

Selected with ``spark.python.daemon.module=plans.r14.preudf_daemon``
(the repository root on the workers' ``PYTHONPATH``). Before the daemon
forks its workers it wraps:

- ``importlib.invalidate_caches``, which ``pyspark.worker_util.
  setup_spark_files`` calls once per task;
- ``zipimport.zipimporter.invalidate_caches``, which re-reads a zip
  archive's directory, once per ``sys.path_importer_cache`` entry that
  lives in that archive;
- ``pyspark.worker.setup_spark_files`` and ``setup_broadcasts`` (the
  first runs once the task's header has arrived);
- ``pyspark.worker.read_udfs`` (the end of the pre-UDF interval);
- the daemon's per-task ``worker_main``.

Each task appends one JSON line to ``$PREUDF_LOG_DIR/preudf-<pid>.jsonl``:
task seconds; for each wrapped call, the seconds from task start to its
first entry (``<name>_at_s``) and the seconds inside it (``<name>_s``);
and, per zip archive, the calls and seconds of its directory re-reads."""

import importlib
import json
import os
import sys
import time
import zipimport

import pyspark.daemon
import pyspark.worker

task: dict = {}  # the running task's record (one task at a time per worker)


def _zip_invalidate(orig):
    def timed(self):
        t0 = time.perf_counter()
        try:
            return orig(self)
        finally:
            calls = task.setdefault("zips", {}).setdefault(self.archive, [0, 0.0])
            calls[0] += 1
            calls[1] += time.perf_counter() - t0

    return timed


def _timed(orig, key):
    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        task.setdefault(f"{key}_at_s", t0 - task.get("t0", t0))
        try:
            return orig(*args, **kwargs)
        finally:
            task[f"{key}_s"] = task.get(f"{key}_s", 0.0) + time.perf_counter() - t0

    return timed


def _worker_main(orig):
    def traced(infile, outfile):
        task.clear()
        task["t0"] = time.perf_counter()
        try:
            return orig(infile, outfile)
        finally:
            record = {
                "pid": os.getpid(),
                "task_s": time.perf_counter() - task.pop("t0"),
                "zip_paths": [p for p in sys.path if p.endswith((".zip", ".jar"))],
                **task,
            }
            with open(os.path.join(os.environ["PREUDF_LOG_DIR"], f"preudf-{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(record) + "\n")

    return traced


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _zip_invalidate(zipimport.zipimporter.invalidate_caches)
    importlib.invalidate_caches = _timed(importlib.invalidate_caches, "invalidate_caches")
    for name in ("setup_spark_files", "setup_broadcasts", "read_udfs"):
        setattr(pyspark.worker, name, _timed(getattr(pyspark.worker, name), name))
    pyspark.daemon.worker_main = _worker_main(pyspark.daemon.worker_main)
    pyspark.daemon.manager()
