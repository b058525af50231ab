"""PySpark daemon module that starts workers with the layer tracer installed.

Selected with ``spark.python.daemon.module=perfbench.tracer_daemon``. When
the daemon's environment names a span directory (``PERFBENCH_TRACE_DIR``),
the wrappers are installed here, before the daemon forks its workers;
otherwise this is the stock ``pyspark.daemon``.
"""

import os

import pyspark.daemon

from perfbench import tracer

if __name__ == "__main__":
    out_dir = os.environ.get(tracer.ENV_DIR)
    if out_dir:
        pyspark.daemon.worker_main = tracer.install(out_dir).wrap_task(pyspark.daemon.worker_main)
    pyspark.daemon.manager()
