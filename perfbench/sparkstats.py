"""Spark stage metrics read from the driver's own status store over py4j.

No REST call and no UI: ``SparkContext.statusStore()`` is the in-process
store the UI would read. Jobs are selected by job group, which the
benchmark sets around each pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from statistics import median


@dataclass
class Stage:
    stage_id: int
    run_s: float  # summed executor run time of the stage's tasks
    cpu_s: float
    gc_s: float
    spill_mb: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    tasks: int
    task_s: list[float] = field(default_factory=list)

    @property
    def skew(self) -> float:
        """Slowest task over the median task (1.0 for a single task)."""
        ts = [t for t in self.task_s if t > 0]
        return max(ts) / median(ts) if ts else 1.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt, default=None):
    return scala_opt.get() if scala_opt.isDefined() else default


def stages_for_group(spark, group: str, with_tasks: bool = False) -> list[Stage]:
    """Completed stages of every job in ``group``, ordered by stage id."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage_ids: set[int] = set()
    for job in _seq(store.jobsList(None)):
        if _opt(job.jobGroup()) == group:
            stage_ids.update(int(s) for s in _seq(job.stageIds()))
    out = []
    mb = 1024.0 * 1024.0
    for sid in sorted(stage_ids):
        attempts = _seq(store.stageData(sid, False, no_status, False, no_quantiles))
        done = [a for a in attempts if a.status().toString() == "COMPLETE"]
        if not done:  # skipped stages (shuffle output reused) ran nothing
            continue
        st = done[-1]
        stage = Stage(
            stage_id=sid,
            run_s=st.executorRunTime() / 1e3,
            cpu_s=st.executorCpuTime() / 1e9,
            gc_s=st.jvmGcTime() / 1e3,
            spill_mb=(st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb,
            shuffle_read_mb=st.shuffleReadBytes() / mb,
            shuffle_write_mb=st.shuffleWriteBytes() / mb,
            tasks=st.numCompleteTasks(),
        )
        if with_tasks:
            for task in _seq(store.taskList(sid, st.attemptId(), 100000)):
                metrics = _opt(task.taskMetrics())
                if metrics is not None:
                    stage.task_s.append(metrics.executorRunTime() / 1e3)
        out.append(stage)
    return out
