#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload ocr_straight --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. See perfbench/README.md for the
workloads, the metrics and how to compare two trees.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
MIN_PASSES = 3
SLOTS = 1  # Spark task slots: local[SLOTS]
WARM_PASSES = 2  # untimed passes over the real input before timing
MIN_PASSES_TRACED = 2  # per half of a traced run: untraced, then traced
WORKLOADS = ("ocr_straight", "ocr_rotated_job", "embed_dedup")

# name -> (unit, better); the order is the order of BENCHMARK.json
END_TO_END = {
    "items_per_s": ("1/s", "higher"),
    "cpu_s_per_item": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "worker_peak_rss_mb": ("MB", "lower"),
    "driver_peak_rss_mb": ("MB", "lower"),
    "match_rate": ("ratio", "higher"),
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from perfbench.tracer import LAYERS

    out: dict[str, str] = {}
    for layer, count in LAYERS.items():
        out[f"{layer}.self_s"] = "s"
        out[f"{layer}.{count}"] = "count"
    out.update({
        "stages.fused.task_s": "s",
        "stages.fused.overhead_s": "s",
        "stages.fused.task_skew": "ratio",
        "stages.pipeline.join.shuffle_mb": "MB",
        "stages.build.assemble.shuffle_mb": "MB",
        "stages.build.assemble.task_skew": "ratio",
        "lineage.write_s": "s",
        "lineage.bookkeeping_s": "s",
        "lineage.groups": "count",
        "lineage.mb_written": "MB",
    })
    for fn in ("semdedup", "knn_classify", "cosine_topk"):
        out[f"similarity.{fn}.wall_s"] = "s"
        out[f"similarity.{fn}.executor_cpu_s"] = "s"
    out["similarity.semdedup.task_skew"] = "ratio"
    out.update({
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.spill_mb": "MB",
        "spark.tasks": "count",
        "session.start_s": "s",
        "session.first_batch_s": "s",
        "trace.overhead_ratio": "ratio",
    })
    return out


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


class Bench:
    """One run: set up a session, warm up, time passes, check, report."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0):
        from perfbench import workloads as wl

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.spec = wl.SPECS[workload] if scale == 1.0 else wl.scaled(wl.SPECS[workload], scale)
        self.warm_spec = wl.WARMUP_SPECS[workload]
        self.spark = None
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
        self.trace_dir = os.path.join(WORK, "trace", self.run_id)
        self.out_root = os.path.join(WORK, "out", self.run_id)
        self.jvm = None
        self.driver_spans: list[tuple[str, str, float]] = []  # (pass, name, seconds)
        self.violations = 0  # spans not nested inside their parent

    # -- session ---------------------------------------------------------------
    def start_session(self):
        import shlex

        from onnxtr_spark.session import get_spark

        # submit-time settings of the benchmark harness, read when the
        # JVM starts: no UI server, the warehouse inside the checkout,
        # and in a traced run the daemon that installs the tracer
        conf = {
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if self.trace:
            conf["spark.python.daemon.module"] = "perfbench.tracer_daemon"
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        # one task slot: the Python task and the JVM threads that feed it
        # keep about two cores busy, so the process tree stays well under
        # the machine's cores and a pass takes as long as its own work,
        # not as long as its slowest task on the busiest core. On a
        # shared 4-vCPU VM, pass times spread less with one slot than
        # with two or three.
        spark = get_spark(f"perfbench-{self.workload}", cpus=SLOTS, shuffle_partitions=2 * SLOTS)
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm = spark.sparkContext._gateway.proc
        self.spark = spark
        return spark

    def close(self) -> None:
        from perfbench import procstat

        tree = procstat.tree_pids()[1:]
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=10)
        procstat.reap(tree)
        shutil.rmtree(self.out_root, ignore_errors=True)

    # -- passes ----------------------------------------------------------------
    def _pass_fn(self, inputs):
        """The workload's pass: returns a callable(label) -> check record."""
        from perfbench import workloads as wl

        spark = self.spark
        if self.spec.kind == "embed":
            from onnxtr_spark.functions import similarity

            emb = inputs.embeddings_df()

            def run_embed(label: str) -> dict:
                out = {}
                for name in ("semdedup", "knn_classify", "cosine_topk"):
                    self._set_group(f"{label}-{name}", label)
                    t0 = time.perf_counter()
                    out[name] = getattr(similarity, name)(emb).toPandas()
                    self.driver_spans.append((label, f"similarity.{name}", time.perf_counter() - t0))
                return {"result": out}

            return run_embed

        docs, media = inputs.ocr_tables()
        if self.workload == "ocr_straight":
            from pyspark.sql import Observation

            from onnxtr_spark.stages.pipeline import extract_spans

            def run_straight(label: str) -> dict:
                self._set_group(label, label)
                obs = Observation(label)
                extract_spans(docs, media).observe(obs, *wl.digest_columns()).write.format(
                    "noop"
                ).mode("overwrite").save()
                got = obs.get
                return {"digest": (int(got["n"]), str(got["h"]))}

            return run_straight

        from onnxtr_spark.engine import EngineConfig
        from onnxtr_spark.lineage import run_checkpointed
        from onnxtr_spark.stages.detect import DetectConfig

        # jobs/extract_job.py --rotated-boxes, with the float-contract
        # detector (run_checkpointed takes no recognizer config)
        det_cfg = DetectConfig(
            assume_straight_pages=False,
            engine=EngineConfig(arch="stub_fast_float", input_contract="float_bchw"),
        )

        def run_job(label: str) -> dict:
            self._set_group(label, label)
            out = os.path.join(self.out_root, label)
            t0 = time.perf_counter()
            groups = run_checkpointed(spark, docs, media, out, n_groups=wl.ROTATED_JOB_GROUPS, det_cfg=det_cfg)
            self.driver_spans.append((label, "lineage.run_checkpointed", time.perf_counter() - t0))
            return {"out": out, "groups": groups}

        return run_job

    def _set_group(self, group: str, label: str) -> None:
        from perfbench.tracer import PASS_PROPERTY

        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{group}", group)
        sc.setLocalProperty(PASS_PROPERTY, label)

    def _check(self, inputs, rec: dict) -> tuple[int, int]:
        """(outputs checked, outputs wrong) for one pass."""
        from perfbench import workloads as wl

        if self.spec.kind == "embed":
            checked = wrong = 0
            for name, got in rec["result"].items():
                want = inputs.oracle(name)
                checked += len(want)
                wrong += wl.embed_mismatches(name, got, want)
            return checked, wrong
        expected = (inputs.meta["spans"], inputs.meta["digest"])
        if "out" in rec:
            from onnxtr_spark.lineage import read_spans

            got = wl.digest(read_spans(self.spark, rec["out"]))
            if rec["groups"] != list(range(wl.ROTATED_JOB_GROUPS)):
                return expected[0], expected[0]
        else:
            got = rec["digest"]
        return expected[0], 0 if got == expected else expected[0]

    def timed_passes(self, run_pass, seconds: float, prefix: str, min_passes: int) -> list[tuple[str, float, dict]]:
        """Repeat passes for about ``seconds``: after ``min_passes``, a pass
        starts only if a pass of the median length so far ends in time."""
        passes = []
        t_start = time.perf_counter()
        while len(passes) < min_passes or (
            time.perf_counter() - t_start + median(w for _, w, _ in passes) <= seconds
        ):
            label = f"{prefix}{len(passes)}"
            t0 = time.perf_counter()
            rec = run_pass(label)
            passes.append((label, time.perf_counter() - t0, rec))
        return passes

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        from perfbench import procstat
        from perfbench import workloads as wl

        t_proc = procstat.process_start_epoch()
        cache = os.path.join(WORK, "inputs")
        t0 = time.time()
        spark = self.start_session()
        session_start_s = time.time() - t0

        # untimed warm-up over a fixed slice; generating that slice (first
        # run in a checkout only) is not set-up
        t0 = time.time()
        warm = wl.Inputs(spark, self.warm_spec, wl.WARMUP_SEED, cache)
        warm_gen_s = time.time() - t0 if warm.generated else 0.0
        t0 = time.time()
        warm_rec = self._pass_fn(warm)("warm")
        first_batch_s = time.time() - t0
        setup_s = time.time() - t_proc - warm_gen_s
        warm_ok = self._check(warm, warm_rec)[1] == 0

        inputs = wl.Inputs(spark, self.spec, self.seed, cache)
        self.items = inputs.items
        run_pass = self._pass_fn(inputs)
        # untimed passes over the real input: plans, partition sizes and
        # JIT-compiled paths differ from the warm-up slice's. After only
        # one, the first timed pass often ran about 10% slow
        for i in range(WARM_PASSES):
            run_pass(f"w{i + 1}")
        window = procstat.HostWindow()
        probe_before = procstat.cpu_probe_s()
        untraced = None
        if self.trace:
            # same session, untraced workers first; then a second daemon
            # whose environment makes it install the tracer
            untraced = self.timed_passes(run_pass, self.seconds / 2, "u", MIN_PASSES_TRACED)
            os.makedirs(self.trace_dir, exist_ok=True)
            from perfbench.tracer import ENV_DIR

            spark.sparkContext.environment[ENV_DIR] = self.trace_dir
            run_pass("tw")  # worker spawn with the tracer: untimed
            self._install_driver_spans()
        # peak RSS from here on: input generation and warm-up excluded
        procs = procstat.spark_processes()
        procstat.reset_peak_rss(procs["driver"] + procs["workers"])
        cpu0 = procstat.tree_cpu_s()
        passes = (
            self.timed_passes(run_pass, self.seconds / 2, "p", MIN_PASSES_TRACED)
            if self.trace
            else self.timed_passes(run_pass, self.seconds, "p", MIN_PASSES)
        )
        cpu1 = procstat.tree_cpu_s()
        steal = window.steal_share()
        probe_after = procstat.cpu_probe_s()

        checked = wrong = failed_passes = 0
        for _, _, rec in (untraced or []) + passes:
            c, w = self._check(inputs, rec)
            checked, wrong = checked + c, wrong + w
            failed_passes += w > 0
        procs = procstat.spark_processes()
        worker_rss = max([procstat.peak_rss_mb(p) for p in procs["workers"]] + [0.0])
        driver_rss = sum(procstat.peak_rss_mb(p) for p in procs["driver"])

        walls = [w for _, w, _ in passes]
        items_per_s = inputs.items / median(walls)
        e2e = {
            "items_per_s": items_per_s,
            "cpu_s_per_item": (cpu1 - cpu0) / (inputs.items * len(passes)),
            "setup_s": setup_s,
            "worker_peak_rss_mb": worker_rss,
            "driver_peak_rss_mb": driver_rss,
            "match_rate": 1.0 - wrong / checked,
        }
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "items": inputs.items,
            "input_generated": inputs.generated,
            "pass_wall_s": walls,
            "warmup_ok": warm_ok,
            "host": {
                "steal_share": steal,
                "cpu_probe_before_s": probe_before,
                "cpu_probe_after_s": probe_after,
            },
            "session_start_s": session_start_s,
            "first_batch_s": first_batch_s,
            "outputs_checked": checked,
            "outputs_wrong": wrong,
            "end_to_end": e2e,
        }
        if self.trace:
            metrics = self._layer_metrics(passes, untraced, items_per_s, session_start_s, first_batch_s)
            units = per_layer_metrics()
            record["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            metrics = e2e
            units = {k: u for k, (u, _) in END_TO_END.items()}
        self._save(record)
        self._print_summary(record, metrics, units)
        ok = wrong == 0 and warm_ok
        return {
            "correct": ok,
            "attempted": len(passes) + len(untraced or []),
            "failed": failed_passes,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    # -- traced run ------------------------------------------------------------
    def _install_driver_spans(self) -> None:
        """Time DataFrameWriter.parquet calls made inside run_checkpointed."""
        from pyspark.sql.readwriter import DataFrameWriter

        from perfbench.tracer import PASS_PROPERTY

        orig = DataFrameWriter.parquet
        spans = self.driver_spans
        bench = self

        def parquet(writer, path, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(writer, path, *args, **kwargs)
            finally:
                label = bench.spark.sparkContext.getLocalProperty(PASS_PROPERTY) or ""
                spans.append((label, "lineage.write", time.perf_counter() - t0))

        DataFrameWriter.parquet = parquet

    def _layer_metrics(self, passes, untraced, items_per_s, session_start_s, first_batch_s) -> dict:
        from perfbench import spans as sp
        from perfbench import sparkstats
        from perfbench.tracer import LAYERS

        tasks = sp.load_tasks(self.trace_dir)
        per_pass = []
        for label, _, rec in passes:
            lay = sp.pass_layers(tasks, label)
            m: dict[str, float] = {}
            for layer, count in LAYERS.items():
                m[f"{layer}.self_s"] = lay["self_s"].get(layer, 0.0)
                m[f"{layer}.{count}"] = lay["counts"].get(layer, 0)
            m["stages.fused.task_s"] = lay["task_s"]
            m["stages.fused.overhead_s"] = lay["overhead_s"]
            m["stages.fused.task_skew"] = lay["task_skew"]
            self.violations += lay["violations"]

            groups = [label] if self.spec.kind == "ocr" else [
                f"{label}-{n}" for n in ("semdedup", "knn_classify", "cosine_topk")
            ]
            stages_by_group = {
                g: sparkstats.stages_for_group(self.spark, f"perfbench-{g}", with_tasks=True) for g in groups
            }
            stages = [s for g in groups for s in stages_by_group[g]]
            fused = set(lay["stages"])
            m["spark.executor_run_s"] = sum(s.run_s for s in stages)
            m["spark.executor_cpu_s"] = sum(s.cpu_s for s in stages)
            m["spark.gc_s"] = sum(s.gc_s for s in stages)
            m["spark.spill_mb"] = sum(s.spill_mb for s in stages)
            m["spark.tasks"] = sum(s.tasks for s in stages)
            m["stages.pipeline.join.shuffle_mb"] = sum(s.shuffle_read_mb for s in stages if s.stage_id in fused)
            m["stages.build.assemble.shuffle_mb"] = sum(
                s.shuffle_write_mb for s in stages if s.stage_id in fused
            )
            after = []
            for f in sorted(fused):
                nxt = [s for s in stages if s.stage_id > f and s.shuffle_read_mb > 0]
                if nxt:
                    after.append(nxt[0].skew)
            m["stages.build.assemble.task_skew"] = median(after) if after else 0.0

            drv = [(name, dt) for lab, name, dt in self.driver_spans if lab == label]
            write_s = sum(dt for name, dt in drv if name == "lineage.write")
            job_s = sum(dt for name, dt in drv if name == "lineage.run_checkpointed")
            m["lineage.write_s"] = write_s
            m["lineage.bookkeeping_s"] = job_s - write_s if job_s else 0.0
            m["lineage.groups"] = len(rec.get("groups", []))
            m["lineage.mb_written"] = _du_mb(rec["out"]) if "out" in rec else 0.0
            for fn in ("semdedup", "knn_classify", "cosine_topk"):
                m[f"similarity.{fn}.wall_s"] = sum(dt for name, dt in drv if name == f"similarity.{fn}")
                fn_stages = stages_by_group.get(f"{label}-{fn}", [])
                m[f"similarity.{fn}.executor_cpu_s"] = sum(s.cpu_s for s in fn_stages)
                if fn == "semdedup":
                    hot = max(fn_stages, key=lambda s: s.run_s, default=None)
                    m["similarity.semdedup.task_skew"] = hot.skew if hot else 0.0
            per_pass.append(m)

        out = {k: median(m[k] for m in per_pass) for k in per_pass[0]}
        untraced_ips = self.items / median(w for _, w, _ in untraced)
        out["session.start_s"] = session_start_s
        out["session.first_batch_s"] = first_batch_s
        out["trace.overhead_ratio"] = items_per_s / untraced_ips
        return out

    # -- output ----------------------------------------------------------------
    def _save(self, record: dict) -> None:
        runs = os.path.join(WORK, "runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, f"{self.run_id}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if self.trace:
            with open(os.path.join(self.trace_dir, "run.json"), "w") as f:
                json.dump(record, f, indent=1)

    def _print_summary(self, record: dict, metrics: dict, units: dict) -> None:
        host = record["host"]
        print(
            f"# {self.workload} seed={self.seed} items={record['items']} passes={len(record['pass_wall_s'])} "
            f"wall_s={[round(w, 3) for w in record['pass_wall_s']]}"
        )
        print(
            f"# host: steal_share={host['steal_share']:.4f} cpu_probe_s "
            f"before={host['cpu_probe_before_s']:.4f} after={host['cpu_probe_after_s']:.4f}"
        )
        err = record["outputs_wrong"] / record["outputs_checked"]
        print(f"# error_rate={err:.6g} ({record['outputs_wrong']} of {record['outputs_checked']} outputs wrong)")
        if self.trace:
            from perfbench.spans import layer_table

            print(f"# trace: {self.trace_dir} nesting violations={self.violations}")
            print(f"# tracing overhead: traced/untraced items_per_s = {metrics['trace.overhead_ratio']:.4f}")
            print("\n".join("# " + line for line in layer_table({self.workload: metrics}).splitlines()))
        else:
            for k, v in metrics.items():
                print(f"# {k} = {v:.6g} {units[k]}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "onnxtr_spark", "session.py")):
        print(f"perfbench: no onnxtr_spark package under {ROOT}", file=sys.stderr)
        return 2
    # before the JVM starts: its Python workers inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["OPENBLAS_NUM_THREADS"] = os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
