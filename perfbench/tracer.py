"""Layer spans recorded inside the PySpark workers.

``install`` wraps the public functions each OCR layer exposes, in the
modules that define them and in every ``onnxtr_spark`` module that
imported them by name (``stages/fused.py`` binds ``extract_crops``,
``ctc_best_path``, ``word_order`` ... as its own globals). It runs in the
PySpark daemon before it forks workers (``tracer_daemon.py``), so every
worker starts with the wrappers in place. Functions the driver pickles
by reference resolve to the wrapped objects when a worker unpickles them.

A span is ``[name, start, end, parent, count_name, count]``: ``parent``
indexes the enclosing span of the same task, or is ``-1`` for the task
span itself. Each task's spans are written as one JSON line together with
the task's stage, partition, pass label and worker pid. The task span
wraps the daemon's per-task ``worker_main`` call. Spans stay in memory
while a task runs and are appended to ``<dir>/spans-<pid>.jsonl`` after
the task's results are flushed to the JVM, so writing them delays no task.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time

ENV_DIR = "PERFBENCH_TRACE_DIR"
PASS_PROPERTY = "perfbench.pass"


def _first_len(args, kwargs, ret) -> int:
    return len(args[0])


def _batch_rows(args, kwargs, ret) -> int:
    return int(args[1].shape[0])  # args[0] is self


def _ret_rows(args, kwargs, ret) -> int:
    return int(ret.shape[0])


def _ret_len(args, kwargs, ret) -> int:
    return len(ret)


def _one(args, kwargs, ret) -> int:
    return 1


def _page_maps(args, kwargs, ret) -> int:
    # cast_normalize sees one H×W×C page map (detection) or an N×H×W×C
    # crop batch (recognition); only the former is a page
    return 1 if getattr(args[0], "ndim", 0) == 3 else 0


def _splits(args, kwargs, ret) -> int:
    return len(ret[0])


def _model_pages(args, kwargs, ret) -> int:
    return int(args[0])


# (module, attribute, layer, count name, count function or None)
WRAPS: list[tuple[str, str, str, str, object]] = [
    ("onnxtr_spark.imaging", "decode_image", "imaging.decode", "pages", _one),
    ("onnxtr_spark.kernels.preprocess", "cast_normalize", "kernels.preprocess", "pages", _page_maps),
    ("onnxtr_spark.kernels.geometry", "resize_unpadded", "kernels.resize", "images", _one),
    ("onnxtr_spark.kernels.geometry", "resize_preserve", "kernels.resize", "images", _one),
    ("onnxtr_spark.kernels.geometry", "resize_stretch", "kernels.resize", "images", _one),
    ("onnxtr_spark.engine", "DetectionEngine.simulate_model_cost", "engine.detect", "pages", _model_pages),
    ("onnxtr_spark.engine", "DetectionEngine.run", "engine.detect", "pages", _batch_rows),
    ("onnxtr_spark.engine", "FloatDetectionEngine.run", "engine.detect", "pages", _batch_rows),
    ("onnxtr_spark.engine", "DbFloatDetectionEngine.run", "engine.detect", "pages", _batch_rows),
    ("onnxtr_spark.engine", "RecognitionEngine.run", "engine.recognize", "crops", _batch_rows),
    ("onnxtr_spark.engine", "FloatRecognitionEngine.run", "engine.recognize", "crops", _batch_rows),
    ("onnxtr_spark.engine", "AttentionRecognitionEngine.run", "engine.recognize", "crops", _batch_rows),
    ("onnxtr_spark.engine", "OrientationEngine.run", "engine.orient", "crops", lambda a, k, r: len(a[1])),
    ("onnxtr_spark.engine", "OrientationEngine.run_one", "engine.orient", "crops", _one),
    ("onnxtr_spark.kernels.detect_post", "postprocess_pixel_map", "kernels.detect_post", "boxes", _ret_rows),
    ("onnxtr_spark.kernels.detect_post", "postprocess_prob_map", "kernels.detect_post", "boxes", _ret_rows),
    ("onnxtr_spark.kernels.detect_post", "remove_padding", "kernels.detect_post", "boxes", None),
    ("onnxtr_spark.kernels.rotated_post", "postprocess_pixel_map_rotated", "kernels.rotated_post", "polys", _ret_rows),
    ("onnxtr_spark.kernels.rotated_post", "postprocess_prob_map_rotated", "kernels.rotated_post", "polys", _ret_rows),
    ("onnxtr_spark.kernels.rotated_post", "remove_padding_rotated", "kernels.rotated_post", "polys", None),
    ("onnxtr_spark.kernels.rotated_post", "polys_to_straight", "kernels.rotated_post", "polys", None),
    ("onnxtr_spark.kernels.geometry", "extract_crops", "kernels.crop", "crops", _ret_len),
    ("onnxtr_spark.kernels.rotated", "extract_rcrops_nearest", "kernels.crop", "crops", _ret_len),
    ("onnxtr_spark.kernels.rotated", "rectify_crops", "kernels.crop", "crops", None),
    ("onnxtr_spark.kernels.rotated", "rectify_loc_preds", "kernels.crop", "crops", None),
    ("onnxtr_spark.kernels.split_merge", "split_crops", "kernels.split_merge", "windows", _splits),
    ("onnxtr_spark.kernels.split_merge", "remap_preds", "kernels.split_merge", "windows", None),
    ("onnxtr_spark.kernels.ctc", "ctc_best_path", "kernels.ctc", "words", _ret_len),
    ("onnxtr_spark.kernels.ctc", "attention_decode", "kernels.ctc", "words", _ret_len),
    ("onnxtr_spark.kernels.builder", "word_order", "kernels.builder", "words", _first_len),
    ("onnxtr_spark.kernels.builder", "word_order_blocks", "kernels.builder", "words", _first_len),
    ("onnxtr_spark.kernels.rotated", "word_order_rotated", "kernels.builder", "words", _first_len),
]

# every layer the wrappers report, with the name of its count
LAYERS: dict[str, str] = {layer: count for _, _, layer, count, _ in WRAPS}

TASK = "task"


class Tracer:
    """Span recorder for one worker process."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.task_info: dict | None = None

    def _capture_task_info(self) -> None:
        if self.task_info is None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            self.task_info = {
                "stage": ctx.stageId() if ctx else -1,
                "partition": ctx.partitionId() if ctx else -1,
                "pass": (ctx.getLocalProperty(PASS_PROPERTY) if ctx else None) or "",
                "pid": os.getpid(),
            }

    def wrap(self, fn, layer: str, count_name: str, count_fn):
        spans, stack = self.spans, self.stack

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not stack:  # a layer call outside any task: not recorded
                return fn(*args, **kwargs)
            self._capture_task_info()
            parent = stack[-1]
            idx = len(spans)
            spans.append([layer, time.perf_counter(), 0.0, parent, count_name, 0])
            stack.append(idx)
            try:
                ret = fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = time.perf_counter()
            # a layer calling itself (FloatDetectionEngine.run ->
            # simulate_model_cost) counts its work once, at the outer span
            if count_fn is not None and spans[parent][0] != layer:
                spans[idx][5] = count_fn(args, kwargs, ret)
            return ret

        return traced

    def wrap_task(self, worker_main):
        @functools.wraps(worker_main)
        def traced_main(infile, outfile):
            self.spans.clear()
            self.task_info = None
            self.spans.append([TASK, time.perf_counter(), 0.0, -1, "", 0])
            self.stack.append(0)
            try:
                return worker_main(infile, outfile)
            finally:
                self.stack.clear()
                self.spans[0][2] = time.perf_counter()
                try:
                    outfile.flush()  # results reach the JVM before spans are written
                except OSError:
                    pass  # a broken connection: the daemon reports it
                self.flush()

        return traced_main

    def flush(self) -> None:
        if len(self.spans) < 2:  # a task that called no layer
            return
        record = {"task": self.task_info, "spans": self.spans}
        with open(os.path.join(self.out_dir, f"spans-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")


def _patch_everywhere(orig, new) -> None:
    """Rebind every onnxtr_spark module global that is ``orig`` to ``new``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("onnxtr_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(out_dir: str) -> Tracer:
    """Wrap every function in WRAPS; return the tracer recording them."""
    # import the stages so that names they bind at import time are
    # rebound below
    importlib.import_module("onnxtr_spark.stages.fused")
    importlib.import_module("onnxtr_spark.stages.pipeline")
    tracer = Tracer(out_dir)
    for mod_name, attr, layer, count_name, count_fn in WRAPS:
        owner = importlib.import_module(mod_name)
        *cls_path, fn_name = attr.split(".")
        for part in cls_path:
            owner = getattr(owner, part)
        raw = vars(owner)[fn_name]  # staticmethod objects stay unwrapped here
        is_static = isinstance(raw, staticmethod)
        orig = raw.__func__ if is_static else raw
        wrapped = tracer.wrap(orig, layer, count_name, count_fn)
        setattr(owner, fn_name, staticmethod(wrapped) if is_static else wrapped)
        if not cls_path:
            _patch_everywhere(orig, wrapped)
    return tracer
