"""Per-layer self time and counts from the span files of a traced run.

Usage: ``python3 -m perfbench.spans <trace dir> [<trace dir> ...]`` prints
one table with a column per traced run (one run per workload), reading
the ``spans-<pid>.jsonl`` files the workers wrote and the ``run.json``
the driver left next to them.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict
from statistics import median

from perfbench.tracer import TASK


def load_tasks(trace_dir: str) -> list[dict]:
    tasks = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "spans-*.jsonl"))):
        with open(path) as f:
            tasks.extend(json.loads(line) for line in f if line.strip())
    return tasks


def self_times(spans: list[list]) -> list[float]:
    """Span duration minus the time its direct children cover. Children
    of one span never overlap: a worker runs one call at a time."""
    own = [s[2] - s[1] for s in spans]
    for s in spans:
        if s[3] >= 0:
            own[s[3]] -= s[2] - s[1]
    return own


def nesting_violations(spans: list[list], slack: float = 1e-6) -> int:
    """Spans that end outside their parent or whose children outlast them."""
    bad = 0
    for s, own in zip(spans, self_times(spans)):
        if own < -slack:
            bad += 1
        if s[3] >= 0:
            p = spans[s[3]]
            if s[1] < p[1] - slack or s[2] > p[2] + slack:
                bad += 1
    return bad


def pass_layers(tasks: list[dict], label: str) -> dict:
    """Totals over the tasks of one traced pass: per-layer self time and
    counts, task time, its uncovered part, per-stage task skew."""
    self_s: dict[str, float] = defaultdict(float)
    counts: dict[str, int] = defaultdict(int)
    task_s = overhead_s = 0.0
    by_stage: dict[int, list[float]] = defaultdict(list)
    violations = 0
    for rec in tasks:
        if rec["task"]["pass"] != label:
            continue
        spans = rec["spans"]
        own = self_times(spans)
        violations += nesting_violations(spans)
        for s, o in zip(spans, own):
            if s[0] == TASK:
                task_s += s[2] - s[1]
                overhead_s += o
                by_stage[rec["task"]["stage"]].append(s[2] - s[1])
            else:
                self_s[s[0]] += o
                counts[s[0]] += s[5]
    skews = [max(ts) / median(ts) for ts in by_stage.values() if median(ts) > 0]
    return {
        "self_s": dict(self_s),
        "counts": dict(counts),
        "task_s": task_s,
        "overhead_s": overhead_s,
        "task_skew": median(skews) if skews else 0.0,
        "stages": sorted(by_stage),
        "violations": violations,
    }


def layer_table(columns: dict[str, dict[str, float]]) -> str:
    """Render {column: {metric: value}} with one row per metric."""
    names = sorted({m for col in columns.values() for m in col})
    width = max([len(n) for n in names] + [6])
    heads = list(columns)
    out = [f"{'metric':<{width}}  " + "  ".join(f"{h:>16}" for h in heads)]
    for n in names:
        cells = []
        for h in heads:
            v = columns[h].get(n)
            cells.append(f"{'-':>16}" if v is None else f"{v:>16.6g}")
        out.append(f"{n:<{width}}  " + "  ".join(cells))
    return "\n".join(out)


def main(argv: list[str]) -> int:
    columns = {}
    for trace_dir in argv:
        with open(os.path.join(trace_dir, "run.json")) as f:
            run = json.load(f)
        columns[run["workload"]] = {k: v["value"] for k, v in run["metrics"].items()}
        tasks = load_tasks(trace_dir)
        bad = sum(nesting_violations(t["spans"]) for t in tasks)
        print(f"{run['workload']}: {len(tasks)} traced tasks, {bad} nesting violations")
    print(layer_table(columns))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
