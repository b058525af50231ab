"""The benchmark's own tests: seeded inputs, metric names, smoke runs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import run, spans, workloads as wl

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bytes(df) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(wl.SPECS))
def test_same_seed_same_bytes_other_seed_other_bytes(name):
    spec = wl.SPECS[name]
    gen = wl.documents if spec.kind == "ocr" else wl.embeddings
    assert _bytes(gen(spec, 5)) == _bytes(gen(spec, 5))
    assert _bytes(gen(spec, 5)) != _bytes(gen(spec, 6))


def test_ocr_inputs_have_the_declared_shape():
    docs = wl.documents(wl.SPECS["ocr_rotated_job"], 3)
    pages = [max(1, -(-len(t.split()) // wl.WORDS_PER_PAGE)) for t in docs["text"]]
    assert max(pages) == max(wl.SPECS["ocr_rotated_job"].long_docs)
    assert sorted(pages)[len(pages) // 2] <= 4
    gold = wl.expected_spans(docs)
    assert len(gold) == len(docs) + sum(len(t.split()) for t in docs["text"])


def test_embeddings_have_one_hot_cluster():
    emb = wl.embeddings(wl.SPECS["embed_dedup"], 3)
    share = (emb["label"] == 0).mean()
    assert 0.3 < share < 0.5


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layers == run.per_layer_metrics()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_self_time_subtracts_direct_children_only():
    # task [0, 10] > a [1, 5] > b [2, 3]; c [6, 8]
    s = [["task", 0, 10, -1, "", 0], ["a", 1, 5, 0, "", 0], ["b", 2, 3, 1, "", 0], ["c", 6, 8, 0, "", 0]]
    assert spans.self_times(s) == [4, 3, 1, 2]
    assert spans.nesting_violations(s) == 0
    s[2][2] = 6  # b ends after its parent
    assert spans.nesting_violations(s) > 0


def _tiny_run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return result["metrics"]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_smoke_run_has_no_errors(workload):
    metrics = _tiny_run(workload, 0)
    assert metrics["match_rate"]["value"] == 1.0
    assert set(metrics) == set(run.END_TO_END)


def test_tiny_traced_run_reports_every_layer_metric():
    metrics = _tiny_run("ocr_rotated_job", 1)
    assert {k: v["unit"] for k, v in metrics.items()} == run.per_layer_metrics()
    # the rotated path runs; the straight postprocess and similarity do not
    assert metrics["kernels.rotated_post.polys"]["value"] > 0
    assert metrics["lineage.groups"]["value"] == 1
    assert metrics["kernels.detect_post.boxes"]["value"] == 0
    assert metrics["similarity.semdedup.wall_s"]["value"] == 0
