#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload or one query.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload embed_dedup --seeds 41 42 43 44 45 46 \\
        --out plans/r11/ab_embed_dedup.jsonl
    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --query dedup_containment pdf_extract_text --sf /data/sf0.1 \\
        --seeds 1 2 3 4 --out plans/r13/ab_queries.jsonl

Each seed is one pair: ``perfbench/run.py`` runs once in each tree, one
after the other, and the side that runs first alternates from pair to
pair (parent first in pair 0). Every run appends one JSON line to
``--out`` with the host's steal share and CPU probe from the run's
``# host:`` line. At the end, and with ``--summary FILE`` for records
already written, it prints per end-to-end metric the median and
quartiles of each side, the change/parent ratio of the medians, the
pairs the change won and whether the ratio stays inside the metric's
``BENCHMARK.json`` bound, and whether a gain on it could be claimed:
the change wins at least 9 of 10 pairs and its median beats the
parent's by more than the parent's interquartile range (both must
hold; ``CLAIM_WIN_SHARE``). ``worker_peak_rss_mb`` is also printed as its
modes (runs more than 5 MB apart start a new mode) with run counts,
since one tree's peak RSS can step between modes from run to run.

``--query NAME [NAME ...]`` times declared queries that no workload
runs: each run is one ``bench_extra.py --repeats 1 NAME ...`` (noop
sink, one fresh session for all the names, ``--sf`` when given) and
appends one record per query; the seeds only label the pairs. The
summary prints, per query, each side's median [q1, q3] seconds, the
change/parent ratio, the pairs the change won and whether the change
median is slower than the parent's by more than the parent's
interquartile range, and the same claim verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RSS_GAP_MB = 5.0
CLAIM_WIN_SHARE = 0.9  # a claimed gain wins at least 9 of 10 pairs
HOST_RE = re.compile(r"# host: steal_share=(\S+) cpu_probe_s before=(\S+) after=(\S+)")


def run_one(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: its result line and host window."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    rec = {"rc": proc.returncode, "wall": round(time.time() - t0, 1)}
    host = HOST_RE.search(proc.stdout)
    if host:
        rec["steal_share"] = float(host.group(1))
        rec["cpu_probe_s"] = [float(host.group(2)), float(host.group(3))]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if lines:
        rec.update(json.loads(lines[-1]))
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def run_queries(tree: str, queries: list[str], sf: str | None) -> list[dict]:
    """One ``bench_extra.py`` run of ``queries`` in ``tree``: one record
    per query with its seconds (the run's rc and wall are shared)."""
    cmd = [sys.executable, "bench_extra.py", "--repeats", "1", *queries] + (["--sf", sf] if sf else [])
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    run = {"rc": proc.returncode, "wall": round(time.time() - t0, 1)}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    seconds = json.loads(lines[-1])["queries"] if proc.returncode == 0 and lines else {}
    return [
        dict(run, query=q, seconds=seconds[q]) if q in seconds
        else dict(run, query=q, stderr_tail=proc.stderr[-2000:])
        for q in queries
    ]


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def modes(vals: list[float], gap: float = RSS_GAP_MB) -> list[tuple[float, float, int]]:
    """(low, high, runs) per cluster of the sorted values; a step larger
    than ``gap`` starts a new cluster."""
    out: list[list[float]] = []
    for v in sorted(vals):
        if out and v - out[-1][-1] <= gap:
            out[-1].append(v)
        else:
            out.append([v])
    return [(c[0], c[-1], len(c)) for c in out]


def claim(parent: list[float], change: list[float], better: str) -> str:
    """The claim rule's verdict for one metric over paired runs: the
    change wins at least ``CLAIM_WIN_SHARE`` of the pairs and its median
    beats the parent's by more than the parent's interquartile range."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    gain = sign * (quartiles(change)[1] - pm)
    ok = wins >= CLAIM_WIN_SHARE * len(parent) and gain > p3 - p1
    return f"claim {'QUALIFIES' if ok else 'no'} (gain {gain:.6g} vs parent IQR {p3 - p1:.6g})"


def summarize_queries(records: list[dict]) -> list[str]:
    pairs: dict[tuple[str, str, int, int], dict[str, dict]] = {}
    for r in records:
        pairs.setdefault((r["query"], r["sf"], r["seed"], r["pair"]), {})[r["side"]] = r
    lines = []
    for query, sf in sorted({key[:2] for key in pairs}):
        full = [p for key, p in sorted(pairs.items()) if key[:2] == (query, sf) and len(p) == 2]
        ok = [p for p in full if all("seconds" in r for r in p.values())]
        side = {s: [p[s]["seconds"] for p in ok] for s in ("parent", "change")}
        lines.append(f"{query} @ {sf}: {len(ok)} complete pairs ({len(full) - len(ok)} with a failed run)")
        for s in ("parent", "change"):
            lines.append(f"  {s} runs: {', '.join(f'{v:.3f}' for v in side[s])}")
        if not ok:
            continue
        (p1, pm, p3), (c1, cm, c3) = quartiles(side["parent"]), quartiles(side["change"])
        wins = sum(c < p for p, c in zip(side["parent"], side["change"]))
        slower = cm - pm
        lines.append(
            f"  seconds | parent {pm:.3f} [{p1:.3f}, {p3:.3f}] | change {cm:.3f} [{c1:.3f}, {c3:.3f}] | "
            f"ratio {cm / pm:.3f} | wins {wins}/{len(ok)} | change - parent {slower:+.3f} s vs parent "
            f"IQR {p3 - p1:.3f} s: {'inside' if slower <= p3 - p1 else 'OUTSIDE'} | "
            + claim(side["parent"], side["change"], "lower")
        )
    return lines


def summarize(records: list[dict]) -> str:
    lines = summarize_queries([r for r in records if "query" in r])
    records = [r for r in records if "workload" in r]
    if not records:
        return "\n".join(lines)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    pairs: dict[tuple[str, int, int], dict[str, dict]] = {}
    for r in records:  # a file may hold several sessions, each from pair 0
        pairs.setdefault((r["workload"], r["seed"], r["pair"]), {})[r["side"]] = r
    for workload in sorted({key[0] for key in pairs}):
        full = [p for key, p in sorted(pairs.items()) if key[0] == workload and len(p) == 2]
        ok = [p for p in full if all(r.get("rc") == 0 and "metrics" in r for r in p.values())]
        lines.append(f"{workload}: {len(ok)} complete pairs ({len(full) - len(ok)} with a failed run)")
        lines.append("metric | parent median [q1, q3] | change median [q1, q3] | ratio | wins | bound | claim")
        for m in bench["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            side = {s: [p[s]["metrics"][name]["value"] for p in ok] for s in ("parent", "change")}
            if not side["parent"]:
                continue
            (p1, pm, p3), (c1, cm, c3) = quartiles(side["parent"]), quartiles(side["change"])
            ratio = cm / pm if pm else float("nan")
            sign = 1 if better == "higher" else -1
            wins = sum(sign * (c - p) > 0 for p, c in zip(side["parent"], side["change"]))
            inside = ratio >= 1 - bound if better == "higher" else ratio <= 1 + bound
            lines.append(
                f"{name} | {pm:.6g} [{p1:.6g}, {p3:.6g}] | {cm:.6g} [{c1:.6g}, {c3:.6g}] | "
                f"{ratio:.3f} | {wins}/{len(ok)} | {'inside' if inside else 'OUTSIDE'} {bound} | "
                + claim(side["parent"], side["change"], better)
            )
            if name == "worker_peak_rss_mb":
                for s in ("parent", "change"):
                    desc = ", ".join(f"{lo:.1f}-{hi:.1f} MB x{n}" for lo, hi, n in modes(side[s]))
                    lines.append(f"  {s} modes: {desc}")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent tree")
    ap.add_argument("--change", help="checkout of the change tree")
    ap.add_argument("--workload")
    ap.add_argument("--query", nargs="+", help="time these queries with bench_extra.py instead of a workload")
    ap.add_argument("--sf", help="scale-factor directory for --query")
    ap.add_argument("--seeds", type=int, nargs="+", help="one pair per seed")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", help="JSON lines file the runs are appended to")
    ap.add_argument("--summary", help="only summarize this JSON lines file")
    args = ap.parse_args()
    if args.summary:
        with open(args.summary) as f:
            print(summarize([json.loads(ln) for ln in f if ln.strip()]))
        return 0
    if not (args.parent and args.change and (args.workload or args.query) and args.seeds and args.out):
        ap.error("--parent, --change, --workload or --query, --seeds and --out are required")
    records = []
    for pair, seed in enumerate(args.seeds):
        sides = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
        for side in sides:
            tree = os.path.abspath(args.parent if side == "parent" else args.change)
            rec = {"seed": seed, "side": side, "pair": pair, "first": sides[0]}
            if args.query:
                sf = os.path.basename(os.path.normpath(args.sf)) if args.sf else "default"
                recs = [dict(rec, sf=sf, **r) for r in run_queries(tree, args.query, args.sf)]
                shown = " ".join(f"{r['query']}={r.get('seconds')}" for r in recs)
            else:
                rec["workload"] = args.workload
                rec.update(run_one(tree, args.workload, seed, args.seconds))
                recs = [rec]
                items = rec.get("metrics", {}).get("items_per_s", {}).get("value")
                shown = f"items_per_s={items} steal={rec.get('steal_share')}"
            records.extend(recs)
            with open(args.out, "a") as f:
                f.writelines(json.dumps(r) + "\n" for r in recs)
            print(f"pair {pair} seed {seed} {side}: rc={recs[0]['rc']} {shown}", flush=True)
    print(summarize(records))
    return 0


if __name__ == "__main__":
    sys.exit(main())
