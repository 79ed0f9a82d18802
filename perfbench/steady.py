#!/usr/bin/env python3
"""Steadiness check: run the benchmark k times per workload, each with
another seed, and print per metric the median, the quartiles and the
spread (third minus first quartile, as a share of the median) against the
metric's bound from BENCHMARK.json. The bounds are set from this.

Usage (from the repository root):
    python3 perfbench/steady.py [--k 10] [--workloads a,b] [--seed0 1]
                                [--trace 0] [--out runs.jsonl]

Each run's result line (and its detail line) is appended to --out, so two
sets can be compared afterwards with --compare a.jsonl b.jsonl: per metric
and workload, the second median's change against the first, and the share
of failed operations in each set.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def quart(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def run_set(workloads, k, seed0, seconds, trace, out):
    rows = []
    for w in workloads:
        for i in range(k):
            seed = seed0 + i
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
                continue
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2]) if len(lines) > 1 else {}
            row = {"workload": w, "seed": seed, "wall_s": round(time.time() - t0, 1),
                   "result": res, "detail": detail.get("detail", {}),
                   "env": detail.get("env", {}),
                   "failed_checks": [c for c in detail.get("checks", []) if not c["ok"]]}
            rows.append(row)
            if out:
                with open(out, "a") as f:
                    f.write(json.dumps(row) + "\n")
            m = {n: round(v["value"], 4) for n, v in res["metrics"].items()
                 if not trace}
            print(f"{w} seed {seed}: {row['wall_s']}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {m}", flush=True)
    return rows


def report(rows):
    s = spec()
    bounds = {m["name"]: m.get("bound") for m in s["end_to_end"]}
    for w in sorted({r["workload"] for r in rows}):
        rs = [r for r in rows if r["workload"] == w]
        names = sorted({n for r in rs for n in r["result"]["metrics"]})
        dnames = sorted({n for r in rs for n in r["detail"]})
        att = sum(r["result"]["attempted"] for r in rs)
        fail = sum(r["result"]["failed"] for r in rs)
        ok = all(r["result"]["correct"] for r in rs)
        print(f"\n== {w}: {len(rs)} runs, correct={ok}, failed {fail}/{att}, "
              f"wall median {statistics.median(r['wall_s'] for r in rs):.1f}s")
        for kind, ns, get in (("metric", names, lambda r, n: r["result"]["metrics"][n]["value"]),
                              ("detail", dnames, lambda r, n: r["detail"].get(n))):
            for n in ns:
                vals = [get(r, n) for r in rs]
                vals = [v for v in vals if isinstance(v, (int, float))]
                if len(vals) < 2:
                    continue
                q1, med, q3 = quart(vals)
                spread = (q3 - q1) / med if med else float("nan")
                b = bounds.get(n) if kind == "metric" else None
                flag = ""
                if b is not None:
                    flag = f" bound {b}  {'OK' if spread < b / 3 else 'WIDE'}"
                print(f"  {kind:6} {n:32} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
                      f"spread {spread:.4f}{flag}")


def compare(a_path, b_path):
    s = spec()
    bounds = {m["name"]: (m.get("bound"), m["better"]) for m in s["end_to_end"]}
    load = lambda p: [json.loads(l) for l in open(p)]
    a, b = load(a_path), load(b_path)
    for w in sorted({r["workload"] for r in a}):
        ra = [r for r in a if r["workload"] == w]
        rb = [r for r in b if r["workload"] == w]
        fa = (sum(r["result"]["failed"] for r in ra), sum(r["result"]["attempted"] for r in ra))
        fb = (sum(r["result"]["failed"] for r in rb), sum(r["result"]["attempted"] for r in rb))
        print(f"\n== {w}: failed share {fa[0]}/{fa[1]} vs {fb[0]}/{fb[1]}")
        for n, (bound, better) in bounds.items():
            va = [r["result"]["metrics"][n]["value"] for r in ra if n in r["result"]["metrics"]]
            vb = [r["result"]["metrics"][n]["value"] for r in rb if n in r["result"]["metrics"]]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
            print(f"  {n:20} {ma:14.4f} -> {mb:14.4f}  worse by {worse:+.4f} (bound {bound}) "
                  f"{'OK' if worse <= bound else 'REGRESSION'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", nargs=2)
    ap.add_argument("--report", default="", help="report an existing --out file")
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare)
        return
    if a.report:
        report([json.loads(l) for l in open(a.report)])
        return
    s = spec()
    ws = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    rows = run_set(ws, a.k, a.seed0, s["run_seconds"], a.trace, a.out)
    report(rows)


if __name__ == "__main__":
    main()
