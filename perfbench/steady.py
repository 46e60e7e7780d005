#!/usr/bin/env python3
"""Steadiness mode: runs the benchmark of this checkout as two sets of runs,
each run with its own seed, and prints per workload and end-to-end metric
both sets' medians, their quartile spreads (IQR / median) and whether the
two sets agree within the metric's bound in BENCHMARK.json. One traced run
per workload adds its trace_overhead.

    python3 perfbench/steady.py [--runs N]

Set 1 uses seeds 1..N, set 2 seeds N+1..2N. A metric agrees when each set's
spread is within the bound (setup_s is exempt from that part) and the two
medians differ by no more than the bound, as a share of the smaller one. Raw results go to
<build>/steady.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"run failed: {workload} seed {seed}\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def apart(m1, m2):
    """Distance of two medians as a share of the smaller; 0 when both are 0."""
    lo = min(abs(m1), abs(m2))
    return abs(m2 - m1) / lo if lo else float(m1 != m2)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    build.build()
    seconds = bench["run_seconds"]
    raw = {}
    print(f"{'workload':16} {'metric':14} {'median1':>11} {'median2':>11} {'spread1':>8} "
          f"{'spread2':>8} {'bound':>6}  verdict")
    for w in (w["name"] for w in bench["workloads"]):
        sets = [[run(w, seed, seconds, 0) for seed in range(1 + k * a.runs, 1 + (k + 1) * a.runs)]
                for k in range(2)]
        raw[w] = {"sets": sets}
        for m in bench["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            spr = [spread(v) for v in vals]
            ok = apart(med[0], med[1]) <= m["bound"] and (
                m["name"] == "setup_s" or max(spr) <= m["bound"])
            print(f"{w:16} {m['name']:14} {med[0]:11.5g} {med[1]:11.5g} {spr[0]:8.3f} "
                  f"{spr[1]:8.3f} {m['bound']:6.3f}  {'agree' if ok else 'DISAGREE'}")
        bad = [(r["attempted"], r["failed"]) for s in sets for r in s if not r["correct"] or r["failed"]]
        if bad:
            print(f"{w:16} runs with failures (attempted, failed): {bad}")
        t = run(w, 1, seconds, 1)
        raw[w]["traced"] = t
        print(f"{w:16} trace_overhead {t['metrics']['trace_overhead']['value']:.4f}")
        sys.stdout.flush()
    (build.build_dir() / "steady.json").write_text(json.dumps(raw, indent=1))


if __name__ == "__main__":
    main()
