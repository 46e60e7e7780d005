#!/usr/bin/env python3
"""graft benchmark: times the complete result of a workload's queries from
outside the engine and checks every output against its DuckDB oracle.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the client
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one JVM with one client thread on local[4], then
runs tools/check.py on the outputs. It refuses to start on fewer than four
processors, so every run has the same configuration.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of a
traced run. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Raw rows, spans and logs of the run stay in <build>/runs/<workload>-s<seed>-t<trace>.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
# Untimed passes that end the set-up. More would flatten the JIT's speed-up
# over the first timed passes, but each one costs every run a full pass.
WARMUP_PASSES = 1
HEAP = "2g"
THREADS = 4  # task threads: local[THREADS]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
MB = 1048576.0
# (layer, metric, unit) of a traced run; each is a per-pass sum, reported as
# the median over the traced passes.
PER_LAYER = [
    ("queries", "build_s", "s"), ("queries", "build_jobs", "count"),
    ("core", "materialized_blocks", "count"), ("core", "materialized_mb", "MB"),
    ("core", "leaked_rdds", "count"),
    ("catalyst", "plan_s", "s"), ("catalyst", "plan_analysis_s", "s"),
    ("catalyst", "plan_optimizer_s", "s"), ("catalyst", "plan_physical_s", "s"),
    ("codegen", "codegen_compiles", "count"), ("codegen", "codegen_compile_s", "s"),
    ("scheduler", "jobs", "count"), ("scheduler", "stages", "count"), ("scheduler", "tasks", "count"),
    ("scheduler", "exec_s", "s"), ("scheduler", "exec_idle_s", "s"),
    ("scheduler", "scheduler_delay_s", "s"),
    ("executor", "executor_run_s", "s"), ("executor", "executor_cpu_s", "s"), ("executor", "gc_s", "s"),
    ("executor", "input_mb", "MB"), ("executor", "output_rows", "count"),
    ("shuffle", "shuffle_write_mb", "MB"), ("shuffle", "shuffle_write_records", "count"),
    ("shuffle", "shuffle_read_mb", "MB"), ("shuffle", "spill_mb", "MB"),
    ("shuffle", "shuffle_records_per_output_row", "ratio"),
    ("all", "task_failures", "count"), ("all", "trace_overhead", "ratio"),
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_jvm(classes, data, out, queries, seconds, seed, trace, timeout):
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    tmp = out / "tmp"
    tmp.mkdir()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--data", str(data), "--out", str(out),
              "--queries", ",".join(queries), "--seconds", str(seconds), "--seed", str(seed),
              "--trace", str(trace), "--threads", str(THREADS), "--warmup", str(WARMUP_PASSES)])
    with open(out / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM exceeded {timeout:.0f} s; log in {out / 'jvm.log'}")
        finally:  # also on SIGTERM, which main() turns into SystemExit
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"perfbench: JVM exited with {rc}\n{tail}")
    return [json.loads(l) for l in (out / "rows.jsonl").read_text().splitlines() if l]


def oracle_check(data, results, queries):
    """tools/check.py over the correctness run.

    Returns ({query: output rows} of the matching queries, the check's failure
    lines, the queries that did not match)."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(data), str(results)]
                       + sorted(queries), capture_output=True, text=True, cwd=results)
    rows, bad = {}, []
    for line in r.stdout.splitlines():
        m = re.match(r"OK\s+(\S+) \((\d+) rows\)", line)
        if m:
            rows[m.group(1)] = int(m.group(2))
        elif line.startswith("FAIL") or line.startswith("  "):
            bad.append(line)
    missing = [q for q in queries if q not in rows]
    if missing and not bad:
        bad.append(f"FAIL check.py exit {r.returncode}: {r.stderr.strip()[-500:]}")
    return rows, bad, missing


def tail(samples):
    """Highest percentile with at least 10 samples beyond it: the 11th largest."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clipped(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def end_to_end(rows, checks_failed, checks):
    setup = [r for r in rows if r["type"] == "setup"][0]
    timed = [r for r in rows if r["type"] == "timed"][0]
    passes = [r["wall_ms"] / 1000 for r in rows if r["type"] == "pass" and r["pass"] >= 1]
    qs = [r for r in rows if r["type"] == "query" and r["pass"] >= 1]
    walls = [r["wall_ms"] / 1000 for r in qs]
    exc = sum(1 for r in qs if not r["ok"])
    t, pct, n = tail(walls)
    attempted = len(qs) + checks
    failed = exc + checks_failed
    metrics = {
        "setup_s": (setup["setup_ms"] / 1000, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_tail_s": (t, "s"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
        "peak_heap_mb": (timed["peak_heap_mb"], "MB"),
    }
    notes = [f"query_tail_s is p{pct:.1f} of {n} query executions",
             f"timed passes: {len(passes)}; query executions: {len(qs)}, {exc} raised"]
    return metrics, attempted, failed, notes


def per_layer(rows, spans, output_rows):
    """Per-pass sums over the traced passes, reported as medians over them."""
    qrows = [r for r in rows if r["type"] == "query" and r["traced"]]
    traced = sorted({r["pass"] for r in qrows})
    untraced_wall = [r["wall_ms"] for r in rows if r["type"] == "pass" and r["pass"] >= 1 and not r["traced"]]
    traced_wall = [r["wall_ms"] for r in rows if r["type"] == "pass" and r["traced"]]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def pass_of(s):
        return int(s["query"].split(":", 1)[0][1:])

    def phase_of(s):
        """The build/plan/execute span a job, stage or task descends from."""
        while s and s["name"] not in ("build", "plan", "execute"):
            s = by_id.get(s["parent"])
        return s

    per = {p: {} for p in traced}

    def add(p, k, v):
        per[p][k] = per[p].get(k, 0.0) + v

    unattributed = 0
    for s in spans:
        p = pass_of(s)
        if p not in per:
            continue
        name, dur = s["name"], s["end"] - s["start"]
        if name in ("build", "plan"):
            jobs = [(j["start"], j["end"]) for j in kids.get(s["id"], []) if j["name"] == "job"]
            add(p, f"{name}_s", (dur - union_ms(clipped(jobs, s["start"], s["end"]))) / 1000)
            if name == "build":
                add(p, "build_jobs", len(jobs))
        elif name == "execute":
            tasks = [(t["start"], t["end"]) for j in kids.get(s["id"], []) if j["name"] == "job"
                     for st in kids.get(j["id"], []) for t in kids.get(st["id"], [])]
            add(p, "exec_s", dur / 1000)
            add(p, "exec_idle_s", (dur - union_ms(clipped(tasks, s["start"], s["end"]))) / 1000)
        elif name == "job":
            add(p, "jobs", 1)
            if phase_of(by_id.get(s["parent"])) is None:
                unattributed += 1
        elif name == "stage":
            add(p, "stages", 1)
        elif name == "task":
            add(p, "tasks", 1)
            add(p, "task_failures", s["failed"])
            add(p, "scheduler_delay_s", max(0.0, dur - s["run_ms"] - s["deser_ms"] - s["ser_ms"] - s["getres_ms"]) / 1000)
            add(p, "executor_run_s", s["run_ms"] / 1000)
            add(p, "executor_cpu_s", s["cpu_ns"] / 1e9)
            add(p, "gc_s", s["gc_ms"] / 1000)
            add(p, "input_mb", s["in_b"] / MB)
            add(p, "shuffle_write_mb", s["sw_b"] / MB)
            add(p, "shuffle_write_records", s["sw_r"])
            add(p, "shuffle_read_mb", s["sr_b"] / MB)
            add(p, "spill_mb", s["spill_b"] / MB)
    leaks = {}
    for r in qrows:
        p = r["pass"]
        add(p, "materialized_blocks", r.get("materialized_blocks", 0))
        add(p, "materialized_mb", r.get("materialized_b", 0) / MB)
        add(p, "leaked_rdds", r["leaked_rdds"] + r["leaked_cached"])
        add(p, "plan_analysis_s", r.get("catalyst_analysis_ms", 0) / 1000)
        add(p, "plan_optimizer_s", r.get("catalyst_optimization_ms", 0) / 1000)
        add(p, "plan_physical_s", r.get("catalyst_planning_ms", 0) / 1000)
        add(p, "codegen_compiles", r["codegen_compiles"])
        add(p, "codegen_compile_s", r.get("codegen_ms", 0) / 1000)
        if r["leaked_rdds"] + r["leaked_cached"]:
            leaks[r["query"]] = r["leaked_rdds"] + r["leaked_cached"]
    for p in traced:
        add(p, "output_rows", output_rows)
        per[p]["shuffle_records_per_output_row"] = per[p].get("shuffle_write_records", 0) / max(output_rows, 1)
    metrics = {k: (statistics.median(per[p].get(k, 0.0) for p in traced), u)
               for _, k, u in PER_LAYER if k != "trace_overhead"}
    metrics["trace_overhead"] = (statistics.mean(traced_wall) / statistics.mean(untraced_wall), "ratio")
    notes = [f"traced passes: {len(traced)}, untraced passes: {len(untraced_wall)}",
             f"jobs not attached to a build/plan/execute span: {unattributed}",
             "queries that left persisted RDDs or cached relations (count per execution): "
             + (", ".join(f"{q}={n}" for q, n in sorted(leaks.items())) or "none")]
    return metrics, notes


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    if nproc() < THREADS:
        raise SystemExit(f"perfbench: refusing local[{THREADS}] on {nproc()} processors")

    classes = build.build()
    t_start = time.time()
    data = gen.generate(w["base"], w["copies"], a.seed, build.build_dir() / "data")
    out = build.build_dir() / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    queries = w["queries"]
    t_gen = time.time()
    rows = run_jvm(classes, data, out, queries, a.seconds, a.seed, a.trace,
                   DEADLINE_S - (time.time() - t_start))
    t_jvm = time.time()
    out_rows, bad, missing = oracle_check(data, out / "results", queries)
    t_check = time.time()
    mismatched = sorted({m.split()[1].rstrip(":") for m in bad if m.startswith("FAIL")} | set(missing))

    env = [r for r in rows if r["type"] == "env"][0]
    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
        env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)}).stdout.strip() or "unknown"
    manifest = json.loads((data / "manifest.json").read_text())
    print(f"env: nproc={env['nproc']} master=local[{env['threads']}] heap={env['max_heap_mb']:.0f}MB "
          f"jvm={env['jvm']} spark={env['spark']} git={sha} "
          f"source={(classes / 'STAMP').read_text()[:12]} seed={a.seed} "
          f"workload={a.workload} queries={len(queries)} trace={a.trace}")
    print(f"input: {w['base']} x{w['copies']} id_stride={manifest['id_stride']} "
          + " ".join(f"{t}={v['rows']}:{v['sha256']}" for t, v in sorted(manifest["tables"].items())))

    metrics, attempted, failed, notes = end_to_end(rows, len(mismatched), len(queries))
    notes.append(f"run: inputs {t_gen - t_start:.1f} s, JVM {t_jvm - t_gen:.1f} s, "
                 f"oracle check {t_check - t_jvm:.1f} s")
    if a.trace:
        spans = [json.loads(l) for l in (out / "spans.jsonl").read_text().splitlines() if l]
        metrics, trace_notes = per_layer(rows, spans, sum(out_rows.values()))
        notes += trace_notes
    for n in notes:
        print(n)
    for m in bad:
        print(f"oracle: {m}")
    print(f"oracle: {len(queries) - len(mismatched)}/{len(queries)} outputs match"
          + (f"; mismatched: {', '.join(mismatched)}" if mismatched else ""))
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({"correct": not mismatched, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
