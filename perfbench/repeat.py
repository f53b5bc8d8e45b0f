#!/usr/bin/env python3
"""Repeat runner: runs workloads K times each, alternating between them,
and prints per-metric median, quartiles and spread (IQR / median), so
bounds are set from measured spread. Traced runs, if asked for, give
the tracing overhead: traced over untraced median of each end-to-end
time.

    python3 perfbench/repeat.py --workloads seed_jdbc,query_mix --runs 10 \
        --seconds 15 [--first-seed 1] [--traced 2] [--out FILE]

Run from the root of a checkout. Each run is one `perfbench/run.py`
invocation with its own seed; the full run documents are read back from
.bench_build/runs/. The summary is printed and, with --out, written as
JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    line = json.loads(lines[-1]) if lines else None
    doc_path = os.path.join(".bench_build", "runs", f"{workload}-s{seed}-t{trace}.json")
    doc = None
    if line is not None and os.path.exists(doc_path):
        with open(doc_path) as f:
            doc = json.load(f)
    return {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
            "wall_s": wall, "line": line, "doc": doc,
            "stderr_tail": p.stderr.strip().splitlines()[-5:]}


def spread(values):
    values = sorted(values)
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else float("nan")}


def summarize(runs, workloads):
    out = {}
    for w in workloads:
        plain = [r for r in runs if r["workload"] == w and r["trace"] == 0 and r["doc"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"] == 1 and r["doc"]]
        s = {"runs": len(plain), "failed_runs": sum(
                 1 for r in runs if r["workload"] == w and (r["rc"] != 0 or not r["doc"])),
             "wall_s": spread([r["wall_s"] for r in runs if r["workload"] == w]),
             "fail_rate": sum(r["line"]["failed"] for r in plain) /
             max(1, sum(r["line"]["attempted"] for r in plain)),
             "metrics": {}}
        names = []
        for r in plain:
            for section in ("e2e", "detail"):
                names += [n for n in r["doc"][section] if n not in names]
        for n in names:
            vals = [r["doc"][sec][n]["value"] for r in plain for sec in ("e2e", "detail")
                    if n in r["doc"][sec] and r["doc"][sec][n]["value"] is not None]
            if vals:
                s["metrics"][n] = spread(vals)
        s["host"] = {k: spread([r["doc"]["host"][k] for r in plain])
                     for k in (plain[0]["doc"]["host"] if plain else {})}
        if traced and plain:
            s["tracing_overhead"] = {
                n: statistics.median(r["doc"]["e2e"][n]["value"] for r in traced) /
                s["metrics"][n]["median"] - 1
                for n in traced[0]["doc"]["e2e"] if n in s["metrics"]}
        out[w] = s
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    runs = []
    plan = [(w, a.first_seed + i, 0) for i in range(a.runs) for w in workloads]
    plan += [(w, a.first_seed + i, 1) for i in range(a.traced) for w in workloads]
    for w, seed, trace in plan:
        r = run_once(w, seed, a.seconds, trace)
        runs.append(r)
        line = r["line"] or {}
        print(f"{w} seed={seed} trace={trace} rc={r['rc']} wall={r['wall_s']:.1f}s "
              f"correct={line.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line.get("metrics", {}).items()
                         if trace == 0), flush=True)
        if r["rc"] != 0:
            print("  " + "\n  ".join(r["stderr_tail"]), flush=True)
    summary = summarize(runs, workloads)
    for w, s in summary.items():
        print(f"\n== {w}: {s['runs']} runs, {s['failed_runs']} failed runs, "
              f"fail_rate {s['fail_rate']:.4f}, run wall median {s['wall_s']['median']:.1f}s")
        for n, m in s["metrics"].items():
            print(f"  {n:24s} median {m['median']:.5g}  q1 {m['q1']:.5g}  q3 {m['q3']:.5g}"
                  f"  iqr/median {m['iqr_over_median']:.3f}")
        for n, m in s["host"].items():
            print(f"  host.{n:19s} median {m['median']:.4g}  iqr/median {m['iqr_over_median']:.3f}")
        for n, v in s.get("tracing_overhead", {}).items():
            print(f"  tracing overhead on {n}: {v:+.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": a.seconds, "cores": len(os.sched_getaffinity(0)),
                       "summary": summary,
                       "runs": [{k: r[k] for k in ("workload", "seed", "trace", "rc", "wall_s", "line")}
                                for r in runs]}, f, indent=1)


if __name__ == "__main__":
    main()
