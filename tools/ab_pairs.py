#!/usr/bin/env python3
"""Interleaved A/B of the CDC benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload seed_jdbc \
        --seeds 931-940 [--seconds 15] [--traced N] [--out FILE]

DIR is the root of an unpacked checkout (`git archive REV | tar -x -C
DIR`); each builds its own .bench_build/ on its first run. For every
seed, one untraced `perfbench/run.py` run per side forms a pair; the
side that goes first alternates from pair to pair, so a slow host phase
does not always land on the same side.

Every run must be correct: if any run fails or reports `correct:
false`, the runs are listed and nothing is summarized (exit 1).
Otherwise, per end-to-end metric of BENCHMARK.json, it prints each
side's median and quartiles, the change's wins, the parent's IQR, and
whether the gain rule holds: the change wins at least 9 of every 10
pairs (and there are at least 10) and its median is better than the
parent's by more than the parent's IQR. It also prints the
no-regression verdict against the metric's `bound` (a fraction of the
parent's median): `worse` when the change's median is worse than the
parent's by more than the bound; otherwise `unresolved` when the
parent's IQR/median exceeds the bound (its runs spread too widely to
tell), unless every change run beats every parent run; otherwise
`holds`. Each run's steal_share (the share of CPU time the hypervisor
gave to other guests, from the run document) is listed too: read a
pair next to it. So is each side's median split by its position in the
pair (first or second): the run that goes second can read lower on a
warm file cache or host phase, whichever side it is, and an odd number
of pairs gives the parent one more first place (warned at the start).
Last, each side's median and quartiles of every
ungated `detail` figure of the run documents (resume_s,
topic_read_rows_per_s, ccd_service_p50_s, ...) that all runs report,
with no verdict.

With --traced N, N traced runs per side follow the pairs (`run.py
--trace 1`, on the first N seeds, the side that goes first alternating
as for the pairs), and each side's median of every per-layer metric
(spark.jobs, cdc.decode_s, streaming.batches, ...) that all of them
report is printed, with no verdict: counts repeat exactly for a seed,
so they read as before/after checks; timings are a guide only. A traced
run that fails or is not correct is listed and the layer medians are
not printed (exit 1).

A side whose .bench_build/classpath.txt names a classes directory
outside that side's root is refused (exit 2): the checkout was copied
together with another checkout's build, so it would run that build's
classes, and its own rebuild could delete them. Delete that side's
.bench_build/ and run again.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

MIN_PAIRS = 10
WIN_SHARE = 0.9


def seeds_of(spec):
    """'931-940' -> [931, ..., 940]."""
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def foreign_classes(checkout):
    """Classes directories that checkout's saved build classpath names
    outside the checkout (a build copied along with its sources)."""
    cp_file = os.path.join(checkout, ".bench_build", "classpath.txt")
    if not os.path.exists(cp_file):
        return []
    with open(cp_file) as f:
        classpath = json.load(f).get("classpath", "")
    root = os.path.realpath(checkout)
    return [e for e in classpath.split(os.pathsep)
            if e and not e.endswith(".jar")
            and os.path.commonpath([root, os.path.realpath(e)]) != root]


def run_once(checkout, workload, seed, seconds, trace=0):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        line = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        line = None
    steal, detail = None, {}
    doc = os.path.join(checkout, ".bench_build", "runs", f"{workload}-s{seed}-t{trace}.json")
    if line is not None and os.path.exists(doc):
        with open(doc) as f:
            d = json.load(f)
        steal = d.get("host", {}).get("steal_share")
        detail = {k: v["value"] for k, v in (d.get("detail") or {}).items()}
    return {"rc": p.returncode, "wall_s": time.time() - t0, "line": line,
            "steal_share": steal, "detail": detail,
            "stderr_tail": p.stderr.strip().splitlines()[-5:]}


def share(v):
    return "n/a" if v is None else f"{v:.4f}"


def quartiles(values):
    values = sorted(values)
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) >= 2 else (med, med, med)
    return med, q1, q3


def verdict(par, chg, better, bound):
    """No-regression verdict of one metric: worse / unresolved / holds."""
    sign = 1 if better == "lower" else -1
    (pm, pq1, pq3), cm = quartiles(par), statistics.median(chg)
    if sign * (cm - pm) > bound * abs(pm):
        return "worse"
    every_win = max(sign * c for c in chg) < min(sign * p for p in par)
    if (pq3 - pq1) > bound * abs(pm) and not every_win:
        return "unresolved"
    return "holds"


def by_position(pairs, name):
    """Each side's median of one metric over the pairs where it ran first
    and over those where it ran second (None where it never did)."""
    out = {}
    for side in ("parent", "change"):
        for pos, first in (("first", True), ("second", False)):
            vals = [p[side]["line"]["metrics"][name]["value"] for p in pairs
                    if (p["first"] == side) == first]
            out[f"{side}_{pos}"] = {"n": len(vals),
                                    "median": statistics.median(vals) if vals else None}
    return out


def summarize(pairs, metrics):
    """pairs: [{"seed", "first", "parent", "change"}]; metrics: [(name, better, bound)]."""
    out = {}
    n = len(pairs)
    for name, better, bound in metrics:
        par = [p["parent"]["line"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["line"]["metrics"][name]["value"] for p in pairs]
        sign = 1 if better == "lower" else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (a - b) > 0)
        (pm, pq1, pq3), (cm, cq1, cq3) = quartiles(par), quartiles(chg)
        gap = sign * (pm - cm)
        out[name] = {"better": better, "pairs": n, "wins": wins,
                     "parent": {"median": pm, "q1": pq1, "q3": pq3},
                     "change": {"median": cm, "q1": cq1, "q3": cq3},
                     "change_pct": (cm - pm) / pm * 100 if pm else float("nan"),
                     "parent_iqr": pq3 - pq1,
                     "gain_rule": n >= MIN_PAIRS and wins >= WIN_SHARE * n
                     and gap > pq3 - pq1,
                     "bound": bound, "verdict": verdict(par, chg, better, bound),
                     "by_position": by_position(pairs, name)}
    return out


def summarize_detail(pairs):
    """Each side's median and quartiles of the detail figures every run reports."""
    runs = [p[side] for p in pairs for side in ("parent", "change")]
    names = sorted(set.intersection(*(set(r["detail"]) for r in runs))) if runs else []
    return {name: {side: dict(zip(("median", "q1", "q3"),
                                  quartiles([p[side]["detail"][name] for p in pairs])))
                   for side in ("parent", "change")}
            for name in names}


def run_pairs(sides, workload, seeds, seconds, trace):
    """One run per side per seed, the side that goes first alternating."""
    pairs = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            r = run_once(sides[side], workload, seed, seconds, trace)
            pair[side] = r
            vals = " ".join(f"{k}={v['value']:.4g}"
                            for k, v in ((r["line"] or {}).get("metrics") or {}).items())
            print(f"seed={seed} {side:6s} trace={trace} rc={r['rc']} wall={r['wall_s']:.0f}s "
                  f"correct={(r['line'] or {}).get('correct')} steal={share(r['steal_share'])} {vals}",
                  flush=True)
        pairs.append(pair)
    return pairs


def report_bad(pairs, what):
    """List the runs that failed or were not correct; True when there were any."""
    bad = [(p["seed"], side) for p in pairs for side in ("parent", "change")
           if p[side]["rc"] != 0 or not p[side]["line"] or not p[side]["line"].get("correct")]
    if bad:
        print(f"\nnot summarized: {what} that failed or were not correct:")
        for seed, side in bad:
            print(f"  seed {seed} {side}: " + " | ".join(
                next(p for p in pairs if p["seed"] == seed)[side]["stderr_tail"]))
    return bool(bad)


def summarize_layers(traced):
    """Each side's median of every per-layer metric all traced runs report."""
    runs = [p[side]["line"]["metrics"] for p in traced for side in ("parent", "change")]
    names = sorted(set.intersection(*(set(r) for r in runs))) if runs else []
    return {name: {side: statistics.median(p[side]["line"]["metrics"][name]["value"]
                                           for p in traced)
                   for side in ("parent", "change")}
            for name in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per side after the pairs (per-layer medians, no verdict)")
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for side, checkout in sides.items():
        foreign = foreign_classes(checkout)
        if foreign:
            print(f"refused: the {side} side's build names classes outside {checkout}: "
                  f"{', '.join(foreign)}. It was copied with another checkout's build; "
                  f"delete {os.path.join(checkout, '.bench_build')}/ and run again.",
                  file=sys.stderr)
            sys.exit(2)
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"], m["bound"]) for m in json.load(f)["end_to_end"]]
    seeds = seeds_of(a.seeds)
    if len(seeds) < MIN_PAIRS:
        print(f"note: {len(seeds)} pairs; the gain rule needs at least {MIN_PAIRS}",
              flush=True)
    if len(seeds) % 2:
        print(f"warning: {len(seeds)} pairs is odd: the parent runs first in one more pair "
              f"than the change, so a second-place advantage favors the change; use an even "
              f"number of pairs", flush=True)

    pairs = run_pairs(sides, a.workload, seeds, a.seconds, 0)

    def save(traced):
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "seconds": a.seconds, "sides": sides,
                           "pairs": pairs, "traced": traced}, f, indent=1)

    save([])
    if report_bad(pairs, "runs"):
        sys.exit(1)

    summary = summarize(pairs, metrics)
    print(f"\n== {a.workload}: {len(pairs)} pairs, --seconds {a.seconds}, every run correct")
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        print(f"  {name:8s} parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]  "
              f"change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]  "
              f"{s['change_pct']:+.1f}%  wins {s['wins']}/{s['pairs']}  "
              f"parent IQR {s['parent_iqr']:.4g}  gain rule {'holds' if s['gain_rule'] else 'fails'}  "
              f"no regression (bound {s['bound']:g}): {s['verdict']}")
    print("  median by position in the pair, first / second (n runs):")
    for name, s in summary.items():
        pos = s["by_position"]

        def cell(key):
            m = pos[key]["median"]
            return f"{'n/a' if m is None else f'{m:.4g}'} (n={pos[key]['n']})"
        print(f"    {name:8s} parent {cell('parent_first')} / {cell('parent_second')}  "
              f"change {cell('change_first')} / {cell('change_second')}")
    print("  steal_share per pair (parent / change):")
    for p in pairs:
        print(f"    seed {p['seed']} ({p['first']} first): "
              f"{share(p['parent']['steal_share'])} / {share(p['change']['steal_share'])}")
    print("  detail figures, median [q1, q3] (ungated, no verdict):")
    for name, s in summarize_detail(pairs).items():
        p, c = s["parent"], s["change"]
        print(f"    {name:24s} parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]  "
              f"change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]")

    if a.traced > 0:
        traced = run_pairs(sides, a.workload, seeds[:a.traced], a.seconds, 1)
        save(traced)
        if report_bad(traced, "traced runs"):
            sys.exit(1)
        print(f"\n== {len(traced)} traced run(s) per side, per-layer metrics, "
              f"median (no verdict):")
        for name, m in summarize_layers(traced).items():
            print(f"    {name:32s} parent {m['parent']:.6g}  change {m['change']:.6g}")


if __name__ == "__main__":
    main()
