#!/usr/bin/env python3
"""CDC-initialization benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run starts one
JVM (Spark local[<cores>]), which sets up, warms up, measures a fixed
amount of work sized from --seconds, and checks the outputs. The last
line of stdout is one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Workload figures, host probes, the share of CPU time the hypervisor
gave to other guests during the run (steal_share) and the run document
go to stderr and to .bench_build/runs/.

Input tables are the read-only parquet test data, looked up under
$PERFBENCH_DATA or ~/testdata (one directory per scale factor).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("seed_bulk", "control_churn", "seed_jdbc", "query_mix")
# scale factor of the input tables, per workload
SCALE = {"seed_bulk": "sf0.01", "control_churn": "sf0.01", "seed_jdbc": "sf0.01",
         "query_mix": "sf0.01"}
E2E = (("setup_s", "s"), ("pass_s", "s"), ("op_s", "s"))
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
JVM_OPTS = [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("busy_frac", "task_skew")):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def cpu_ticks():
    """The machine's CPU time counters (/proc/stat), or None where the
    file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings (field 8 of /proc/stat's cpu line)."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def source_stamp(root):
    h = hashlib.sha1()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        full = os.path.join(root, base)
        paths = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compiles program + harness; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                        "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [ln.strip() for ln in f if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def data_dir(scale):
    base = os.environ.get("PERFBENCH_DATA") or os.path.expanduser("~/testdata")
    d = os.path.join(base, scale)
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"input tables not found under {d}")
    return d


def oracle_check(doc, work, scale):
    """Hashes each query_mix result and compares it with the oracle
    hashes recorded from DuckDB. Returns (attempted, failed, problems)."""
    import pandas as pd
    from qhash import frame_hash
    with open(os.path.join(HERE, "oracle", scale + ".json")) as f:
        expected = json.load(f)["hashes"]
    attempted = failed = 0
    problems = []
    for q in sorted(expected):
        attempted += 1
        path = os.path.join(work, "query-results", q)
        try:
            got = frame_hash(pd.read_parquet(path))
        except Exception as e:  # missing or unreadable result
            got = f"unreadable: {e}"
        if got != expected[q]:
            failed += 1
            problems.append(f"query {q} result differs from the oracle")
    return attempted, failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a checkout: program sources not found")
    out = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(out, "runs"), exist_ok=True)
    scale = SCALE[a.workload]
    data = data_dir(scale)
    b0 = time.time()
    classpath = build(root, out)
    budget = RUN_LIMIT_S - (b0 - t0) - 5

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    doc_path = os.path.join(work, "run.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    cmd = [java] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "tmp"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", doc_path]
    log = os.path.join(out, "runs", tag + ".log")
    ticks = cpu_ticks()
    with open(log, "w") as f:
        rc = run_group(cmd, budget, env=env, stdout=f, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, cwd=work)
    steal = steal_share(ticks, cpu_ticks())
    if rc != 0 or not os.path.exists(doc_path):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {rc}); see {log}")
    with open(doc_path) as f:
        doc = json.load(f)
    if steal is not None:
        doc["host"]["steal_share"] = steal

    attempted, failed = doc["attempted"], doc["failed"]
    problems = list(doc["problems"])
    if a.workload == "query_mix":
        qa, qf, qp = oracle_check(doc, work, scale)
        attempted, failed, problems = attempted + qa, failed + qf, problems + qp
    doc["oracle_problems"] = problems

    if a.trace:
        names = sorted(doc["layer"])
        metrics = {n: {"value": doc["layer"][n], "unit": layer_unit(n)} for n in names}
    else:
        metrics = {n: {"value": doc["e2e"][n]["value"], "unit": u} for n, u in E2E}
    bad = [n for n, m in metrics.items() if not isinstance(m["value"], (int, float))]
    if bad:
        problems.append(f"metrics without a value: {bad}")
        failed += 1
        attempted += 1
    for trace in ("trace-%s-%d.jsonl" % (a.workload, a.seed),):
        if os.path.exists(os.path.join(work, trace)):
            shutil.copy(os.path.join(work, trace), os.path.join(out, "runs", tag + ".spans.jsonl"))
    with open(os.path.join(out, "runs", tag + ".json"), "w") as f:
        json.dump(doc, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for section in ("e2e", "detail"):
        for n, m in doc[section].items():
            print(f"{a.workload} {n} = {m['value']} {m['unit']}", file=sys.stderr)
    print(f"{a.workload} fail_rate = {failed / max(1, attempted)} "
          f"({failed}/{attempted}); host = {doc['host']}", file=sys.stderr)
    for p in problems:
        print(f"FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
