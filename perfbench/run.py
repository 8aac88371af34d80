#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload marts|cdc|corpus --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the harness with sbt (cached under perfbench/.work until a source file
changes); inputs come from the seed (gen.py), output references from
DuckDB and a latest-wins model (refs.py). The harness JVM then sets up
three times, runs one untimed warm-up pass, then whole passes of the
workload for at least S seconds and writes a raw record, which this script turns into metrics. The last
stdout line is the result JSON; with --trace 1 the metrics are the
per-layer ones and a per-layer table is printed above it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import refs  # noqa: E402

WORK = os.path.join(BENCH, ".work")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a rebuild follows any edit."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root):
    """Compile graft and the harness; return (classpath, stamp)."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("no graft sources under src/main/scala: run from a graft checkout")
    stamp = source_stamp(root)
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    log("building graft and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    for old in glob.glob(os.path.join(out, "*.txt")) + glob.glob(os.path.join(out, "*.json")):
        os.remove(old)
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, stamp


def fresh_dir(path):
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


def cached(path, make):
    """`make(path)` once; a `.done` marker makes the directory reusable."""
    if not os.path.exists(os.path.join(path, ".done")):
        fresh_dir(path)
        make(path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def keep_only(pattern, keep):
    """Drop other seeds' cached directories so the cache stays small."""
    for d in glob.glob(pattern):
        if os.path.abspath(d) != os.path.abspath(keep):
            shutil.rmtree(d, ignore_errors=True)


def java_cmd(cp, *args, props=()):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap with a fixed young generation: the peak resident
    # set then follows what the program keeps, not the collector's sizing
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", *opens,
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
             *[f"-D{k}={v}" for k, v in props], "-cp", cp, "graftbench.Main", *args])


def run_java(cmd, log_path, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cwd = fresh_dir(os.path.join(WORK, "cwd"))
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out after {timeout} s (log: {log_path})")
        finally:
            # also on SIGTERM (see main): the JVM never outlives this script
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"harness exited with {rc}")


def oracle_refs(cp, stamp, kind, data_dir, out_dir):
    """DuckDB runs of the oracle SQL graft registers for `kind`'s entries."""
    def make(path):
        sql_file = os.path.join(WORK, "build", f"oracles-{kind}-{stamp}.json")
        if not os.path.exists(sql_file):
            run_java(java_cmd(cp, "--oracles", kind, sql_file),
                     os.path.join(WORK, "oracles.log"), 120)
        with open(sql_file) as f:
            refs.oracle_refs(data_dir, json.load(f), path)
    return cached(out_dir, make)


def prepare(wl, seed, cp, stamp):
    """Generate inputs and references (outside every metric). Each is
    cached under a name holding what it depends on: the seed, the
    generator and reference code and, for oracles, the build."""
    h = hashlib.sha256()
    for f in ("gen.py", "refs.py"):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    code = h.hexdigest()[:8]

    def slot(sub, key):
        path = os.path.join(WORK, sub, f"{wl}-{key}")
        keep_only(os.path.join(WORK, sub, f"{wl}-*"), path)
        return path

    if wl in ("marts", "corpus"):
        def make(p):
            if wl == "marts":
                gen.gen_marts(p, seed)
                gen.gen_corpus(p, seed, gen.MARTS_CORPUS_SIZES)
            else:
                gen.gen_corpus(p, seed)
        data = cached(slot("inputs", f"{seed}-{code}"), make)
        ref = oracle_refs(cp, stamp, wl, data, slot("refs", f"{seed}-{code}-{stamp}"))
        return data, ref, {"graftbench.docs": gen.CORPUS_SIZES["docs"]}
    data = cached(slot("inputs", f"{seed}-{code}"), lambda p: gen.gen_cdc(p, seed))
    ref = cached(slot("refs", f"{seed}-{code}"),
                 lambda p: refs.cdc_refs(data, os.path.join(p, "cdc.json")))
    return data, ref, {}


def step_medians(steps):
    """{step name: median latency in seconds over the window's passes}."""
    by_name = {}
    for s in steps:
        by_name.setdefault(s["name"], []).append((s["t1"] - s["t0"]) / 1e9)
    return {n: statistics.median(v) for n, v in by_name.items()}


def pass_wall(steps, medians):
    """Seconds for one complete pass: each step's median latency times
    how often it occurs in a pass."""
    first = min(s["pass"] for s in steps)
    per_pass = Counter(s["name"] for s in steps if s["pass"] == first)
    return sum(medians[n] * k for n, k in per_pass.items())


def interquartile_mean(xs):
    """Mean of the middle half of `xs` (a quarter dropped at each end)."""
    xs = sorted(xs)
    k = len(xs) // 4
    return statistics.fmean(xs[k:len(xs) - k])


def slowest_step(medians):
    """(name, seconds) of the step with the highest median latency."""
    return max(medians.items(), key=lambda kv: (kv[1], kv[0]))


def end_to_end(rec):
    steps = rec["steps"]
    lat = [(s["t1"] - s["t0"]) / 1e6 for s in steps]
    passes = [(b - a) / 1e9 for a, b in rec["passes"]]
    medians = step_medians(steps)
    tail_name, tail_s = slowest_step(medians)
    return {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "wall_s": (pass_wall(steps, medians), "s"),
        "step_iqm_ms": (interquartile_mean(lat), "ms"),
        "step_tail_ms": (tail_s * 1e3, "ms"),
        "items_per_s": (sum(s["items"] for s in steps) / sum(passes), "1/s"),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
    }, {"tail_step": tail_name, "steps": len(lat), "passes": len(passes)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["marts", "cdc", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit so the `finally` blocks stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    cp, stamp = build(root)
    data, ref, props = prepare(a.workload, a.seed, cp, stamp)
    t1 = time.time()
    run_dir = fresh_dir(os.path.join(WORK, "run"))
    out = os.path.join(WORK, "record.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = java_cmd(cp, a.workload, str(a.seconds), str(a.trace), data, ref,
                   run_dir, out, props=props.items())
    run_java(cmd, os.path.join(WORK, f"{a.workload}.log"), JVM_TIMEOUT_S)
    log(f"build, inputs and references {t1 - t0:.1f} s; harness {time.time() - t1:.1f} s")
    with open(out) as f:
        rec = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    for s in rec["steps"]:
        if s["error"]:
            log(f"step {s['name']} (pass {s['pass']}) failed: {s['error']}")
    e2e, info = end_to_end(rec)
    if a.trace:
        table, metrics = layers.analyse(rec, e2e["wall_s"][0])
        untraced = layers.latest_untraced(os.path.join(WORK, "results"), a.workload)
        overhead = None if untraced is None else e2e["wall_s"][0] - untraced
        print(layers.render(a.workload, table, metrics, rec["cores"], e2e["wall_s"][0], overhead))
        report = metrics
    else:
        report = e2e
        for k, (v, u) in e2e.items():
            print(f"{a.workload} {k} = {v:.4f} {u}")
        print(f"{a.workload} step_tail_ms is the median of {info['tail_step']}; "
              f"{info['steps']} steps in {info['passes']} passes; "
              f"fail_frac = {rec['failed']}/{rec['attempted']}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-t{a.trace}-s{a.seed}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "info": info,
                   "attempted": rec["attempted"], "failed": rec["failed"],
                   "metrics": {k: v for k, (v, _) in report.items()},
                   "wall_s": e2e["wall_s"][0]}, f)
    print(json.dumps({
        "correct": rec["failed"] == 0, "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))


if __name__ == "__main__":
    main()
