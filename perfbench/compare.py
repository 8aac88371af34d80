#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py SET_A [SET_B]

A set is a directory of result files as `run.py` leaves them in
perfbench/.work/results (`<workload>-t<trace>-s<seed>.json`); copy that
directory away between the two sets. For every workload x metric this
prints the median and quartiles of each set, the spread (interquartile
range over median), and, given two sets, whether B is within the
metric's bound of A in BENCHMARK.json. Per-layer metrics have no bound
and are shown without a verdict. Exit code 1 when a bounded metric
disagrees or spreads past its bound.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(set_dir):
    """{(workload, trace): {metric: [values]}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        bucket = out.setdefault((r["workload"], r["trace"]), {})
        for k, v in r["metrics"].items():
            bucket.setdefault(k, []).append(v)
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def bounds():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def worse_by(a_med, b_med, better):
    """How much worse B is than A, as a share of A (negative = better)."""
    delta = (b_med - a_med) / a_med
    return delta if better == "lower" else -delta


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(d) for d in argv[1:]]
    spec = bounds()
    bad = 0
    for key in sorted(set().union(*sets)):
        workload, trace = key
        print(f"== {workload} ({'traced' if trace else 'untraced'})")
        metrics = sorted(set().union(*(s.get(key, {}) for s in sets)))
        for m in metrics:
            cells, meds = [], []
            for s in sets:
                vs = s.get(key, {}).get(m)
                if not vs:
                    cells.append(f"{'-':>38}")
                    meds.append(None)
                    continue
                q1, med, q3 = quartiles(vs)
                meds.append(med)
                cells.append(f"{med:>12.4f} [{q1:.4f}, {q3:.4f}] n={len(vs)}")
            verdict = ""
            b = spec.get(m) if not trace else None
            if b:
                for s in sets:
                    vs = s.get(key, {}).get(m)
                    if vs and m != "setup_s" and spread(vs) > b["bound"]:
                        verdict += f" spread {spread(vs):.3f} > {b['bound']}"
                        bad += 1
                if len(sets) == 2 and None not in meds:
                    w = worse_by(meds[0], meds[1], b["better"])
                    ok = w <= b["bound"]
                    bad += not ok
                    verdict += f" B {'agrees' if ok else 'DISAGREES'} ({w:+.3f} vs bound {b['bound']})"
            print(f"  {m:<26}" + " | ".join(cells) + verdict)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
