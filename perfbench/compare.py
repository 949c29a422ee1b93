#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py RUNS_A RUNS_B

RUNS_A and RUNS_B are directories of per-run artifacts as run.py writes them
to perfbench/results/ (move each set into its own directory). For every
workload and metric it prints each set's median and quartiles with the run
count, the change of the median from A to B, and for the end-to-end metrics
whether the two medians agree within the bound BENCHMARK.json sets, in either
direction. It also prints the
tracing overhead: the median of the traced runs' wall and CPU time less the
median of the untraced runs'. Exits 1 if an end-to-end metric of B is worse
than A's by more than its bound.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """{(workload, traced): {metric: [values]}} plus units."""
    runs, units = {}, {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            a = json.load(fh)
        key = (a["workload"], bool(a["trace"]))
        for name, m in a["metrics"].items():
            if m["value"] is not None:
                runs.setdefault(key, {}).setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
    return runs, units


def summary(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def fmt(values):
    if not values:
        return "-"
    q1, med, q3 = summary(values)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(values)}"


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    a, units = load(sys.argv[1])
    b, units_b = load(sys.argv[2])
    units.update(units_b)
    worse = False
    for workload in sorted({k[0] for k in list(a) + list(b)}):
        for traced in (False, True):
            ma, mb = a.get((workload, traced), {}), b.get((workload, traced), {})
            if not ma and not mb:
                continue
            print(f"\n== {workload} ({'traced' if traced else 'untraced'} runs)")
            print(f"{'metric':34s} {'unit':10s} {'A median [q1, q3]':32s} "
                  f"{'B median [q1, q3]':32s} change  verdict")
            for name in sorted(set(ma) | set(mb), key=lambda n: (n not in bounds, n)):
                va, vb = ma.get(name, []), mb.get(name, [])
                change, verdict = "", ""
                if va and vb:
                    meda, medb = statistics.median(va), statistics.median(vb)
                    if meda:
                        rel = (medb - meda) / abs(meda)
                        change = f"{rel:+.1%}"
                        spec_m = bounds.get(name) if not traced else None
                        if spec_m:
                            bound = spec_m["bound"]
                            bad = rel > bound if spec_m["better"] == "lower" else rel < -bound
                            verdict = "WORSE" if bad else \
                                "disagree (better)" if abs(rel) > bound else "agree"
                            verdict += f" (bound {bound:.0%})"
                            worse |= bad
                print(f"{name:34s} {units.get(name, ''):10s} {fmt(va):32s} {fmt(vb):32s} "
                      f"{change:7s} {verdict}")
        for label, runs in (("A", a), ("B", b)):
            plain, traced = runs.get((workload, False), {}), runs.get((workload, True), {})
            for base, tr in (("wall_s", "trace.wall_s"), ("cpu_s", "trace.cpu_s")):
                if plain.get(base) and traced.get(tr):
                    over = statistics.median(traced[tr]) - statistics.median(plain[base])
                    print(f"tracing overhead {label} {base}: {over:+.3f} s "
                          f"({over / statistics.median(plain[base]):+.1%})")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
