#!/usr/bin/env python3
"""Summarise or compare sets of benchmark runs.

    python3 perfbench/compare.py RUNS              # one set: median, IQR, spread vs bound
    python3 perfbench/compare.py PARENT CHANGE     # two sets: paired verdict per workload x metric

RUNS, PARENT and CHANGE are directories of run artifacts (perfbench/runs/
after `run.py`) or artifact files. Untraced runs (--trace 0) give the
end-to-end metrics; traced runs of the same set give the tracing overhead
(traced minus untraced median, from the end-to-end numbers both record).

Two sets are compared per workload and metric with a paired rule:
runs are paired in the order they were made (run them alternating); the
change wins a pair when its value is better. A gain needs >= 9/10 of the
pairs won and a median difference larger than the parent's IQR. A
regression is a change median worse than the parent's by more than the
metric's bound. A metric whose spread (IQR / median) in either set exceeds
its bound is reported as unresolved instead, unless every change run beats
every parent run. The canary series and host fields of both sets are
printed, so two sets run on different hosts or windows can be told apart.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"]}


def load_runs(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "result" in a and "detail" in a:
            runs.append(a)
    runs.sort(key=lambda a: a.get("started", 0))
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def series(runs, workload, metric, trace=0):
    return [a["detail"]["e2e"][metric] for a in runs
            if a["workload"] == workload and a["trace"] == trace and metric in a["detail"].get("e2e", {})]


def host_line(runs):
    if not runs:
        return "no runs"
    h = runs[0]["host"]
    canary = statistics.median([statistics.median(a["host"]["canary_s"]) for a in runs])
    steal = statistics.median([a["host"].get("steal_share", 0.0) for a in runs])
    failed = sum(a["result"]["failed"] for a in runs)
    attempted = sum(a["result"]["attempted"] for a in runs)
    return (f"{len(runs)} runs, nproc={h['nproc']} mem={h['mem_total_mb']}MB heap={h['heap']} "
            f"spark={h.get('spark')} jdk='{h['jdk']}' canary_median={canary:.4f}s steal_median={steal:.4f} "
            f"failed/attempted={failed}/{attempted}")


def summary(runs, bench):
    print(host_line(runs))
    ok = True
    for w in sorted({a["workload"] for a in runs}):
        for name, m in bench.items():
            v = series(runs, w, name)
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ("ok" if spread <= m["bound"] / 3 else
                    "WITHIN-BOUND" if spread <= m["bound"] else "UNSTEADY")
            ok &= flag != "UNSTEADY"
            traced = series(runs, w, name, trace=1)
            over = f" tracing_overhead={statistics.median(traced) - med:+.4g}" if traced else ""
            print(f"{w:16s} {name:22s} n={len(v):2d} median={med:.6g} {m['unit']} IQR={q3 - q1:.4g} "
                  f"spread={spread:.3f} bound={m['bound']} {flag}{over}")
    return ok


def compare(parent, change, bench):
    print("parent:", host_line(parent))
    print("change:", host_line(change))
    for w in sorted({a["workload"] for a in parent} & {a["workload"] for a in change}):
        for name, m in bench.items():
            p, c = series(parent, w, name), series(change, w, name)
            if not p or not c:
                continue
            lower = m["better"] == "lower"
            better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            pairs = list(zip(p, c))
            wins = sum(better(cv, pv) for pv, cv in pairs)
            pq1, pmed, pq3 = quartiles(p)
            cq1, cmed, cq3 = quartiles(c)
            spread = max((pq3 - pq1) / pmed if pmed else 0, (cq3 - cq1) / cmed if cmed else 0)
            worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
            all_better = all(better(cv, pv) for cv in c for pv in p)
            if spread > m["bound"] and not all_better:
                verdict = "unresolved (spread above bound)"
            elif wins >= 0.9 * len(pairs) and abs(cmed - pmed) > (pq3 - pq1) and better(cmed, pmed):
                verdict = "GAIN"
            elif worse > m["bound"]:
                verdict = "REGRESSION"
            else:
                verdict = "no change beyond bound"
            print(f"{w:16s} {name:22s} parent={pmed:.6g} [{pq1:.4g},{pq3:.4g}] change={cmed:.6g} "
                  f"[{cq1:.4g},{cq3:.4g}] wins={wins}/{len(pairs)} worse_by={worse:+.3f} "
                  f"bound={m['bound']} -> {verdict}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    bench = load_bench()
    if len(sys.argv) == 2:
        sys.exit(0 if summary(load_runs(sys.argv[1]), bench) else 1)
    compare(load_runs(sys.argv[1]), load_runs(sys.argv[2]), bench)


if __name__ == "__main__":
    main()
