#!/usr/bin/env python3
"""Compare two sets of benchmark results (Python standard library only).

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py --trace BASE_DIR CHANGE_DIR

A result set is a directory of the files run.py leaves in .bench_out/
(copy it aside between the two commits). Runs are paired by workload and
seed.

Without --trace, for every workload and end-to-end metric it prints each
side's median and quartiles, the share of seed pairs the change wins (ties
count for neither side) and a verdict, with the bounds of BENCHMARK.json:

- improved: the change wins at least 9 in 10 pairs and the medians differ by
  more than the base's own spread (the distance between its quartiles);
- worse: the change's median is worse than the base's by more than the bound;
- unresolved: either side's spread is wider than the bound, unless every
  change run reads better than every base run;
- unchanged: otherwise.

With --trace it diffs the traced runs layer by layer: the mean per op of
every counter of every span name (ingest.batch, etl.merge_write, star.load,
query, queries.build, queries.execute, ...), base against change.
"""
import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_results(d: str, trace: int) -> dict:
    """{(workload, seed): file contents} of one result set."""
    out = {}
    for f in glob.glob(os.path.join(d, f"*-trace{trace}.json")):
        r = json.load(open(f))
        out[(r["workload"], r["seed"])] = r
    return out


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(base, change, better: str, bound: float) -> tuple:
    """(win fraction, verdict) of paired values; `better` is lower|higher."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for a, b in zip(base, change) if sign * (b - a) < 0)
    win_frac = wins / len(base)
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    worse_by = sign * (cmed - bmed) / bmed if bmed else 0.0
    spread = max((bq3 - bq1) / bmed if bmed else 0.0, (cq3 - cq1) / cmed if cmed else 0.0)
    all_better = (max(change) < min(base)) if sign > 0 else (min(change) > max(base))
    if win_frac >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        return win_frac, "improved"
    if worse_by > bound:
        return win_frac, "worse"
    if spread > bound and not all_better:
        return win_frac, "unresolved"
    return win_frac, "unchanged"


def compare_results(base_dir: str, change_dir: str):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    base, change = load_results(base_dir, 0), load_results(change_dir, 0)
    keys = sorted(set(base) & set(change))
    if not keys:
        raise SystemExit("no (workload, seed) pair is in both result sets")
    print(f"{'workload':16s} {'metric':14s} {'unit':6s} {'base q1/med/q3':>28s} "
          f"{'change q1/med/q3':>28s} {'wins':>5s} {'n':>3s}  verdict")
    for w in sorted({k[0] for k in keys}):
        pairs = [k for k in keys if k[0] == w]
        for m in spec["end_to_end"]:
            # results written before a metric existed do not take part
            ks = [k for k in pairs if m["name"] in base[k]["result"]["metrics"]
                  and m["name"] in change[k]["result"]["metrics"]]
            if not ks:
                continue
            a = [base[k]["result"]["metrics"][m["name"]]["value"] for k in ks]
            b = [change[k]["result"]["metrics"][m["name"]]["value"] for k in ks]
            win, v = verdict(a, b, m["better"], m["bound"])
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"{w:16s} {m['name']:14s} {m['unit']:6s} {fa:>28s} {fb:>28s} "
                  f"{win:5.2f} {len(ks):3d}  {v}")
        fails = [k for k in pairs if not change[k]["result"]["correct"]]
        if fails:
            print(f"{w:16s} change runs with failed ops: seeds {[k[1] for k in fails]}")


def span_means(d: str) -> dict:
    """{workload: {span name: {counter: mean per span}}} over a set's traces."""
    out = {}
    for f in glob.glob(os.path.join(d, "*-trace1.trace.json")):
        w = os.path.basename(f).split("-seed")[0]
        for s in json.load(open(f))["spans"]:
            agg = out.setdefault(w, {}).setdefault(s["name"], {})
            for k, v in s.items():
                if isinstance(v, (int, float)) and k not in ("id", "op", "parent", "start_ms", "end_ms"):
                    agg.setdefault(k, []).append(v)
    return {w: {n: {k: statistics.fmean(v) for k, v in c.items()} for n, c in spans.items()}
            for w, spans in out.items()}


def compare_traces(base_dir: str, change_dir: str):
    base, change = span_means(base_dir), span_means(change_dir)
    print(f"{'workload':16s} {'span':20s} {'counter':16s} {'base':>12s} {'change':>12s} {'delta':>8s}")
    for w in sorted(set(base) & set(change)):
        for name in sorted(set(base[w]) & set(change[w])):
            for c in sorted(base[w][name]):
                a, b = base[w][name][c], change[w][name].get(c, 0.0)
                if a == 0 and b == 0:
                    continue
                delta = f"{(b - a) / a:+.1%}" if a else "new"
                print(f"{w:16s} {name:20s} {c:16s} {a:12.4f} {b:12.4f} {delta:>8s}")


def main():
    ap = argparse.ArgumentParser(description="Compare two benchmark result sets.")
    ap.add_argument("--trace", action="store_true", help="diff traced runs layer by layer")
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args()
    (compare_traces if a.trace else compare_results)(a.base, a.change)


if __name__ == "__main__":
    main()
