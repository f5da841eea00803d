#!/usr/bin/env python3
"""Compare the benchmark runs of two commits.

    python3 perfbench/compare.py BASE_RECORDS CHANGE_RECORDS

Each argument is a records directory that run.py wrote
(.bench_build/perfbench/records in the checkout of that commit). Run the
two sides alternately (base, change, change, base, ...) with the same
seeds; runs pair up in the order they were made.

For every workload and end-to-end metric it prints each side's median
and quartiles, the share of pairs the change wins (ties count for
neither side) and a verdict by these rules:

  gain        the change wins at least 9 pairs in 10 and the medians differ
              by more than the base's own quartile distance;
  unresolved  the base's quartile distance, as a share of its median,
              exceeds the bound, and not every change run beats every base run;
  worse       the change's median is worse than the base's by more than the
              metric's bound in BENCHMARK.json;
  same        none of these.

Then it prints each op's median latency on both sides and its share of
the base's timed section, and the per-layer medians of the traced runs,
their change, and the prediction of perfbench/predictions.json for each
layer metric.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(records_dir):
    runs = []
    for p in glob.glob(os.path.join(records_dir, "*.json")):
        with open(p) as f:
            r = json.load(f)
        if "end_to_end" in r and not r.get("selftest"):
            runs.append(r)
    return sorted(runs, key=lambda r: (r["utc"], r["seed"]))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def value(rec, section, name):
    v = rec[section].get(name)
    if v is None:
        return None
    return v[0] if isinstance(v, list) else v


def verdict(base, change, better, bound):
    q1, med, q3 = quartiles(base)
    c1, cmed, c3 = quartiles(change)
    sign = 1 if better == "lower" else -1
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    spread = 0.0 if q3 == q1 else (q3 - q1) / abs(med) if med else float("inf")
    all_better = max(change) < min(base) if better == "lower" else min(change) > max(base)
    if win_frac >= 0.9 and abs(cmed - med) > (q3 - q1):
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif sign * (cmed - med) > bound * abs(med):
        v = "worse"
    else:
        v = "same"
    return (q1, med, q3), (c1, cmed, c3), win_frac, spread, v


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    preds_path = os.path.join(HERE, "predictions.json")
    preds = {}
    if os.path.exists(preds_path):
        with open(preds_path) as f:
            for row in json.load(f)["rows"]:
                text = f"moves {row['moves']}" + (f"; flat on {row['flat']}" if row["flat"] else "")
                preds.update({m: text for m in row["metrics"]})
    base, change = load(sys.argv[1]), load(sys.argv[2])
    e2e = bench["end_to_end"]
    # recorded but not gated: too noisy on lakehouse, or absent on analytics
    extra = ["op_p50_ms", "op_tail_ms", "read_p50_ms", "read_tail_ms", "write_p50_ms",
             "write_tail_ms", "write_amp", "space_amp", "ops_failed_ratio"]
    for w in [x["name"] for x in bench["workloads"]]:
        b0 = [r for r in base if r["workload"] == w and not r["trace"]]
        c0 = [r for r in change if r["workload"] == w and not r["trace"]]
        print(f"== {w}: {len(b0)} base runs, {len(c0)} change runs (untraced)")
        if not b0 or not c0:
            continue
        print(f"{'metric':22} {'base q1/med/q3':>32} {'change q1/med/q3':>32} {'win':>5} {'spread':>7}  verdict")
        for m in e2e + [{"name": n, "better": "lower", "bound": 0.25} for n in extra]:
            bv = [value(r, "end_to_end", m["name"]) for r in b0]
            cv = [value(r, "end_to_end", m["name"]) for r in c0]
            if any(v is None for v in bv + cv):
                continue
            (q1, med, q3), (c1, cmed, c3), win, spread, v = verdict(bv, cv, m["better"], m["bound"])
            note = "" if m in e2e else " (not gated)"
            print(f"{m['name']:22} {q1:10.4g}/{med:10.4g}/{q3:10.4g} {c1:10.4g}/{cmed:10.4g}/{c3:10.4g} "
                  f"{win:5.2f} {spread:7.3f}  {v}{note}")
        for side, runs in (("base", b0), ("change", c0)):
            loads = [(r["load_before"], r["load_after"]) for r in runs]
            print(f"   {side} load (before, after): {loads}")
        print(f"-- {w} per op: median ms base -> change, and share of the base's wall_s")
        wall = sum(value(r, "end_to_end", "wall_s") for r in b0) * 1e3
        for name in sorted({o["name"] for r in b0 for o in r["ops"]}):
            bo = [o["dur_ms"] for r in b0 for o in r["ops"] if o["name"] == name]
            co = [o["dur_ms"] for r in c0 for o in r["ops"] if o["name"] == name]
            bm = statistics.median(bo)
            cm = f"{statistics.median(co):10.1f}" if co else "       n/a"
            print(f"   {name:24} {bm:10.1f} -> {cm}  {sum(bo) / wall:6.1%}")
        b1 = [r for r in base if r["workload"] == w and r["trace"]]
        c1 = [r for r in change if r["workload"] == w and r["trace"]]
        if b1 and c1:
            print(f"-- {w} per layer (traced runs: {len(b1)} base, {len(c1)} change)")
            tb = statistics.median(value(r, "end_to_end", "wall_s") for r in b1)
            ub = statistics.median(value(r, "end_to_end", "wall_s") for r in b0)
            print(f"   tracing overhead on base: traced wall_s {tb:.3f} - untraced {ub:.3f} = {tb - ub:+.3f} s")
            for name in sorted(b1[0]["per_layer"]):
                bv = [value(r, "per_layer", name) for r in b1]
                cv = [value(r, "per_layer", name) for r in c1]
                bm, cm = statistics.median(bv), statistics.median(cv)
                rel = f"{(cm - bm) / bm:+8.1%}" if bm else "     n/a"
                pred = preds.get(name, "")
                print(f"   {name:36} {bm:12.5g} -> {cm:12.5g} {rel}  {pred}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
