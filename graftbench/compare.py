#!/usr/bin/env python3
"""Collects benchmark series and compares two of them.

    # ten runs of one workload, one seed each, appended as JSON lines
    python3 graftbench/compare.py collect --workload pbf_etl --seeds 1-10 --out a.jsonl

    # spread of each end-to-end metric in one series (quartile distance / median)
    python3 graftbench/compare.py spread a.jsonl

    # base vs change, per workload and metric
    python3 graftbench/compare.py diff base.jsonl change.jsonl

`diff` prints both sides' medians and quartiles. When the change has more
incorrect runs or failed operations than the base on a workload, every
metric of that workload is `failed runs`. Otherwise a metric whose spread on
either side exceeds its bound (BENCHMARK.json) is `unresolved`, not
`unchanged`, unless every run of one side beats every run of the other.
Otherwise a change is `worse` when its median is worse than the base's by
more than the bound, `better` when it is better by more than the base's own
spread, and `unchanged` in between.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def spec():
    with open(SPEC) as f:
        s = json.load(f)
    return {m["name"]: m for m in s["end_to_end"]}, s["run_seconds"]


def load(path):
    """(workload -> metric -> [values], workload -> [incorrect runs, failed
    operations]); failed or incorrect runs are also reported."""
    out, bad = {}, {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            res = r["result"]
            b = bad.setdefault(r["workload"], [0, 0])
            b[0] += not res.get("correct")
            b[1] += res.get("failed", 0)
            if not res.get("correct") or res.get("failed"):
                print("note: %s seed %s: correct=%s failed=%s" % (
                    r["workload"], r.get("seed"), res.get("correct"), res.get("failed")))
            for name, m in res["metrics"].items():
                out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return out, bad


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def cmd_collect(a):
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    _, seconds = spec()
    for seed in seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit("run failed: workload %s seed %d" % (a.workload, seed))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(a.out, "a") as f:
            f.write(json.dumps(dict(workload=a.workload, seed=seed, wall_s=time.time() - t0,
                                    result=res)) + "\n")
        print("%s seed %d: %.1f s" % (a.workload, seed, time.time() - t0))


def cmd_spread(a):
    metrics, _ = spec()
    for w, ms in sorted(load(a.file)[0].items()):
        for name, xs in sorted(ms.items()):
            q1, q2, q3 = quartiles(xs)
            bound = metrics.get(name, {}).get("bound")
            s = spread(xs)
            flag = "" if bound is None or s <= bound / 3 else \
                ("  > bound/3" if s <= bound else "  > BOUND")
            print("%-12s %-14s n=%-3d median %-12.6g q1 %-12.6g q3 %-12.6g spread %.4f%s" % (
                w, name, len(xs), q2, q1, q3, s, flag))


def cmd_diff(a):
    metrics, _ = spec()
    (base, bad_a), (change, bad_b) = load(a.base), load(a.change)
    for w in sorted(set(base) | set(change)):
        print("== %s" % w)
        ia, fa = bad_a.get(w, [0, 0])
        ib, fb = bad_b.get(w, [0, 0])
        # a gain does not count when more operations fail than at the base
        failing = ib > ia or fb > fa
        if failing:
            print("  failed runs: base %d incorrect / %d failed ops, change %d / %d" % (
                ia, fa, ib, fb))
        for name in sorted(metrics):
            xa, xb = base.get(w, {}).get(name), change.get(w, {}).get(name)
            if not xa or not xb:
                print("  %-14s missing on one side" % name)
                continue
            m = metrics[name]
            lower = m["better"] == "lower"
            (a1, am, a3), (b1, bm, b3) = quartiles(xa), quartiles(xb)
            sa, sb = spread(xa), spread(xb)
            rel = (bm - am) / am if am else 0.0
            worse_by = rel if lower else -rel
            if failing:
                verdict = "failed runs"
            elif (max(xb) < min(xa)) if lower else (min(xb) > max(xa)):
                verdict = "better (every run)"
            elif (min(xb) > max(xa)) if lower else (max(xb) < min(xa)):
                verdict = "worse (every run)"
            elif max(sa, sb) > m["bound"]:
                verdict = "unresolved (spread above bound)"
            elif worse_by > m["bound"]:
                verdict = "worse"
            elif -worse_by > sa:
                verdict = "better"
            else:
                verdict = "unchanged"
            print("  %-14s base %.6g [%.6g, %.6g]  change %.6g [%.6g, %.6g]  %+.1f%%  %s" % (
                name, am, a1, a3, bm, b1, b3, 100 * rel, verdict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10")
    c.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("file")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("change")
    a = ap.parse_args()
    {"collect": cmd_collect, "spread": cmd_spread, "diff": cmd_diff}[a.cmd](a)


if __name__ == "__main__":
    main()
