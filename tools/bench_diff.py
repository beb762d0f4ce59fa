#!/usr/bin/env python3
"""Per-key diff of two Bench `.keys.jsonl` records.

    python3 tools/bench_diff.py A.keys.jsonl B.keys.jsonl

`graft.Bench` writes one record per key next to its `SPARK_GRAFT_BENCH_OUT`
file: the cold (rep 1) and warm (median rep) layer values and the last rep's
jobs. This prints, for every key in both files, the warm and cold wall of A
and B and the warm change (B - A) in each layer, largest warm change first,
then a totals row.
"""
import json
import sys

LAYERS = ["construct_s", "plan_s", "exec_s", "job_busy_s", "driver_gap_s",
          "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "jobs", "tasks"]


def load(path):
    with open(path) as f:
        return {r["key"]: r for r in map(json.loads, filter(str.strip, f))}


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    a, b = load(argv[0]), load(argv[1])
    common = sorted(set(a) & set(b))
    rows = []
    for k in common:
        wa, wb = a[k]["warm"], b[k]["warm"]
        rows.append((k, wa["wall_s"], wb["wall_s"], a[k]["cold"]["wall_s"],
                     b[k]["cold"]["wall_s"],
                     [wb.get(l, 0.0) - wa.get(l, 0.0) for l in LAYERS]))
    rows.sort(key=lambda r: -abs(r[2] - r[1]))
    head = ["key", "warm_A", "warm_B", "d_warm%", "cold_A", "cold_B"] + ["d_" + l for l in LAYERS]
    print("\t".join(head))

    def line(k, wa, wb, ca, cb, d):
        pct = 100.0 * (wb - wa) / wa if wa > 0 else float("nan")
        print("\t".join([k] + [f"{v:.3f}" for v in (wa, wb)] + [f"{pct:+.1f}"] +
                        [f"{v:.3f}" for v in (ca, cb)] + [f"{v:+.3f}" for v in d]))

    for r in rows:
        line(*r)
    line("TOTAL", sum(r[1] for r in rows), sum(r[2] for r in rows),
         sum(r[3] for r in rows), sum(r[4] for r in rows),
         [sum(r[5][i] for r in rows) for i in range(len(LAYERS))])
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    if only_a or only_b:
        print(f"# only in A: {len(only_a)} {only_a[:10]}; only in B: {len(only_b)} {only_b[:10]}")


if __name__ == "__main__":
    main(sys.argv[1:])
