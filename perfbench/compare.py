#!/usr/bin/env python3
"""Compare the end-to-end metrics of two sets of benchmark runs.

    python3 perfbench/compare.py BASE_RECORDS.jsonl HEAD_RECORDS.jsonl

Each file is a ``.bench_out/records.jsonl`` written by run.py. Only
untraced runs are compared. Every record carries its run key (workload,
cores used, nproc, input scale, seed, commit, JVM heap, Spark version);
records are refused unless all of them agree on every field of the key but
``seed`` and ``commit``, each side holds one commit, and both sides ran the
same seeds. For each workload and metric it prints both medians and
quartiles, and flags a head median worse than the base median by more than
the metric's bound in BENCHMARK.json. Exit status: 0 when nothing is
flagged, 1 when something is, 2 when the records are refused.
"""
import json
import os
import statistics
import sys

# key fields that must match across every compared record
SAME = ("workload", "cpus", "nproc", "scale", "heap_mb", "trace", "spark")


def load(path):
    with open(path) as fh:
        return [r for r in map(json.loads, fh) if r["key"]["trace"] == 0]


def refuse(msg):
    print(f"refused: {msg}", file=sys.stderr)
    sys.exit(2)


def main(base_path, head_path):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sides = {"base": load(base_path), "head": load(head_path)}
    flagged = False
    for wl in sorted({r["key"]["workload"] for s in sides.values() for r in s}):
        recs = {k: [r for r in v if r["key"]["workload"] == wl]
                for k, v in sides.items()}
        if not all(recs.values()):
            refuse(f"{wl}: runs on one side only")
        every = recs["base"] + recs["head"]
        for f in SAME:
            if len({json.dumps(r["key"][f]) for r in every}) > 1:
                refuse(f"{wl}: records differ in {f}")
        for side, rs in recs.items():
            if len({r["key"]["commit"] for r in rs}) > 1:
                refuse(f"{wl}: {side} mixes commits")
        if sorted(r["key"]["seed"] for r in recs["base"]) != sorted(
                r["key"]["seed"] for r in recs["head"]):
            refuse(f"{wl}: the two sides ran different seeds")
        print(f"{wl}: {len(recs['base'])} runs per side")
        for m in bench["end_to_end"]:
            row = []
            for side in ("base", "head"):
                v = [r["metrics"][m["name"]] for r in recs[side]]
                q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
                row.append(q)
            b, h = row[0][1], row[1][1]
            worse = (h - b) / b if m["better"] == "lower" else (b - h) / b
            flag = worse > m["bound"]
            flagged |= flag
            print(f"  {m['name']:16s} base {b:.4g} [{row[0][0]:.4g}, "
                  f"{row[0][2]:.4g}]  head {h:.4g} [{row[1][0]:.4g}, "
                  f"{row[1][2]:.4g}]  worse by {worse:+.1%} "
                  f"(bound {m['bound']:.0%}){'  REGRESSION' if flag else ''}")
    return 1 if flagged else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
