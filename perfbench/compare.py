#!/usr/bin/env python3
"""Reads run records (the `{"env", "result"}` lines run.py appends to
.bench_build/perfbench/results.jsonl) and reports, per workload and
metric, the median and the quartile spread as a share of the median.

    python3 perfbench/compare.py BASE.jsonl            # spread of one set
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # NEW against BASE

With two sets it prints each end-to-end metric's median change against
the bound in BENCHMARK.json. It refuses to compare sets whose runs saw
different core counts.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    for line in open(path):
        rec = json.loads(line)
        env, res = rec["env"], rec["result"]
        runs.setdefault((env["workload"], env["trace"]), []).append((env, res))
    return runs


def spread(values):
    if len(values) < 2:
        return float("nan")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv):
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load(p) for p in argv[1:3]]
    cpus = {env["cpus"] for s in sets for rs in s.values() for env, _ in rs}
    if len(cpus) > 1:
        sys.exit(f"refusing: runs saw different core counts {sorted(cpus)}")
    ok = True
    for key in sorted(sets[0]):
        wl, trace = key
        base = sets[0][key]
        new = sets[1].get(key) if len(sets) > 1 else None
        bad = sum(1 for _, r in base + (new or []) if not r["correct"] or r["failed"])
        print(f"{wl} (trace {trace}): {len(base)} runs"
              + (f" vs {len(new)}" if new else "") + (f", {bad} NOT CORRECT" if bad else ""))
        ok &= bad == 0
        for name in base[0][1]["metrics"]:
            b = [r["metrics"][name]["value"] for _, r in base]
            line = f"  {name:36s} median {statistics.median(b):12.6g}  spread {spread(b):6.3f}"
            m = bounds.get(name)
            if new and m:
                n = [r["metrics"][name]["value"] for _, r in new]
                change = statistics.median(n) / statistics.median(b) - 1
                worse = change if m["better"] == "lower" else -change
                verdict = "WORSE" if worse > m["bound"] else "ok"
                ok &= verdict == "ok"
                line += f"  new {statistics.median(n):12.6g} ({change:+.3f}, bound {m['bound']}) {verdict}"
            elif m and not trace:
                line += f"  bound {m['bound']}" + \
                        ("" if name == "setup_s" or spread(b) <= m["bound"] else "  SPREAD>BOUND")
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv))
