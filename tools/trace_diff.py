#!/usr/bin/env python3
"""Per-span comparison of two traced benchmark runs.

    python3 tools/trace_diff.py <parent-trace.json> <change-trace.json>

Reads the span summaries `perfbench/run.py --trace 1` writes to
.bench_out/trace-<workload>-<seed>.json and prints, for every span either
run opened, the per-call jobs, stages, rows read, shuffle bytes and self
seconds of both runs with the change's delta. Runs of a timed workload make
different numbers of calls, so every figure is divided by the span's own
call count. A span whose jobs per call grew is flagged `JOBS+`; the tool
exits 1 when any is. It runs nothing and writes nothing.
"""
import json
import sys

STATS = [("jobs", "jobs_total"), ("stages", "stages_total"),
         ("rows_read", "rows_read_total"), ("shuffle_bytes", "shuffle_bytes_total"),
         ("self_s", "self_s_total")]


def per_call(span):
    calls = int(span.get("calls", 0))
    if calls <= 0:
        return None
    return {name: float(span.get(key, 0)) / calls for name, key in STATS}


def load(path):
    with open(path) as f:
        trace = json.load(f)
    return trace, {n: per_call(s) for n, s in trace.get("spans", {}).items()}


def fmt(x):
    if x is None:
        return "-"
    return "%.0f" % x if abs(x) >= 100 or x == int(x) else "%.3f" % x


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    (pt, parent), (ct, change) = load(argv[1]), load(argv[2])
    print("parent: %s seed %s    change: %s seed %s" % (
        pt.get("workload"), pt.get("seed"), ct.get("workload"), ct.get("seed")))
    header = "%-20s %-13s" % ("span", "stat") + "%14s %14s %14s" % ("parent", "change", "delta")
    print(header)
    grew = []
    for name in sorted(set(parent) | set(change)):
        p, c = parent.get(name), change.get(name)
        for stat, _ in STATS:
            pv = p[stat] if p else None
            cv = c[stat] if c else None
            delta = cv - pv if pv is not None and cv is not None else None
            flag = ""
            if stat == "jobs" and cv is not None and (pv is None or cv > pv):
                flag = "  JOBS+"
                grew.append(name)
            print("%-20s %-13s%14s %14s %14s%s" % (name, stat, fmt(pv), fmt(cv), fmt(delta), flag))
    if grew:
        print("jobs per call grew in: " + ", ".join(grew))
        return 1
    print("no span's jobs per call grew")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
