#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, with the gain rule applied.

    python3 tools/bench_pairs.py <workload> <parent-checkout> <change-checkout> <seeds...>

For every seed, runs `perfbench/run.py --workload <workload> --seed <seed>
--trace 0` once in each checkout, with the run length from the change
checkout's BENCHMARK.json. The side that runs first alternates from seed to
seed (the parent first on the first seed), so drift in host load does not
favour one side. Both checkouts are built before the first pair, so no run
waits on a compiler.

Each run's result line is printed as it arrives. At the end, for every
end-to-end metric of BENCHMARK.json, it prints each side's median and
quartiles, the pairs the change won (ties count for neither side), and
whether the gain rule holds: the change wins at least nine tenths of the
pairs and the medians differ by more than the parent's interquartile range.

Exits 1 when any run fails (non-zero exit, no result, or a failed output
check), after printing the summary of the runs that did finish. It only runs
the benchmark: nothing under perfbench/ is written but what run.py itself
leaves in .bench_build and .bench_out.
"""
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One benchmark run; returns (result dict or None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if p.returncode != 0 or not isinstance(result, dict) or not result.get("correct"):
        return result, "exit %d: %s" % (p.returncode, p.stderr.strip()[-400:])
    return result, None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics, pairs):
    """Per metric: medians, quartiles, wins, and the gain rule."""
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p[m["name"]], c[m["name"]]) for p, c in pairs
                if m["name"] in p and m["name"] in c]
        if not both:
            print("%-20s no complete pair" % name)
            continue
        par = [a for a, _ in both]
        chg = [b for _, b in both]
        wins = sum(1 for a, b in both if (b < a if lower else b > a))
        losses = sum(1 for a, b in both if (b > a if lower else b < a))
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        gain = wins * 10 >= 9 * len(both) and gap > (pq3 - pq1)
        rel = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        print("%-20s parent %.4g [%.4g, %.4g]  change %.4g [%.4g, %.4g]  "
              "%+.1f%%  wins %d/%d (losses %d)  gain rule %s"
              % (name, pmed, pq1, pq3, cmed, cq1, cq3, rel, wins, len(both), losses,
                 "MET" if gain else "not met"))


def main():
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    workload, parent, change = sys.argv[1:4]
    seeds = [int(s) for s in sys.argv[4:]]
    with open(os.path.join(change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    for checkout in (parent, change):
        if subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout).returncode:
            sys.exit("bench_pairs: the build failed in %s" % checkout)
    pairs, failures = [], 0
    for i, seed in enumerate(seeds):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            result, err = run(checkout, workload, seed, seconds)
            print(json.dumps({"seed": seed, "side": side, "result": result}), flush=True)
            if err:
                failures += 1
                print("bench_pairs: %s run failed on seed %d: %s" % (side, seed, err),
                      file=sys.stderr, flush=True)
            else:
                got[side] = {k: v["value"] for k, v in result["metrics"].items()}
        if len(got) == 2:
            pairs.append((got["parent"], got["change"]))
    print("%s: %d complete pairs of %d seeds, %d failed runs"
          % (workload, len(pairs), len(seeds), failures))
    summarize(bench["end_to_end"], pairs)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
