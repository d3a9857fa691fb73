#!/usr/bin/env python3
"""Compare two `graft.Scratch dumpsubset` directories query by query.

Usage: python3 tools/dump_diff.py <parentDump> <changeDump>

Every <dump>/<query> parquet directory on either side is read, its
array and struct cells frozen into tuples (so rows sort and compare),
and canonicalised with oracle_check.canon (columns by name, rows
sorted). A query is the same when both sides have the same columns,
the same dtypes and exactly equal values. Prints one line per query
and exits 1 on any difference or on a query dumped on one side only.
"""
import os
import sys

sys.dont_write_bytecode = True  # leave nothing behind in tools/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402

from oracle_check import canon  # noqa: E402


def freeze(v):
    if isinstance(v, dict):
        return tuple((k, freeze(x)) for k, x in sorted(v.items()))
    if isinstance(v, (str, bytes)) or not hasattr(v, "__len__"):
        return v
    return tuple(freeze(x) for x in v)


def load(path: str) -> pd.DataFrame:
    df = pd.read_parquet(path)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(freeze)
    return canon(df)


def dumped(d: str) -> set:
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def diff(parent: pd.DataFrame, change: pd.DataFrame):
    if list(parent.columns) != list(change.columns):
        return f"columns {list(parent.columns)} != {list(change.columns)}"
    dtypes = [(c, str(parent[c].dtype), str(change[c].dtype))
              for c in parent.columns if parent[c].dtype != change[c].dtype]
    if dtypes:
        return f"dtypes {dtypes}"
    if parent.shape != change.shape:
        return f"shape {parent.shape} != {change.shape}"
    try:
        pd.testing.assert_frame_equal(parent, change, check_exact=True)
    except AssertionError as e:
        return "values " + " ".join(str(e).split())[:300]
    return None


def main(parent_dir: str, change_dir: str) -> int:
    a, b = dumped(parent_dir), dumped(change_dir)
    bad = 0
    for name in sorted(a | b):
        if name not in a or name not in b:
            print(f"MISSING {name}: dumped only in the "
                  f"{'parent' if name in a else 'change'}")
            bad += 1
            continue
        p = load(os.path.join(parent_dir, name))
        c = load(os.path.join(change_dir, name))
        why = diff(p, c)
        if why:
            print(f"DIFF {name}: {why}")
            bad += 1
        else:
            print(f"SAME {name} ({len(p)} rows)")
    n = len(a | b)
    print(f"\n{n - bad} same / {bad} differ of {n}")
    return 1 if bad or not n else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: dump_diff.py <parentDump> <changeDump>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
