#!/usr/bin/env python3
"""Compare two `graft.Scratch dumpplans` directories query by query.

Usage: python3 tools/plan_diff.py <parentPlans> <changePlans>
           [--tag <parentTag> <changeTag>]...

Every <dir>/<query>.txt formatted physical plan on either side is read
and normalised for what differs between two runs of one tree:
expression ids (`vec_id#123L`), `plan_id=`, RDD ids (`[12]` after an
`RDD` name or `ExistingRDD`), JVM lambda class names and identity hash
codes. The line number of a source callsite (`at SQ.scala:412`, the
name a `localCheckpoint` RDD carries) is dropped too: it moves whenever
code above it moves, which is no change of plan. Each `--tag` pair
names one per-side string, such as the two sf-dir symlinks one run per
side reads through; it is replaced on its own side, in its path form
and in its roundtrip-dir form (`/` as `_`), by one placeholder. A
query is the same when the normalised plans are equal. Prints one line
per query (the first differing line for a difference) and exits 1 on
any difference or on a query dumped on one side only.
"""
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(RDD\w*)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\$\$Lambda[\w$/.]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@ADDR"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
]


def normalise(text: str, tags) -> str:
    for i, tag in enumerate(tags):
        for form in (tag, tag.replace("/", "_")):
            text = text.replace(form, f"<TAG{i}>")
    for rx, sub in RULES:
        text = rx.sub(sub, text)
    return text


def dumped(d: str) -> set:
    return {n[:-4] for n in os.listdir(d) if n.endswith(".txt")}


def first_diff(a: str, b: str) -> str:
    la, lb = a.splitlines(), b.splitlines()
    for i, (x, y) in enumerate(zip(la, lb)):
        if x != y:
            return f"line {i + 1}: {x.strip()[:140]!r} != {y.strip()[:140]!r}"
    return f"{len(la)} lines != {len(lb)} lines"


def main(argv) -> int:
    args, tags_p, tags_c = [], [], []
    i = 0
    while i < len(argv):
        if argv[i] == "--tag":
            if i + 2 >= len(argv):
                print(__doc__)
                return 2
            tags_p.append(argv[i + 1])
            tags_c.append(argv[i + 2])
            i += 3
        else:
            args.append(argv[i])
            i += 1
    if len(args) != 2:
        print(__doc__)
        return 2
    parent_dir, change_dir = args
    a, b = dumped(parent_dir), dumped(change_dir)
    bad = 0
    for name in sorted(a | b):
        if name not in a or name not in b:
            print(f"MISSING {name}: dumped only in the "
                  f"{'parent' if name in a else 'change'}")
            bad += 1
            continue
        with open(os.path.join(parent_dir, name + ".txt")) as f:
            p = normalise(f.read(), tags_p)
        with open(os.path.join(change_dir, name + ".txt")) as f:
            c = normalise(f.read(), tags_c)
        if p != c:
            print(f"DIFF {name}: {first_diff(p, c)}")
            bad += 1
        else:
            print(f"SAME {name} ({len(p.splitlines())} lines)")
    n = len(a | b)
    print(f"\n{n - bad} same / {bad} differ of {n}")
    return 1 if bad or not n else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
