#!/usr/bin/env python3
"""Protocol literals outside their owning module.

Usage: python3 tools/layering_check.py [root]   (default: src/main)

Each on-disk protocol name is spelled by exactly one module; every
other module asks that module for the handle. This scans the code-only
lines (comments stripped by tools/loc.py; string literals kept) of the
Scala files under `root` and prints every line that spells a protocol
literal outside its owner, as `file:line: literal (owner) | code`.
Exits 1 when there is any such line, 0 otherwise.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import code_only, files_of  # noqa: E402

# literal -> the file (relative to the scanned root's `graft` package)
# that owns it
OWNERS = {
    "CURRENT.tmp": "Generations.scala",
    "WRITER__v": "Generations.scala",
    "__tomb": "Tombstones.scala",
    "tomb__": "Tombstones.scala",
    '"tombstones"': "Tombstones.scala",
    ".stage_append_b": "streaming/ExactlyOnce.scala",
    's"b$': "streaming/ExactlyOnce.scala",
    's"i$': "streaming/ExactlyOnce.scala",
    # GraphAnn.appendLedger is the one spelling of the graph ledger
    "applied__appends": "search/GraphAnn.scala",
}


def hits(root: str):
    for f in files_of([root]):
        rel = os.path.relpath(f, root).replace(os.sep, "/")
        with open(f, encoding="utf-8") as fh:
            lines = code_only(fh.read())
        for n, code in enumerate(lines, 1):
            for lit, owner in OWNERS.items():
                if lit in code and not rel.endswith("graft/" + owner):
                    yield f"{f}:{n}: {lit} ({owner}) | {code.strip()}"


def main(argv) -> int:
    found = list(hits(argv[0] if argv else "src/main"))
    for h in found:
        print(h)
    print(f"{len(found)} hits")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
