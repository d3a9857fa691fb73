#!/usr/bin/env python3
"""Compare two index directory trees, e.g. one lifecycle directory left
by the parent commit and the same directory left by a change.

Usage: python3 tools/tree_diff.py <parentDir> <changeDir>

Compared, relative to each root:
  - the set of directory names;
  - the set of file names, with the write UUID Spark puts into part
    file names (and their .crc shadows) replaced by <uuid>;
  - every non-parquet file (pointer files, CELLS, _SUCCESS, markers)
    byte for byte;
  - every parquet directory's rows, read with dump_diff.load (columns
    by name, rows sorted, exact values; hive `k=v` partition
    directories fold into their parent table).
Parquet bytes and their .crc checksums are not compared: only the rows
they hold. Prints one line per difference and exits 1 on any.
"""
import os
import re
import sys

sys.dont_write_bytecode = True  # leave nothing behind in tools/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dump_diff import diff, load  # noqa: E402

UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def is_parquet(name: str) -> bool:
    return name.endswith(".parquet") or (
        name.startswith(".") and name.endswith(".parquet.crc"))


def scan(root: str):
    """(dirs, files by uuid-free name, parquet table roots) under root."""
    dirs, files, tables = set(), {}, set()
    for d, subdirs, names in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel != ".":
            dirs.add(rel)
        for n in names:
            key = os.path.normpath(os.path.join(rel, UUID.sub("<uuid>", n)))
            files.setdefault(key, []).append(os.path.join(d, n))
            if n.endswith(".parquet"):
                t = rel
                while "=" in os.path.basename(t):
                    t = os.path.dirname(t)
                tables.add(t or ".")
    return dirs, files, tables


def main(parent_dir: str, change_dir: str) -> int:
    pd_, pf, pt = scan(parent_dir)
    cd, cf, ct = scan(change_dir)
    bad = []
    for d in sorted(pd_ ^ cd):
        bad.append(f"DIR {d}: only in the {'parent' if d in pd_ else 'change'}")
    for f in sorted(set(pf) | set(cf)):
        if f not in pf or f not in cf:
            bad.append(f"FILE {f}: only in the {'parent' if f in pf else 'change'}")
        elif len(pf[f]) != len(cf[f]):
            bad.append(f"FILE {f}: {len(pf[f])} vs {len(cf[f])} files")
        elif not is_parquet(os.path.basename(f)) and len(pf[f]) == 1:
            a, b = (open(p[0], "rb").read() for p in (pf[f], cf[f]))
            if a != b:
                bad.append(f"BYTES {f}: {len(a)} vs {len(b)} bytes differ")
    for t in sorted(pt | ct):
        if t not in pt or t not in ct:
            bad.append(f"TABLE {t}: only in the {'parent' if t in pt else 'change'}")
            continue
        why = diff(load(os.path.join(parent_dir, t)), load(os.path.join(change_dir, t)))
        if why:
            bad.append(f"ROWS {t}: {why}")
    for line in bad:
        print(line)
    print(f"{len(pd_ | cd)} dirs, {len(set(pf) | set(cf))} file names, "
          f"{len(pt | ct)} parquet tables: {len(bad)} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: tree_diff.py <parentDir> <changeDir>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
