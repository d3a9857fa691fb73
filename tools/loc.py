#!/usr/bin/env python3
"""Line counts for Scala (or any C-comment-style) sources.

Usage: python3 tools/loc.py <paths...>

Prints, per file and summed, the total line count and the code-only
line count. A code-only line is a non-blank line that still holds
something after `/* ... */` block comments and `//` line comments are
removed. Comment markers inside string literals ("...", '...' and
triple-quoted strings) are not comments. Directories are walked for
*.scala files.
"""
import os
import sys


def _scan(text: str):
    """Yield, per line, the line's code with comments removed (string
    and char literals kept verbatim) and whether the line starts
    inside a triple-quoted string."""
    in_block = False
    in_triple = False
    for line in text.split("\n"):
        in_string = in_triple
        kept = []
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block = False
                    i = end + 2
                continue
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    kept.append(line[i:])
                    i = len(line)
                else:
                    kept.append(line[i:end + 3])
                    in_triple = False
                    i = end + 3
                continue
            if line.startswith('"""', i):
                in_triple = True
                kept.append('"""')
                i += 3
                continue
            c = line[i]
            if c == '"' or (c == "'" and line[i + 2:i + 3] == "'") or \
                    (c == "'" and line[i + 1:i + 2] == "\\"):
                # a string or char literal: skip to its closing quote
                q = c
                j = i + 1
                while j < len(line) and line[j] != q:
                    j += 2 if line[j] == "\\" else 1
                kept.append(line[i:j + 1])
                i = j + 1
                continue
            if line.startswith("/*", i):
                in_block = True
                i += 2
                continue
            if line.startswith("//", i):
                break
            kept.append(c)
            i += 1
        yield "".join(kept), in_string


def code_only(text: str) -> list:
    """Each line of `text` with its comments removed; string literals
    stay, so a caller can search them."""
    return [kept for kept, _ in _scan(text)]


def code_lines(text: str) -> int:
    """Count lines holding code outside comments and blank space (a
    line inside a triple-quoted string always counts)."""
    return sum(1 for kept, in_string in _scan(text)
               if in_string or kept.strip())


def files_of(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in sorted(os.walk(p)):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(paths) -> None:
    if not paths:
        sys.exit(__doc__.strip())
    total = code = 0
    print(f"{'total':>7} {'code':>7}  file")
    for f in files_of(paths):
        text = open(f, encoding="utf-8").read()
        t = text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        c = code_lines(text)
        total += t
        code += c
        print(f"{t:>7} {c:>7}  {f}")
    print(f"{total:>7} {code:>7}  (sum)")


if __name__ == "__main__":
    main(sys.argv[1:])
