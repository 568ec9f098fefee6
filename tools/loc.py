#!/usr/bin/env python3
"""Counts Scala source lines under src/main and src/test, per tree and per package.

    python3 tools/loc.py [repo_root]

For each tree (src/main/scala, src/test/scala) and each package directory
under it, prints total, blank, comment and code lines and the number of
round-history notes. A line is blank when it is empty after stripping; it is
a comment when, stripped, it starts with `//`, `/*` or `*`; every other line
is code (so a code line with a trailing comment counts as code). A history
note is a "round N" or "rNN" mention, the notes ROADMAP.md tracks.
"""
import os
import re
import sys

HISTORY = re.compile(r"\b[Rr]ound \d+|\br\d\d\b")
TREES = ["src/main/scala", "src/test/scala"]


def count(path):
    c = {"total": 0, "blank": 0, "comment": 0, "code": 0, "history": 0}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip()
            c["total"] += 1
            c["history"] += len(HISTORY.findall(line))
            if not s:
                c["blank"] += 1
            elif s.startswith(("//", "/*", "*")):
                c["comment"] += 1
            else:
                c["code"] += 1
    return c


def add(into, c):
    for k, v in c.items():
        into[k] = into.get(k, 0) + v


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cols = ["total", "blank", "comment", "code", "history"]
    print(f"{'tree / package':<40}" + "".join(f"{k:>9}" for k in cols))
    for tree in TREES:
        base = os.path.join(root, tree)
        per_pkg = {}
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    pkg = os.path.relpath(d, base).replace(os.sep, ".")
                    add(per_pkg.setdefault(pkg, {}), count(os.path.join(d, f)))
        whole = {}
        for c in per_pkg.values():
            add(whole, c)
        label = tree.rsplit("/", 1)[0]
        print(f"{label:<40}" + "".join(f"{whole.get(k, 0):>9,}" for k in cols))
        for pkg in sorted(per_pkg):
            print(f"  {pkg:<38}" + "".join(f"{per_pkg[pkg][k]:>9,}" for k in cols))


if __name__ == "__main__":
    main()
