#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of every Scala file under
`<root>/src/main/scala` and print one `<count>  <path>` line per file
(path relative to that directory, sorted) and then the total. The
git-ignored `graft/tmp` directory, where the plan devtools are copied to
be compiled, is skipped.

A line is left out when it is blank, when it starts with `//`, or when it
lies in a `/* ... */` block (scaladoc included) that starts at the
beginning of the line; a line of code with a trailing comment counts.

Usage: python3 tools/loc.py [root]   (root defaults to the current directory)
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        sys.exit(f"no {src}")
    counts = {}
    skip = os.path.join(src, "graft", "tmp")
    for d, _, files in os.walk(src):
        if d == skip or d.startswith(skip + os.sep):
            continue
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts[os.path.relpath(p, src)] = count(p)
    for rel in sorted(counts):
        print(f"{counts[rel]:6d}  {rel}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main()
