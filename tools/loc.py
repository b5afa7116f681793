#!/usr/bin/env python3
"""Count the Scala source lines of the engine: lines under src/main/scala
that are not blank, not a `//` comment and not inside a `/* ... */` block
(scaladoc included). Prints one line per file, then the total.

Usage: tools/loc.py [repo_root]   (default: the repository this script is in)
"""
import os
import sys


def code_lines(text):
    """Lines of `text` that hold code outside comments."""
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line.strip()
        has_code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    break
                in_block = False
                rest = rest[end + 2:].strip()
            elif rest.startswith("//"):
                break
            elif rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
            else:
                # code up to a block comment that opens later on the line
                has_code = True
                start = rest.find("/*")
                if start < 0 or "//" in rest[:start]:
                    break
                rest = rest[start:]
        n += has_code
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main", "scala")
    counts = []
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((os.path.relpath(p, src), code_lines(fh.read())))
    for p, n in sorted(counts):
        print(f"{n:6d}  {p}")
    print(f"{sum(n for _, n in counts):6d}  total")


if __name__ == "__main__":
    main()
