#!/usr/bin/env python3
"""Count the program's lines of code: the non-blank lines of
src/main/**/*.scala that are neither `//` comment lines nor inside a
`/* ... */` block (scaladoc included). Prints the total, then one
`<count> <file>` line per file, largest first. Run it from the root
of the checkout to count:

    python3 tools/loc.py
"""
import os
import sys


def code_lines(text):
    """Lines that carry code. A line that opens a block comment counts
    only if code precedes the `/*`; a line that closes one only if code
    follows the `*/`. String literals are not parsed: a `/*` inside a
    string on a code line still counts that line."""
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block = False
            line = line[end + 2:].strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            line = line[end + 2:].strip()
            if not line or line.startswith("//"):
                continue
        n += 1
    return n


def main():
    src = os.path.join("src", "main")
    if not os.path.isdir(src):
        sys.exit("no src/main here: run from the root of a checkout")
    counts = []
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((code_lines(fh.read()), p))
    print(sum(c for c, _ in counts))
    for c, p in sorted(counts, key=lambda cp: (-cp[0], cp[1])):
        print(f"{c:6d} {p}")


if __name__ == "__main__":
    main()
