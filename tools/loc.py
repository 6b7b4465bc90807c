#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of a source tree.

    python3 tools/loc.py [DIR ...]        # default: src/main

A line counts when anything other than comments is left on it: lines
that are blank, start with `//`, or lie wholly inside a `/* ... */`
block (Scaladoc included) do not. Code followed by a trailing comment
counts. Comment markers inside string literals are not recognised, so
a line such as `val s = "/*"` can miscount; the count is a size
measure, not a parser. Prints the total and a per-file count, largest
first, to compare two trees (e.g. a commit unpacked with `git archive`).
"""

import os
import sys


def code_lines(text):
    """Number of lines of `text` with code outside comments."""
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line
        code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:]
                continue
            rest = rest.lstrip()
            if not rest or rest.startswith("//"):
                break
            if rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
                continue
            code = True
            start, line_comment = rest.find("/*"), rest.find("//")
            if start < 0 or 0 <= line_comment < start:
                break
            rest = rest[start:]
        n += code
    return n


def main(argv):
    roots = argv[1:] or ["src/main"]
    counts = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for name in names:
                if name.endswith((".scala", ".java")):
                    path = os.path.join(d, name)
                    with open(path, encoding="utf-8") as fh:
                        counts[path] = code_lines(fh.read())
    print(f"total {sum(counts.values())}")
    for path, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{n:7d} {path}")


if __name__ == "__main__":
    main(sys.argv)
