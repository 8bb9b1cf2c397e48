#!/usr/bin/env python3
"""Count Scala source lines: total, and non-blank non-comment.

Usage: python3 tools/loc.py [path ...]

Each path is a .scala file or a directory searched recursively for .scala
files; the default is src/main/scala under the repo root. Prints one line
per path plus a TOTAL line when several paths are given. A line counts as
a comment when, stripped, it starts with `//`, opens a `/*` block, or lies
inside one; a line that closes a block comment is a comment line too.
"""
import os
import sys


def count(path):
    files = [path] if path.endswith(".scala") else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path)
        for f in fs if f.endswith(".scala"))
    total = code = 0
    for f in files:
        in_block = False
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                total += 1
                s = line.strip()
                if in_block:
                    in_block = "*/" not in s
                elif s.startswith("/*"):
                    in_block = "*/" not in s[2:]
                elif s and not s.startswith("//"):
                    code += 1
    return total, code


def main(args):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = args or [os.path.join(root, "src", "main", "scala")]
    sums = [0, 0]
    for p in paths:
        total, code = count(p)
        sums[0] += total
        sums[1] += code
        print(f"{p}: total {total}, non-blank non-comment {code}")
    if len(paths) > 1:
        print(f"TOTAL: total {sums[0]}, non-blank non-comment {sums[1]}")


if __name__ == "__main__":
    main(sys.argv[1:])
