#!/usr/bin/env python3
"""Code lines of the .scala files under the given paths.

Usage: python3 tools/code_lines.py <path> [<path> ...]

A code line is a non-blank line that is not a comment: lines that start
with `//` and every line of a `/* ... */` block (scaladoc included) do
not count. Prints one count per path given. A path may be a directory
(searched recursively) or a single .scala file.
"""
import os, sys


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def code_lines(text):
    n, in_block = 0, False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                s = s.split("*/", 1)[1].strip()
            else:
                continue
        if s.startswith("/*"):
            rest = s[2:]
            if "*/" in rest:
                s = rest.split("*/", 1)[1].strip()
            else:
                in_block = True
                continue
        if s and not s.startswith("//"):
            n += 1
    return n


def main(paths):
    for p in paths:
        n = sum(code_lines(open(f, encoding="utf-8").read()) for f in scala_files(p))
        print(f"{n:>8,}  {p}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
