#!/usr/bin/env python3
"""Count the lines of code under one or more paths: lines that hold
something other than whitespace and comments, in `.scala` and `.java`
files. `//` line comments and `/* ... */` block comments (scaladoc
included) are comments; a comment marker inside a string literal is not.

Usage: python3 scripts/loc.py src/main [more paths...]
Prints one line per path, then the total when given several paths."""
import os
import sys


def code_lines(text):
    """Lines of `text` with code outside comments and whitespace."""
    n = 0
    depth = 0          # /* */ nesting (Scala block comments nest)
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_str:
                code = True
                if line[i] == "\\" and in_str == '"':
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_str, code = '"""', True
                i += 3
            elif line[i] == '"':
                in_str, code = '"', True
                i += 1
            elif line[i] == "'" and i + 2 < len(line) and line[i + 2] == "'":
                code = True     # a char literal such as '"'
                i += 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if in_str == '"':
            in_str = None      # a plain string literal ends with its line
        n += code
    return n


def count(path):
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                 for f in fs if f.endswith((".scala", ".java"))]
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            total += code_lines(fh.read())
    return total


def main(paths):
    if not paths:
        sys.exit(__doc__)
    counts = [(p, count(p)) for p in paths]
    for p, n in counts:
        print(f"{n}\t{p}")
    if len(counts) > 1:
        print(f"{sum(n for _, n in counts)}\ttotal")


if __name__ == "__main__":
    main(sys.argv[1:])
