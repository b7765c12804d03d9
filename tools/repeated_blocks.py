#!/usr/bin/env python3
"""Counts pasted code in src/main: lines covered by a repeated 6-line block.

Each line is trimmed and every digit replaced by `N`, so blocks that differ
only in numbers (gate ids, constants, CTE suffixes like `l1`/`l2`) match.
A 6-line window slides over each file; every line covered by a window that
already occurred earlier in the same file counts once. Blank lines count
as lines, so two pastes separated by blank lines still match.

Code lines are the lines that hold something outside a `//` or `/* */`
comment (string literals count as code; blank lines do not), so deleting
comments moves the total but not the code count.

SparkEntry.scala is split in two: the gate half (bodies and the `queries`
registry) and the oracle half (everything after the registry closes: the
SQL builders and `oracleSql`).

Usage: tools/repeated_blocks.py [root]   (root defaults to src/main)
Prints `repeated/total code path` per file, most repeated lines first, then
the sums over all files.
"""
import os
import re
import sys

WINDOW = 6


def repeated(lines):
    norm = [re.sub(r"[0-9]", "N", line.strip()) for line in lines]
    seen = set()
    covered = set()
    for i in range(len(norm) - WINDOW + 1):
        key = tuple(norm[i:i + WINDOW])
        if key in seen:
            covered.update(range(i, i + WINDOW))
        else:
            seen.add(key)
    return len(covered)


def code_lines(lines):
    """Lines with a character outside a comment; nested /* */ and string
    literals (plain and triple-quoted) are tracked across lines."""
    depth = 0          # open /* */ comments
    in_str = None      # '"' or '"""' while inside a string literal
    count = 0
    for line in lines:
        i, n, code = 0, len(line), False
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
            elif in_str == '"""':
                code = code or not line[i].isspace()
                if line.startswith('"""', i):
                    i += 3
                    while i < n and line[i] == '"':
                        i += 1
                    in_str = None
                else:
                    i += 1
            elif in_str:
                code = True
                if line[i] == "\\":
                    i += 2
                else:
                    in_str = None if line[i] == '"' else in_str
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            else:
                code = code or not line[i].isspace()
                if line.startswith('"""', i):
                    in_str, i = '"""', i + 3
                elif line[i] == '"':
                    in_str, i = '"', i + 1
                elif re.match(r"'(\\.|[^\\'])'", line[i:i + 4]):
                    i += 4 if line[i + 1] == "\\" else 3
                else:
                    i += 1
        if in_str == '"':
            in_str = None  # a plain string never spans lines
        count += code
    return count


def oracle_split(lines):
    """Index of the first line after the `queries` registry Map closes."""
    start = next(i for i, l in enumerate(lines) if re.match(r"\s*def queries\b", l))
    return next(i for i in range(start, len(lines)) if lines[i].rstrip() == "  )") + 1


def parts(path, lines):
    if os.path.basename(path) == "SparkEntry.scala":
        cut = oracle_split(lines)
        return [(path + " [gates]", lines[:cut]), (path + " [oracle]", lines[cut:])]
    return [(path, lines)]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    rows = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith((".scala", ".java")):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                lines = f.read().split("\n")
            for label, chunk in parts(path, lines):
                rows.append((repeated(chunk), len(chunk), code_lines(chunk), label))
    rows.sort(key=lambda r: (-r[0], r[3]))
    for n, total, code, label in rows:
        print(f"{n:6d}/{total:<6d} {code:6d} {label}")
    print(f"{sum(r[0] for r in rows):6d}/{sum(r[1] for r in rows):<6d} "
          f"{sum(r[2] for r in rows):6d} total")


if __name__ == "__main__":
    main()
