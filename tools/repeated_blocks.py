#!/usr/bin/env python3
"""Counts pasted code in src/main: lines covered by a repeated 6-line block.

Each line is trimmed and every digit replaced by `N`, so blocks that differ
only in numbers (gate ids, constants, CTE suffixes like `l1`/`l2`) match.
A 6-line window slides over each file; every line covered by a window that
already occurred earlier in the same file counts once. Blank lines count
as lines, so two pastes separated by blank lines still match.

SparkEntry.scala is split in two: the gate half (bodies and the `queries`
registry) and the oracle half (everything after the registry closes: the
SQL builders and `oracleSql`).

Usage: tools/repeated_blocks.py [root]   (root defaults to src/main)
Prints `repeated/total path` per file with any repeat, largest first, then
the total over all files.
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
                n = repeated(chunk)
                rows.append((n, len(chunk), label))
    rows.sort(key=lambda r: (-r[0], r[2]))
    for n, total, label in rows:
        if n:
            print(f"{n:6d}/{total:<6d} {label}")
    print(f"{sum(r[0] for r in rows):6d}/{sum(r[1] for r in rows):<6d} total")


if __name__ == "__main__":
    main()
