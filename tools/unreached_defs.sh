#!/bin/sh
# Lists the public `def`s in src/main whose name occurs exactly once
# across src/main, src/test, perfbench and tools: the definition itself,
# so nothing calls it. One `file:line: name` per line, sorted. Directories
# given as arguments replace those four: `tools/unreached_defs.sh src/main`
# lists the defs nothing in src/main calls (reached by specs or nothing).
#
# A candidate list, not a verdict: the count is by name, so a def that
# shares its name with any other identifier (an overload, a field, a
# method of another object) is never listed; and a def reached only by
# reflection or from outside the repo is listed. Overrides are skipped
# (a supertype reaches them), and so are private and protected defs.
#
# A deletion can orphan the helpers only the deleted def called, so after
# deleting, re-run it until the no-argument list is empty.
#
# Usage: tools/unreached_defs.sh [dir...]   (dirs relative to the repo root)
set -eu
cd "$(dirname "$0")/.."
export LC_ALL=C
[ $# -gt 0 ] || set -- src/main src/test perfbench tools

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT

# every identifier token in the sources, with its occurrence count
find "$@" -type d \( -name target -o -name .bench_work \) -prune \
    -o -type f \( -name '*.scala' -o -name '*.py' -o -name '*.sh' -o -name '*.java' \) -print \
  | xargs cat \
  | grep -oE '[A-Za-z_][A-Za-z0-9_]*' \
  | sort | uniq -c | awk '{print $2, $1}' | sort -k1,1 > "$tmp/counts"

# public defs in src/main (no modifier but final or implicit): file:line and name
grep -rnE '^[[:space:]]*((final|implicit)[[:space:]]+)*def[[:space:]]+[A-Za-z_][A-Za-z0-9_]*' \
    --include='*.scala' src/main \
  | sed -E 's/^([^:]+:[0-9]+):.*def[[:space:]]+([A-Za-z_][A-Za-z0-9_]*).*/\2 \1/' \
  | sort -k1,1 > "$tmp/defs"

join "$tmp/defs" "$tmp/counts" | awk '$3 == 1 {print $2 ": " $1}' | sort
