#!/usr/bin/env bash
# Counts code lines under src/main: non-blank lines whose first
# non-space characters are not `//`, `/*` or `*`. Prints one
# "<count> <file>" line per file, then "<total> total".
#
#   tools/loc.sh          # the working tree
#   tools/loc.sh <rev>    # a commit, read from git without a checkout
set -euo pipefail
cd "$(git -C "$(dirname "$0")" rev-parse --show-toplevel)"

count='!/^[[:space:]]*$/ && !/^[[:space:]]*(\/\/|\/\*|\*)/ { n++ } END { print n + 0 }'

if [ $# -eq 0 ]; then
  files=$(git ls-files --cached --others --exclude-standard -- src/main | sort)
  show() { [ -f "$1" ] && cat "$1"; }
else
  rev=$1
  files=$(git ls-tree -r --name-only "$rev" -- src/main | sort)
  show() { git show "$rev:$1"; }
fi

total=0
for f in $files; do
  n=$(show "$f" | awk "$count") || continue
  [ -n "$n" ] || continue
  printf '%6d %s\n' "$n" "$f"
  total=$((total + n))
done
printf '%6d total\n' "$total"
