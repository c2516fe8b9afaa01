#!/usr/bin/env bash
# Line counts of src/main and src/test at a base ref and at HEAD, and the
# net change between them (with the added/removed split from git diff).
#
# Usage: scripts/main_lines.sh [<ref>] [--worktree]
#   <ref>       base revision (default HEAD~1)
#   --worktree  compare against the working tree (tracked and staged
#               files) instead of HEAD, for a change not yet committed
set -euo pipefail

base="HEAD~1"
to="HEAD"
for arg in "$@"; do
  case "$arg" in
    --worktree) to="" ;;
    -h|--help) sed -n '2,8p' "$0"; exit 0 ;;
    *) base="$arg" ;;
  esac
done
cd "$(git rev-parse --show-toplevel)"

# lines in the files of <tree> at <rev>, or in the working tree when
# <rev> is empty
count() {
  if [ -n "$1" ]; then
    git grep -c '' "$1" -- "$2" | awk -F: '{n += $NF} END {print n + 0}'
  else
    git ls-files -z -- "$2" | xargs -0 cat 2>/dev/null | wc -l
  fi
}

for tree in src/main src/test; do
  before=$(count "$base" "$tree")
  after=$(count "$to" "$tree")
  read -r added removed < <(git diff --numstat "$base" $to -- "$tree" |
    awk '{a += $1; r += $2} END {print a + 0, r + 0}')
  printf '%-8s %s=%d %s=%d net=%+d (+%d/-%d)\n' "$tree" "$base" \
    "$before" "${to:-worktree}" "$after" $((after - before)) \
    "$added" "$removed"
done
