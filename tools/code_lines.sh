#!/usr/bin/env bash
# Count the code lines a change adds and deletes: lines of `git diff -U0`
# that are neither blank nor comment-only (their first non-space
# characters are not `//`, `/*` or `*`).
#
# Usage: tools/code_lines.sh <base> [<head>] [paths...]
#
# <head> defaults to the working tree: a second argument that does not name
# a commit is the first path. Prints one line, e.g.
#   $ tools/code_lines.sh edfb3e8 7218456 src/main
#   +940 −1433 net −493
set -euo pipefail

if [ $# -lt 1 ]; then
  echo "usage: $0 <base> [<head>] [paths...]" >&2
  exit 2
fi
base=$1
shift
range=("$base")
if [ $# -ge 1 ] && git rev-parse --verify -q "$1^{commit}" >/dev/null; then
  range+=("$1")
  shift
fi

git diff -U0 --no-color --no-ext-diff "${range[@]}" -- "$@" | awk '
  /^diff / { hunk = 0; next }
  /^@@/ { hunk = 1; next }
  hunk && /^[+-]/ {
    sign = substr($0, 1, 1)
    body = substr($0, 2)
    sub(/^[ \t]+/, "", body)
    if (body == "" || body ~ /^(\/\/|\/\*|\*)/) next
    if (sign == "+") added++; else deleted++
  }
  function signed(n) { return n > 0 ? "+" n : (n < 0 ? "\342\210\222" (-n) : "0") }
  END {
    printf "+%d \342\210\222%d net %s\n", added, deleted, signed(added - deleted)
  }'
