#!/usr/bin/env bash
# Compare two graft.ExplainDump output directories file by file, ignoring
# the ids Spark assigns afresh on every run: expression ids (#N), plan ids,
# bracketed counters ([N]), stage numbers and codegen stage ids (*(N)).
#
# Usage: tools/plan_diff.sh <dumpDirA> <dumpDirB>
#
# Dump both sides with the same suffix, e.g.
#   sbt "runMain graft.ExplainDump <sfDir> <dumpDirA> d p01_hourly_stats ..."
# on each checkout, so that the file names match. Prints a unified diff of
# every pair that differs and names files present on one side only. Exits 0
# when every file matches, 1 on any difference, 2 on a usage error.
set -euo pipefail

if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 <dumpDirA> <dumpDirB>" >&2
  exit 2
fi

normalize() {
  sed -E 's/#[0-9]+L?/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/\[[0-9]+\]/[N]/g;
          s/(Stage|QueryStage) [0-9]+/\1 N/g; s/\*\([0-9]+\)/*(N)/g' "$1"
}

status=0
same=0
while IFS= read -r name; do
  a="$1/$name"
  b="$2/$name"
  if [ ! -f "$a" ] || [ ! -f "$b" ]; then
    echo "only in $([ -f "$a" ] && echo "$1" || echo "$2"): $name"
    status=1
  elif ! diff -u --label "$a" --label "$b" <(normalize "$a") <(normalize "$b"); then
    status=1
  else
    same=$((same + 1))
  fi
done < <({ ls -1 "$1"; ls -1 "$2"; } | sort -u)

echo "== $same identical, $([ $status -eq 0 ] && echo "no differences" || echo "differences found") =="
exit $status
