#!/usr/bin/env bash
# Code lines per src/main Scala file and in total: every line that is not
# blank and not a comment line (one starting with //, /* or *), the count
# ROADMAP.md and CHANGES.md report.
#
#   tools/code_lines.sh            # per file, largest last, then the total
#   tools/code_lines.sh <file>...  # just these files, then their total
set -euo pipefail
cd "$(dirname "$0")/.."
if [ "$#" -gt 0 ]; then files=("$@"); else mapfile -t files < <(find src/main -name '*.scala' | sort); fi
for f in "${files[@]}"; do
  n=$(grep -cvE '^\s*$|^\s*(//|/\*|\*)' "$f" || true)
  printf '%6d %s\n' "$n" "$f"
done | sort -n
for f in "${files[@]}"; do grep -cvE '^\s*$|^\s*(//|/\*|\*)' "$f" || true; done \
  | awk '{ t += $1 } END { printf "%6d total\n", t }'
