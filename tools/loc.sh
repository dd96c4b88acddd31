#!/usr/bin/env bash
# Prints the "least code" figures every CHANGES.md entry quotes:
#   - non-blank, non-comment lines of the Scala sources under src/main
#   - all lines of the Scala sources under src/main
#   - the number of distinct knobs (spark.graft.*, SPARK_GRAFT_*, GRAFT_*)
#     named in src/main
# Usage: tools/loc.sh [repo-root]   (default: the checkout holding this script)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root"
lines=$(find src/main -name '*.scala' -exec cat {} + \
  | grep -vE '^\s*(//|\*|/\*\*|\*/)' | grep -cvE '^\s*$')
all_lines=$(find src/main -name '*.scala' -exec cat {} + | wc -l)
knobs=$(grep -rhoE 'spark\.graft\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+|GRAFT_[A-Z0-9_]+' src/main \
  | sort -u | wc -l)
echo "src_main_noncomment_lines $lines"
echo "src_main_lines $all_lines"
echo "knobs $knobs"
