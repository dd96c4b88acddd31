#!/usr/bin/env bash
# Copy the compiled classes to a frozen dir so long `java -cp` chains
# (multi-hour scale campaigns) keep running off a stable snapshot while
# sbt recompiles the live tree — two sbt invocations must never
# overlap, and a chain reading target/ mid-recompile sees torn classes.
set -euo pipefail
cd "$(dirname "$0")/.."
dest="${1:-/tmp/graft_cls_r12}"
src=target/scala-2.13/classes
[ -d "$src" ] || { echo "no compiled classes at $src — run sbt compile"; exit 1; }
rm -rf "$dest"
mkdir -p "$dest"
cp -a "$src"/. "$dest"/
echo "snapshot: $src -> $dest ($(du -sh "$dest" | cut -f1))"
