#!/usr/bin/env bash
# Resilience gate (round 11): the two failure modes a real cluster
# exhibits that local[N] structurally cannot —
#
#   1. EXECUTOR LOSS (graft.FaultCheck): SIGKILL an executor process
#      mid-query; task retry + stage resubmission must reproduce the
#      undisturbed result bit-for-bit, including a stateful stream
#      whose state-store partitions die with the executor.
#   2. MEMORY PRESSURE (graft.PressureCheck): run the shuffle-heaviest
#      shapes under two 640 MB executors; everything must complete via
#      disk spill (gate fails if nothing spilled — vacuous pressure).
#   3. DRIVER CRASH MID-STREAM (graft.StreamCrashCheck): halt() the
#      driver JVM inside a micro-batch's post-commit window, resume the
#      checkpoint in a fresh process; output must equal an undisturbed
#      control (the at-least-once foreachBatch redelivery). Two sinks:
#      the corpus-ingest stream (CorpusStream.ingestOnce: bit-identical,
#      unique doc_ids) and the HLL store (EventStream.hllIngestOnce:
#      served estimates and event counts).
#
# All write one-line JSON artifacts and exit non-zero on any mismatch.
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
fault_sf="${SPARK_GRAFT_FAULT_SF:-/root/testdata/sf0.01}"
pressure_sf="${SPARK_GRAFT_PRESSURE_SF:-/root/repo/data/sf1}"

echo "== resilience gate: FaultCheck at $fault_sf =="
SPARK_GRAFT_FAULT_OUT="${SPARK_GRAFT_FAULT_OUT:-/tmp/fault_check.json}" \
  sbt -batch "runMain graft.FaultCheck $fault_sf" | tail -1

echo "== resilience gate: PressureCheck at $pressure_sf =="
SPARK_GRAFT_PRESSURE_OUT="${SPARK_GRAFT_PRESSURE_OUT:-/tmp/pressure_check.json}" \
  sbt -batch "runMain graft.PressureCheck $pressure_sf" | tail -1

echo "== resilience gate: StreamCrashCheck at $fault_sf =="
SPARK_GRAFT_CRASH_OUT="${SPARK_GRAFT_CRASH_OUT:-/tmp/stream_crash.json}" \
  sbt -batch "runMain graft.StreamCrashCheck $fault_sf" | tail -1

echo "== resilience gate green =="
