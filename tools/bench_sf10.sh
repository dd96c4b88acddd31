#!/usr/bin/env bash
# Second scale decade: synthesize sf10 (x100 of sf0.1; lineitem 60M,
# events 10M, documents 500k, embeddings 200k; ~1.5 GB) and bench a
# headline subset covering every operator family whose cost is a
# function of the ENGINE, not of the synthetic corpus's collision
# geometry. Two decades of measurements (sf0.1 -> sf1 -> sf10)
# distinguish true linear growth from fixed-overhead-masked growth in
# a way a single x10 step cannot.
#
# Excluded at sf10, with the reason measured at sf1 (SCALE.md §3):
#  - dedup_embedding_lsh / dedup_embedding / dedup_ngram_jaccard:
#    output or all-pairs cost is ~n^2 by problem definition.
#  - dedup_minhash / dedup_simhash / dedup_incremental /
#    dedup_clusters: signature-collision candidates grow ~n^2/27000
#    because the 30-word vocabulary saturates the shingle space
#    (measured: docs-per-shingle 9.6 -> 95.2 at sf1); at sf10 each
#    execution is hours of corpus-artifact work that measures the
#    generator, not the engine. A Heaps-law corpus does not do this.
#
# Usage: tools/bench_sf10.sh <sf0.1 dir> [bench json out]
#   (default out: /tmp/bench_sf10.json; the sf10 corpus is built once
#   under data/sf10 and reused)
set -euo pipefail
cd "$(dirname "$0")/.."
base="${1:?usage: tools/bench_sf10.sh <sf0.1 dir> [bench json out]}"
out="${2:-/tmp/bench_sf10.json}"
sf10="$PWD/data/sf10"

if [ ! -d "$sf10" ]; then
  echo "[sf10] synthesizing $(date -u +%H:%M:%S)"
  SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
    sbt -batch "runMain graft.ScaleGen $base $sf10 100" >/dev/null
fi

HEADLINERS=raw_station,latest_per_key,timeseries_bucket,q1_agg,q3_shipping,q5_local_supplier,q18_big_orders,q21_waiting_orders,events_sessionize_native,rollup_events,top_k_per_group_fast,ingest_pipeline,dedup_exact,span_dedup,knn_ivf,knn_ivf_pq,seq_pack,data_mix,epoch_shuffle,token_count,gopher_quality,lang_id

echo "[sf10] bench start $(date -u +%H:%M:%S)"
SPARK_GRAFT_SF_DIR="$sf10" SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g \
SPARK_GRAFT_BENCH_REPS=2 SPARK_GRAFT_BENCH_OUT="$out" \
SPARK_GRAFT_BENCH_ONLY="$HEADLINERS" \
  sbt -batch "runMain graft.Bench" >/dev/null
echo "[sf10] bench done $(date -u +%H:%M:%S) -> $out"
