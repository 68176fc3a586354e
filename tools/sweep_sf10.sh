#!/usr/bin/env bash
# Round-8 gate: full-registry oracle sweep at sf10 (10x the standing sf1
# gate). Generates sf10 from sf0.1 x100 with dupCap=10 -- WITHOUT a cap,
# x100 verbatim replication gives every text a 100-clique and multiplies
# every pairwise op's OUTPUT by C(100,2)=4950 per clique, a workload
# artifact; dupCap=10 keeps the sf1 gate's x10 clique structure while the
# corpus grows 10x in unique content (copies >= 10 are perturbed to
# dissimilarity). Same skip policy as sf1: the labeled O(n^2)
# correctness baselines only.
#
# Usage: tools/sweep_sf10.sh [sfDir] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/tmp/graft_sf10full}"
OUT_DIR="${2:-/tmp/graft_sweep_sf10}"

SKIP="c2_dedup_ngram,c2_dedup_cosine,c3_knn_join"

if [ ! -d "$SF_DIR/lineitem.parquet" ]; then
  echo "[sweep] generating $SF_DIR (sf0.1 x100, dupCap=10)"
  SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.tools.MakeScale /root/testdata/sf0.1 $SF_DIR 100 region,nation,customer,supplier,part,orders,lineitem,events,documents,embeddings 10"
fi

SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_QUERY_TIMEOUT="${SPARK_GRAFT_QUERY_TIMEOUT:-1800}" \
SPARK_GRAFT_SKIP="$SKIP" \
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-96g}" \
tools/run_main.sh graft.Verify "$SF_DIR" "$OUT_DIR"

# exits 1 on any mismatch, crash or timeout: the gate's verdict
python3 tools/oracle_check.py "$OUT_DIR" "$SF_DIR"
