#!/usr/bin/env bash
# Standing gate: full-registry oracle sweep at sf1 (10x the driver's
# sf0.01 gate; the sf0.1 sweep caught c19's IEEE -0.0 divergence, this
# is the next notch). Generates sf1 from sf0.1 if absent, dumps every
# registered query via graft.Verify, then DuckDB-compares via
# tools/oracle_check.py. O(n^2) correctness baselines are skipped by
# name (SPARK_GRAFT_SKIP) -- their scaled/LSH counterparts, which share
# their oracles, still run.
#
# Usage: tools/sweep_sf1.sh [sfDir] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/tmp/graft_sf1}"
OUT_DIR="${2:-/tmp/graft_sweep_sf1}"

# the labeled O(n^2) baselines (SURVEY: correctness baselines, not
# scale paths) -- quadratic row counts at sf1, each >19 min
SKIP="c2_dedup_ngram,c2_dedup_cosine,c3_knn_join"

# check a FACT table, not documents: earlier docs-only rehearsal dirs
# would otherwise short-circuit full-registry generation
if [ ! -d "$SF_DIR/lineitem.parquet" ]; then
  echo "[sweep] generating $SF_DIR (sf0.1 x10, dupCap clamps cliques)"
  SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.tools.MakeScale /root/testdata/sf0.1 $SF_DIR 10"
fi

SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_QUERY_TIMEOUT="${SPARK_GRAFT_QUERY_TIMEOUT:-900}" \
SPARK_GRAFT_SKIP="$SKIP" \
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" \
tools/run_main.sh graft.Verify "$SF_DIR" "$OUT_DIR"

# exits 1 on any mismatch, crash or timeout: the gate's verdict
python3 tools/oracle_check.py "$OUT_DIR" "$SF_DIR"
