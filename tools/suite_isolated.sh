#!/usr/bin/env bash
# Round-13 suite method (verdict item 6): run EVERY TPC-H shape in its
# OWN JVM so no cell inherits another query's page-cache eviction, GC
# state, or shuffle-file footprint — the round-12 table needed
# footnotes for exactly that (q9 117.9 s in-suite vs 77.6 s isolated,
# same bytes). One TpchSuite invocation per query; per-query JSON lines
# land in the output file; a summary line closes it.
#
# Usage: tools/suite_isolated.sh <sfDir> <outFile> [onlyCsv]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="$1"
OUT="$2"
ONLY="${3:-}"

QUERIES="b3_agg_group b36_tpch_q2 b47_tpch_q3 b30_sql_exists b32_tpch_q5 \
b51_tpch_q6 b46_tpch_q7 b48_tpch_q8 b49_tpch_q9 b33_tpch_q10 b43_tpch_q11 \
b50_tpch_q12 b41_tpch_q13 b44_tpch_q14 b37_tpch_q15 b42_tpch_q16 \
b38_tpch_q17 b35_tpch_q18 b45_tpch_q19 b39_tpch_q20 b34_tpch_q21 b40_tpch_q22"
if [ -n "$ONLY" ]; then QUERIES="${ONLY//,/ }"; fi

: > "$OUT"
for q in $QUERIES; do
  echo "[isolated] $q" >&2
  # full per-query log kept for diagnosis — the grep used to eat the
  # stack trace when a query died
  QLOG="${OUT%.jsonl}_${q}.log"
  # error marker uses the same "q" key as data rows (round-13 advice:
  # the old "query" key complicated downstream parsing)
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  tools/run_main.sh graft.tools.TpchSuite "$SF_DIR" "$q" > "$QLOG" 2>&1 \
    || echo "{\"q\":\"$q\",\"err\":true}" >> "$OUT"
  grep -E '^\{"q":' "$QLOG" >> "$OUT" || true
done
python3 - "$OUT" <<'EOF'
import json, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
# a crashed query must not be COUNTED as covered while contributing 0s
# (round-13 advice: the old summary silently understated the total)
ok = [r for r in rows if not r.get("err")]
err = [r for r in rows if r.get("err")]
total = sum(r.get("min_sec", 0) for r in ok)
print(json.dumps({"metric": "tpch_suite_isolated", "n_queries": len(ok),
                  "n_err": len(err), "errs": [r["q"] for r in err],
                  "total_min_sec": round(total, 1)}))
EOF
