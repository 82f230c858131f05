#!/bin/bash
# Same-session dual-engine bench — the machine-drift-proof perf ritual.
# Round 8's lesson: BENCH totals are only comparable to a DuckDB number
# measured on the SAME machine within the SAME session (the r8 machine
# ran ~1.8x slower than r7's, making a best-ever 0.59x ratio read as a
# 32% regression against a stale baseline). This script runs graft.Bench
# (Spark) and tools/duckdb_baseline.py (DuckDB, identical oracle SQL,
# same parquet) back-to-back and writes BENCH_BOTH.json carrying both
# totals over the SHARED query set plus their ratio — the number
# BASELINE.md's headline table must quote.
# Usage: tools/bench_both.sh [sf_dir]   (default /root/testdata/sf0.1)
# Every path resolves from this script's own checkout; intermediates go
# to a fresh temporary directory.
set -e
SF_DIR=${1:-/root/testdata/sf0.1}
cd "$(dirname "${BASH_SOURCE[0]}")/.."
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JAVA="java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp $PWD/target/scala-2.13/classes:/opt/spark/jars/*"

$JAVA graft.Verify --sql-only "$TMP/oracle_sql.json"

echo "[bench_both] Spark pass ($SF_DIR)..." >&2
SPARK_GRAFT_SF_DIR=$SF_DIR $JAVA graft.Bench > "$TMP/bench_spark.out"
echo "[bench_both] DuckDB pass ($SF_DIR)..." >&2
python3 tools/duckdb_baseline.py "$SF_DIR" "$TMP/oracle_sql.json" \
  > "$TMP/bench_duck.json"

python3 - "$SF_DIR" "$TMP/bench_duck.json" <<'EOF'
import json, sys
spark = json.load(open("BENCH_FULL.json"))
duck = json.load(open(sys.argv[2]))
sq, dq = spark["queries"], duck["queries"]
shared = sorted(k for k in sq if k in dq and sq[k] > 0 and dq[k] > 0)
s_tot = round(sum(sq[k] for k in shared), 2)
d_tot = round(sum(dq[k] for k in shared), 2)
out = {
    "sf": sys.argv[1],
    "n_shared": len(shared),
    "spark_total_all": spark["value"],
    "spark_total_shared": s_tot,
    "duckdb_total_shared": d_tot,
    "ratio_spark_over_duckdb": round(s_tot / d_tot, 3) if d_tot else None,
    "spark_wins": sorted(
        (k for k in shared if dq[k] / max(sq[k], 1e-9) >= 2.0),
        key=lambda k: -dq[k] / max(sq[k], 1e-9))[:12],
    "queries": {k: {"spark": sq[k], "duckdb": dq[k]} for k in shared},
}
with open("BENCH_BOTH.json", "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps({k: out[k] for k in
                  ("sf", "n_shared", "spark_total_shared",
                   "duckdb_total_shared", "ratio_spark_over_duckdb")}))
EOF
