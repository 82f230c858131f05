#!/bin/bash
# Local correctness loop: run graft.Verify (Spark) then tools/check.py
# (DuckDB oracle compare) — a stand-in for the driver's t2 gate.
set -e
# every path resolves from this script's own checkout
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/vout}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" ${3:+"$3"}
python3 "$ROOT/tools/check.py" "$SF_DIR" "$OUT"
