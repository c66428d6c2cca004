#!/bin/bash
# Local replica of the driver's t2 gate: run graft.Verify at a given SF,
# then DuckDB-compare each query result (scripts/compare_oracle.py).
# Usage: scripts/verify_local.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
cd "$(dirname "$0")/.."
# fixture drift gate: fail BEFORE any query runs if the driver regenerated
# the parquet with different types (see scripts/schema_fingerprint.py)
python3 scripts/schema_fingerprint.py "$SF" scripts/fixture_schema.txt
sbt -batch compile -error
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
python3 scripts/compare_oracle.py "$SF" "$OUT"
