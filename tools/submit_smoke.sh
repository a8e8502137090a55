#!/usr/bin/env bash
# Deployment smoke: the north rule's stated mode is `spark-submit
# --py-files engine.zip` on a multi-executor cluster. This drives the CLI
# through a real spark-submit with the packaged zip (local master here;
# the same invocation works with --master yarn/k8s on a cluster).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
# run outside the checkout: `python -m` puts the cwd on a Python worker
# daemon's sys.path, which would hide a package missing from the zip
cd "${TMPDIR:-/tmp}"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/smoke.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT
# build_pkg_zip's file is removed when the process that built it exits:
# copy it out in the same interpreter
ZIP="$WORK/engine.zip"
python -c "import shutil, sys; sys.path.insert(0,'$REPO'); from parallel_dataflow_spark.pkgzip import build_pkg_zip; shutil.copy(build_pkg_zip(), '$ZIP')"
echo "engine zip: $ZIP"

echo "--- dataflow (reaching defs over the reference's gcd.bril) ---"
spark-submit --master "local[4]" --py-files "$ZIP" \
  "$REPO/parallel_dataflow_spark/cli.py" \
  dataflow --pass rd --executor seq --input /root/reference/core/gcd.bril \
  2>/dev/null | head -3

# q6 runs in the JVM only; dedup_minhash_lsh starts Python workers, whose
# daemon must import the package from the zip
for q in q6_forecast_revenue dedup_minhash_lsh; do
  echo "--- query ($q) ---"
  spark-submit --master "local[4]" --py-files "$ZIP" \
    "$REPO/parallel_dataflow_spark/cli.py" \
    query --name "$q" --sf-dir /root/testdata/sf0.001 \
    2>/dev/null | head -2
done

# a streaming query commits offsets, commits and state through the
# checkpoint manager get_spark picks for local masters
echo "--- stream (tumbling over a 600-row sequence table) ---"
STREAM="$WORK/stream"
python -c "import sys; sys.path.insert(0,'$REPO'); from parallel_dataflow_spark.sources import write_sequence_table; write_sequence_table(None, '$STREAM/input', 600, n_files=4)"
spark-submit --master "local[4]" --py-files "$ZIP" \
  "$REPO/parallel_dataflow_spark/cli.py" \
  stream --job tumbling --input "$STREAM/input" --work "$STREAM/work" \
  2>/dev/null | tail -1

echo "OK"
