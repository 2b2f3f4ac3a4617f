#!/usr/bin/env bash
# Package the engine and launch the extraction job via spark-submit
# --py-files — the north-rule launch mode. Locally this uses
# local[N]; on a cluster replace --master (and drop the local conf).
#
#   tools/submit.sh <input> <output> <checkpoint> <metrics> [run_id]
#
# FLAT=1 (default) treats <input> as the flat (doc_id, text) table and
# derives the spans corpus; FLAT=0 reads a spans-shaped corpus as-is.
set -euo pipefail
cd "$(dirname "$0")/.."

INPUT=${1:?input path}; OUTPUT=${2:?output path}
CKPT=${3:?checkpoint path}; METRICS=${4:?metrics path}
RUN_ID=${5:-run-$(date +%s)}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
FLAT_FLAG=$([ "${FLAT:-1}" = "0" ] && echo "" || echo "--flat")

ZIP=$(mktemp -d)/smartglass_ocr_spark.zip
python - "$ZIP" <<'EOF'
import sys, zipfile, pathlib
zf = zipfile.ZipFile(sys.argv[1], "w")
for p in sorted(pathlib.Path("smartglass_ocr_spark").rglob("*.py")):
    zf.write(p, str(p))
zf.close()
EOF

exec spark-submit \
  --master "local[$CPUS]" \
  --py-files "$ZIP" \
  --conf spark.sql.shuffle.partitions=$((2 * CPUS)) \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.driver.memory="${SPARK_GRAFT_DRIVER_MEM:-24g}" \
  --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC \
  --conf spark.ui.enabled=false \
  tools/job_extract.py \
  --input "$INPUT" --output "$OUTPUT" \
  --checkpoint "$CKPT" --metrics "$METRICS" \
  --run-id "$RUN_ID" $FLAT_FLAG
