#!/usr/bin/env bash
# North-rule deployment shape: run the engine via `spark-submit --py-files`
# with routers_spark packaged as a zip. No real cluster exists in this
# sandbox, so the master defaults to local[N]; on a cluster, swap --master
# for yarn/k8s and the same zip + entry point work unchanged (the entry
# point imports routers_spark only from the shipped archive).
#
# Usage: SPARK_GRAFT_CPUS=8 tools/submit.sh [n_trips] [n_tile_rows]
set -euo pipefail
cd "$(dirname "$0")/.."
CPUS="${SPARK_GRAFT_CPUS:-8}"
MASTER="${SPARK_GRAFT_MASTER:-local[$CPUS]}"
ZIP="$(mktemp -u /tmp/routers_spark_XXXX).zip"
trap 'rm -f "$ZIP"' EXIT
python - "$ZIP" <<'EOF'
import sys, zipfile, pathlib
zf = zipfile.ZipFile(sys.argv[1], "w", zipfile.ZIP_DEFLATED)
src = pathlib.Path("routers_spark")
for p in sorted([*src.rglob("*.py"), *src.rglob("*.c")]):
    zf.write(p, p.as_posix())
zf.close()
EOF
# no exec: the EXIT trap must fire to clean up the packaged zip
spark-submit --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.ui.enabled=false \
  tools/submit_job.py "$@"
