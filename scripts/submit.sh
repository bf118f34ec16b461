#!/usr/bin/env bash
# spark-submit --py-files packaging + launch, as the north_rule specifies.
#
# Builds es_indexer_spark.zip and submits a job script against it. On a real
# cluster swap --master for yarn/k8s and size executors; the engine's only
# driver-side state is O(partitions) ordinal counts and k-row query heaps,
# so nothing here changes with executor count. On such a master get_spark
# keeps Spark's default Python daemon: es_indexer_spark._sparkdaemon starts
# before --py-files reach sys.path, so it needs the package installed on
# the executors (then pass spark.python.daemon.module via extra_conf).
# Distributed queries' segment tasks read the index path with pyarrow, as
# the driver does, so on a cluster the index must sit on a filesystem
# every executor mounts at the same path.
#
# Usage:
#   scripts/submit.sh [job.py] [args...]        # default job: examples/quickstart.py
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JOB="${1:-$REPO/examples/quickstart.py}"; shift || true

ZIP="$REPO/dist/es_indexer_spark.zip"
mkdir -p "$REPO/dist"
(cd "$REPO" && rm -f "$ZIP" && zip -qr "$ZIP" es_indexer_spark -x '*__pycache__*')

exec spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-32}]" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.shuffle.partitions="${SPARK_GRAFT_CPUS:-32}" \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --py-files "$ZIP" \
  "$JOB" "$@"
