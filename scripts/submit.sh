#!/usr/bin/env bash
# Package the engine and submit to a cluster (north_rule: spark-submit --py-files).
#
#   ./scripts/submit.sh pagerank --transcripts ... --output ... [--checkpoint-dir ...]
#
# MASTER defaults to local[*]; on a cluster export MASTER=yarn / spark://...
# The CLI applies the engine's session policy itself (session.get_spark); a
# --conf passed to spark-submit wins over it, e.g.
# --conf spark.sql.shuffle.partitions=<n> on a cluster.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/hgs_pkg.zip
rm -f "$ZIP"
zip -qr "$ZIP" halvesting_geometric_spark -x '*__pycache__*'

exec spark-submit \
  --master "${MASTER:-local[*]}" \
  --py-files "$ZIP" \
  halvesting_geometric_spark/cli.py "$@"
