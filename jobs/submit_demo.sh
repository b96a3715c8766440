#!/usr/bin/env bash
# Contract evidence (BASELINE.json north_star: "runs via spark-submit
# --py-files on multi-executor clusters"): package the library as a
# py-files zip and run the crawl job through spark-submit, with NO
# reliance on the repo being on the driver's or executors' PYTHONPATH.
# On a real cluster, swap --master for the cluster manager URL; everything
# else is identical.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP="${TMPDIR:-/tmp}/crawlspark-pyfiles.zip"
ROOT="${1:-${TMPDIR:-/tmp}/crawlspark-submit-demo}"
rm -f "$ZIP"
zip -qr "$ZIP" crawlspark

# one task slot per CPU this process may use (bench.usable_cpus's rule);
# each round sets spark.sql.shuffle.partitions to its own width
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
SPARK_SUBMIT="$(command -v spark-submit || echo /opt/spark/bin/spark-submit)"
"$SPARK_SUBMIT" \
  --master "local[$CPUS]" \
  --py-files "$ZIP" \
  --conf spark.ui.enabled=false \
  jobs/run_crawl.py \
  --root "$ROOT" \
  --seed-count 40 --web-hosts 12 --max-depth 2 --max-rounds 8 \
  --shuffle-partitions "$CPUS"
