#!/usr/bin/env bash
# spark-submit packaging path (north rule: `spark-submit --py-files`
# on a multi-executor cluster; in this sandbox master=local[N]).
#
# Usage: scripts/run_tiling_job.sh [master] [sf_dir] [out_dir]
set -euo pipefail
cd "$(dirname "$0")/.."

MASTER="${1:-local[8]}"
SF_DIR="${2:-/root/testdata/sf0.001}"
OUT_DIR="${3:-/tmp/tiling_out}"

source scripts/package_py_files.sh

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  proj_4_spark/jobs/tiling_job.py \
  --sf-dir "$SF_DIR" --out "$OUT_DIR"
