#!/usr/bin/env bash
# cct-style batch transform under spark-submit --py-files
# (src/apps/cct.cpp as a cluster job; see jobs/cct_job.py).
#
# Usage: scripts/run_cct_job.sh <in.parquet> <out_dir> <projstr> [direction] [master]
set -euo pipefail
cd "$(dirname "$0")/.."

IN="${1:?input parquet path}"
OUT="${2:?output dir}"
PROJSTR="${3:?proj-string}"
DIRECTION="${4:-fwd}"
MASTER="${5:-local[8]}"

source scripts/package_py_files.sh

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  proj_4_spark/jobs/cct_job.py \
  --in "$IN" --out "$OUT" --projstr "$PROJSTR" --direction "$DIRECTION"
