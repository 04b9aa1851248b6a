#!/usr/bin/env bash
# geod-style batch geodesic solver under spark-submit --py-files
# (src/apps/geod.cpp as a cluster job; see jobs/geod_job.py).
#
# Usage: scripts/run_geod_job.sh <in.parquet> <out_dir> [mode] [master]
#   mode: inverse (lat1,lon1,lat2,lon2 -> s12,azi1,azi2)
#         direct  (lat1,lon1,azi1,s12  -> lat2,lon2,azi2)
set -euo pipefail
cd "$(dirname "$0")/.."

IN="${1:?input parquet path}"
OUT="${2:?output dir}"
MODE="${3:-inverse}"
MASTER="${4:-local[8]}"

source scripts/package_py_files.sh

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  proj_4_spark/jobs/geod_job.py \
  --in "$IN" --out "$OUT" --mode "$MODE"
