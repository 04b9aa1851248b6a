# Sourced by the run_*_job.sh scripts from the repo root: zips every
# proj_4_spark/**/*.py into $ZIP, a file of its own per run (so
# concurrent runs never share or delete each other's --py-files zip),
# removed when the sourcing script exits.
PKG_DIR="$(mktemp -d "${TMPDIR:-/tmp}/proj_4_spark.XXXXXX")"
trap 'rm -rf "$PKG_DIR"' EXIT
ZIP="$PKG_DIR/proj_4_spark.zip"  # spark-submit adds only *.zip to sys.path
python - "$ZIP" <<'PY'
import pathlib
import sys
import zipfile

with zipfile.ZipFile(sys.argv[1], "w") as z:
    for p in pathlib.Path("proj_4_spark").rglob("*.py"):
        z.write(p, p.as_posix())
print("packaged", sys.argv[1])
PY
