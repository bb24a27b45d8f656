#!/usr/bin/env bash
# Build the --py-files archive for spark-submit.
#   scripts/package.sh           -> dist/osm_data_3d_tiles_spark.zip
#   scripts/package.sh OUT.zip   -> OUT.zip
set -euo pipefail
out="$(realpath -m "${1:-$(dirname "$0")/../dist/osm_data_3d_tiles_spark.zip}")"
cd "$(dirname "$0")/.."
mkdir -p "$(dirname "$out")"
rm -f "$out"
# stdlib zip: deterministic, no extra deps
python - "$out" <<'EOF'
import os, sys, zipfile
out = sys.argv[1]
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
    for root, _dirs, files in os.walk("osm_data_3d_tiles_spark"):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
print(out)
EOF
