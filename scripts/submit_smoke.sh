#!/usr/bin/env bash
# End-to-end proof of the north-rule packaging contract: build the
# --py-files zip, then run a full validation via spark-submit FROM A
# DIRECTORY THAT DOES NOT CONTAIN THE REPO — the driver AND the Python
# UDF workers (drift's applyInPandas) must resolve teleharvest_spark
# from the zip alone. Asserts the report JSON.
set -euo pipefail
cd "$(dirname "$0")/.."
REPO=$PWD
scripts/package.sh

TMP=$(mktemp -d /tmp/submit_smoke.XXXXXX)
trap 'rm -rf "$TMP"' EXIT

# seed a small sequences table (driver-side convenience; the submit
# below never sees this process's sys.path)
python - "$TMP" "$REPO" <<'PY'
import sys
sys.path.insert(0, sys.argv[2])
from teleharvest_spark.session import get_spark
from teleharvest_spark.config import CheckSuite
from teleharvest_spark import datagen

tmp = sys.argv[1]
spark = get_spark(app_name="smoke_seed", master="local[4]")
suite = CheckSuite(banned_tokens=datagen.BANNED_IDS, allowed_sources=tuple(datagen.SOURCES))
datagen.generate_sequences(spark, 2000, suite).write.parquet(f"{tmp}/seqs")
spark.stop()
PY

cd "$TMP"  # no repo on sys.path from here on
/opt/spark/bin/spark-submit --master 'local[4]' \
  --py-files "$REPO/dist/teleharvest_spark.zip" \
  "$REPO/scripts/run_validation.py" \
  --input "$TMP/seqs" --output "$TMP/out" --run-id smoke 2>/dev/null \
  | tail -1 | python -c '
import json, sys
d = json.loads(sys.stdin.readline())
assert d["validated_rows"] == 2000 and d["violations"] > 0 and not d["skipped"], d
print("SUBMIT SMOKE OK:", d["validated_rows"], "rows,", d["violations"], "violations,",
      d["partitions"], "partitions")
'
