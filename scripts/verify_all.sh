#!/bin/bash
# One-command verification of the whole repo, in the order the driver
# checks it: (1) the 74-query oracle gate replica at sf0.01 (every
# queries() entry vs its DuckDB twin, rows+schema+value), (2) the full
# pytest suite, (3) the driver entry() smoke at sf0.001, (4) one bench
# JSON line at $SPARK_GRAFT_SF_DIR (default sf0.1), (5) one checked
# perfbench embed_fusion job (perfbench/run.py). Exits non-zero on
# the first failure. Run each step exclusively — concurrent load skews
# the bench and can starve Spark local[32].
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== [1/5] oracle gate (sf0.01) =="
python3 tools/check_oracles.py

echo "== [2/5] pytest =="
python -m pytest tests/ -q

echo "== [3/5] entry() smoke (sf0.001) =="
python3 - <<'EOF'
import importlib.util
from pyspark.sql import SparkSession
spec = importlib.util.spec_from_file_location("e", "__spark_entry__.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
df = m.entry(spark)
n = df.count()
assert n > 0, "entry() returned no rows"
print(f"entry rows: {n}  schema: {df.schema.simpleString()}")
spark.stop()
EOF

echo "== [4/5] bench =="
python3 bench.py

echo "== [5/5] perfbench smoke (embed_fusion, one job) =="
python3 perfbench/run.py --workload embed_fusion --seed 1 --seconds 1 --trace 0 \
    | tail -n 1 | python3 -c '
import json, sys
r = json.loads(sys.stdin.read())
print(json.dumps(r))
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)
'
