"""Cross-parallelism determinism sweep.

Runs EVERY registered query twice under radically different session
configs (cores x shuffle partitions) and compares a value hash of the
sorted result. A mismatch means the query's output depends on
partition count or task order — arbitrary tie-breaking in a top-k,
a LIMIT without a total order, first/last over an unordered group —
which passes a single-config test suite but flaps on a cluster (or in
the verification driver, whose session config this repo does not
control).

Round-5 evidence: 224/224 queries hash-identical between
local[32]/shuffle=8 and local[7]/shuffle=37 at sf0.01.

Usage (two runs then a diff; separate processes because one JVM cannot
change its master)::

    SWEEP_MASTER='local[32]' SWEEP_SHUFFLE=8  SWEEP_OUT=/tmp/h_a.json python tools/determinism_sweep.py
    SWEEP_MASTER='local[7]'  SWEEP_SHUFFLE=37 SWEEP_OUT=/tmp/h_b.json python tools/determinism_sweep.py
    python - <<'EOF'
    import json
    a = json.load(open('/tmp/h_a.json')); b = json.load(open('/tmp/h_b.json'))
    bad = [k for k in a if a[k] != b.get(k)]
    assert not bad, bad
    print('deterministic:', len(a), 'queries')
    EOF
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

MASTER = os.environ.get("SWEEP_MASTER", "local[32]")
SHUFFLE = os.environ.get("SWEEP_SHUFFLE", "8")
OUT = os.environ.get("SWEEP_OUT", "/tmp/determinism_hashes.json")
SF_DIR = os.environ.get("SWEEP_SF", "/root/testdata/sf0.01")
# comma-separated allowlist for targeted re-sweeps after a single-query
# fix (empty = every registered query)
ONLY = {n for n in os.environ.get("SWEEP_ONLY", "").split(",") if n}


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(MASTER)
        .appName("determinism-sweep")
        .config("spark.sql.shuffle.partitions", SHUFFLE)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    hashes: dict[str, object] = {}
    for name, fn in entry.queries().items():
        if ONLY and name not in ONLY:
            continue
        # on stderr, where Spark logs, so a logged error follows the
        # name of the query that raised it
        print(f"query {name}", file=sys.stderr, flush=True)
        try:
            pdf = fn(spark, SF_DIR).toPandas()
            cols = sorted(pdf.columns)
            pdf = pdf[cols].sort_values(by=cols, ignore_index=True)
            h = pd.util.hash_pandas_object(pdf.astype(str), index=False).sum()
            hashes[name] = int(h) & 0xFFFFFFFFFFFFFFFF
        except Exception as e:  # noqa: BLE001 - record, keep sweeping
            hashes[name] = f"ERR: {type(e).__name__}: {e}"[:300]

    with open(OUT, "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
    errs = sum(1 for v in hashes.values() if isinstance(v, str))
    print(f"wrote {OUT}: {len(hashes)} queries, {errs} errors")
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
