"""Cross-parallelism determinism gate: every driver query must produce
the identical value hash at two parallelism levels.

Parallelism-dependent results are the class of bug behind the r2
asof_join / top_k_per_group fixes (row_number over a non-unique
ordering picks partition-order-dependent winners) — this sweeps ALL
queries, including the approximate rows-only ones (hash-family ops are
seeded, so they too must be stable).

Usage: python scripts/determinism_check.py [sf_dir]
Exit 0 = all identical.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
LEVELS = (4, 32)


def norm_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(df.to_csv(index=False, float_format="%.9g").encode()).hexdigest()[:12]


def main() -> int:
    import __spark_entry__ as E
    from teleharvest_spark.session import get_spark

    results: dict[str, dict[int, str]] = {}
    for cores in LEVELS:
        spark = get_spark(
            app_name=f"det{cores}", master=f"local[{cores}]", shuffle_partitions=cores
        )
        for name, fn in E.queries().items():
            try:
                results.setdefault(name, {})[cores] = norm_hash(fn(spark, SF).toPandas())
            except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
                results.setdefault(name, {})[cores] = f"ERR:{ex}"
        spark.stop()

    bad = {n: v for n, v in results.items() if len(set(v.values())) != 1}
    for n, v in results.items():
        mark = "DIFF" if n in bad else "ok  "
        print(f"[{mark}] {n}: {v[LEVELS[0]]}")
    print(f"nondeterministic: {len(bad)} / {len(results)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
