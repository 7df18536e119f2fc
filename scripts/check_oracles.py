"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its
``oracle_sql()`` twin on DuckDB over the same parquet, then compares
row count, column names, and an order-insensitive value hash —
approximating CORRECTNESS_r{N}.json so mismatches surface before the
driver sees them.
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints → int64, floats → float64 (rounded upstream)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    payload = df.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def assert_snapshot_coverage() -> int:
    """CI-style freeze check (VERDICT r2 item 6): every ``queries()``
    name must have a row in the LATEST driver CORRECTNESS snapshot —
    a query added after the snapshot ships ungraded (decile_assign did
    in r2). Run before round end; nonzero exit lists the uncovered
    names so the round's NOTES can record them deliberately."""
    import glob
    import json

    import __spark_entry__ as E

    snaps = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    if not snaps:
        print("no CORRECTNESS snapshot found")
        return 1
    covered = set(json.load(open(snaps[-1], encoding="utf-8")))
    missing = sorted(set(E.queries()) - covered)
    print(f"latest snapshot: {snaps[-1]} ({len(covered)} rows)")
    if missing:
        print(f"UNCOVERED queries ({len(missing)}): {missing}")
        return 1
    print("all queries covered")
    return 0


def main(only: list[str] | None = None, sf_dir: str = SF_DIR) -> int:
    import __spark_entry__ as E
    from teleharvest_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"[ERR ] {name}: spark query raised")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"[ROWS] {name}: {len(sdf)} rows (no oracle — rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"[ERR ] {name}: oracle SQL raised")
            traceback.print_exc()
            failures += 1
            continue
        s, o = norm_frame(sdf), norm_frame(odf)
        cols_ok = list(s.columns) == list(o.columns)
        rows_ok = len(s) == len(o)
        hash_ok = cols_ok and rows_ok and value_hash(s) == value_hash(o)
        status = "OK  " if hash_ok else "FAIL"
        print(f"[{status}] {name}: spark={len(s)} oracle={len(o)} cols={'=' if cols_ok else 'DIFF'}")
        if not hash_ok:
            failures += 1
            if cols_ok and rows_ok:
                diff = (s != o) & ~(s.isna() & o.isna())
                bad = diff.any(axis=1)
                print("  first diffs (spark vs oracle):")
                print(pd.concat([s[bad].head(3), o[bad].head(3)], keys=["spark", "oracle"]))
            else:
                print("  spark cols:", list(s.columns))
                print("  oracle cols:", list(o.columns))
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--coverage"]:
        sys.exit(assert_snapshot_coverage())
    sys.exit(main(sys.argv[1:] or None))
