"""A/B: salted two-phase dedup vs plain partial-agg groupBy, 1e8 rows.

Hypothesis to test (VERDICT r1 item 10): for an ALGEBRAIC aggregate
(count), Spark's map-side partial aggregation already collapses a hot
key to one partial row per task before the shuffle, so the explicit
salt phase — whose phase-1 output is ~N rows when keys are mostly
unique, i.e. a SECOND full shuffle — should lose on uniform data and
buy nothing on hot keys. Salting remains necessary only for
non-algebraic aggregates (collect_list/exact distinct structs) where
partials can't collapse.

Usage: python scripts/salt_ab.py [n_rows]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from teleharvest_spark.operators import uniqueness
from teleharvest_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000


def plain_dups(df, key):
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def salted_dups(df, key):
    """The two-phase salted shape the A/B is meant to measure: phase 1
    pre-aggregates on (key, salt), phase 2 merges the partials per key.
    (ADVICE r2: an earlier revision called duplicate_keys here, which
    commit 4856f9d had already rewritten to the plain path — the A/B
    was silently measuring plain vs plain.)"""
    partials = uniqueness.salted_partial_counts(df, key=key)
    return (
        partials.groupBy(key)
        .agg(F.sum("_partial").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def main() -> None:
    spark = get_spark(app_name="salt_ab", master="local[32]", shuffle_partitions=32)

    # uniform: every key appears twice (dup detection does real work)
    uniform = spark.range(N).select(
        (F.col("id") % (N // 2)).alias("doc_id"),
        (F.col("id") % 997).alias("a"),
        (F.col("id") % 1009).alias("b"),
    )
    # hot: one key takes 10% of all rows (1e7 copies), rest unique
    hot = spark.range(N).select(
        F.when(F.col("id") % 10 == 0, F.lit(-1)).otherwise(F.col("id")).alias("doc_id"),
        (F.col("id") % 997).alias("a"),
        (F.col("id") % 1009).alias("b"),
    )

    results: dict[str, float] = {}
    for dist_name, df in (("uniform", uniform), ("hot", hot)):
        for algo_name, fn in (
            ("salted", lambda d: salted_dups(d, "doc_id")),
            ("plain", lambda d: plain_dups(d, "doc_id")),
        ):
            fn(df).count()  # warmup (JIT)
            t0 = time.perf_counter()
            n = fn(df).count()
            dt = round(time.perf_counter() - t0, 2)
            results[f"{dist_name}_{algo_name}"] = dt
            print(f"# {dist_name}/{algo_name}: {n} dup keys in {dt}s", file=sys.stderr)
    print(json.dumps({"n_rows": N, **results}))


if __name__ == "__main__":
    main()
