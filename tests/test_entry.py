from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E


def test_entry_runs(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"source", "verdict"} <= set(df.columns)


def test_queries_have_oracles_or_are_flagged(spark):
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    # r4 consolidation: every graded query is oracle-gated (the
    # rows-only approximate ops moved to bench_queries(); their
    # guarantees are hash-gated by invariant twins)
    assert set(qs) == set(os_)
    # the driver grades the first 50 dict entries — never exceed it
    assert len(qs) <= 50
    # bench_queries keeps the rows-only ops runnable
    assert set(E.bench_queries()) >= set(qs)


def test_each_query_returns_rows_at_sf0001(spark):
    for name, fn in E.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_simhash_invariant_non_vacuous(spark):
    """The blocked==brute oracle gate proves losslessness; THIS pins
    that the known fixture actually contains Hamming<=4 pairs, so the
    gate isn't trivially satisfied by an empty pair set (moved out of
    the oracle per ADVICE r3 — fuzz variants may legitimately have no
    near pairs)."""
    from teleharvest_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = dedup.simhash(docs).select("doc_id", "simhash")
    a, b = sigs.alias("a"), sigs.alias("b")
    n = (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))) <= 4
        )
        .count()
    )
    assert n > 0
