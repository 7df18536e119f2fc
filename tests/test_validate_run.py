"""cli.run's report totals, its Spark job count, and the write-tail
commit order.

The report's validated_rows / violations / partitions come from the
one collected verdict table; these tests hold them to counts taken
independently from the input and the written outputs, with NULL and
'' sources present, and pin that the manifest (the resume contract)
commits only after every tail write has succeeded.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from teleharvest_spark import cli, datagen
from teleharvest_spark.config import CheckSuite
from teleharvest_spark.plans import manifest as mf

# The validate_full flags: drift, certify, key index and states.
_FULL = dict(drift=True, key_index=True, corpus_states=True)


def _suite():
    return CheckSuite(
        banned_tokens=datagen.BANNED_IDS,
        allowed_sources=tuple(datagen.SOURCES),
    )


def _input(spark, suite, path, n=3000):
    """Generated rows plus extra rows under a NULL and an '' source."""
    df = datagen.generate_sequences(spark, n, suite)
    extra = df.limit(40).select(
        F.concat(F.lit("x"), F.col("doc_id")).alias("doc_id"),
        "tokens",
        "n_tok",
        F.when(F.col("n_tok") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit(""))
        .alias("source"),
    )
    df.unionByName(extra).write.parquet(path)
    return spark.read.parquet(path)


def _max_job_id(spark) -> int:
    # the status store is fed by the listener bus; drain it first
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


def test_report_totals_match_independent_counts(spark, tmp_path):
    suite = _suite()
    inp = _input(spark, suite, str(tmp_path / "seqs"))
    n_input = inp.count()
    n_sources = inp.select("source").distinct().count()  # NULL counts once
    assert inp.where(F.col("source").isNull()).count() > 0
    assert inp.where(F.col("source") == "").count() > 0

    def run(name, **kw):
        out = str(tmp_path / name)
        rep = cli.run(
            spark, str(tmp_path / "seqs"), out, suite, run_id="r1",
            emit_valid=f"{out}/certified", **_FULL, **kw,
        )
        return out, rep

    before = _max_job_id(spark)
    out, rep = run("full")
    jobs = _max_job_id(spark) - before
    # measured 34 with these flags on local[4]; 45 while the verdict
    # table was evaluated three times and its totals recounted
    assert jobs <= 34 + 2, jobs

    n_viol = spark.read.parquet(f"{out}/violations").count()
    assert n_viol > 0
    assert rep["validated_rows"] == n_input
    assert rep["violations"] == n_viol
    assert rep["partitions"] == n_sources
    assert spark.read.parquet(f"{out}/verdicts/r1").count() == n_sources

    before = _max_job_id(spark)
    out_s, rep_s = run("sampled", violation_sample=1)
    jobs_s = _max_job_id(spark) - before
    # measured 40; 52 with the verdict table evaluated three times
    assert jobs_s <= 40 + 2, jobs_s
    assert rep_s["validated_rows"] == n_input
    # the exact total, not the written sample
    assert rep_s["violations"] == n_viol
    assert rep_s["violations_written"] == (
        spark.read.parquet(f"{out_s}/violations").count()
    ) < n_viol
    assert rep_s["partitions"] == n_sources
    assert spark.read.parquet(f"{out_s}/verdicts/r1").count() == n_sources


def test_certify_failure_leaves_no_manifest_and_resume_rewrites(
    spark, tmp_path, monkeypatch
):
    suite = _suite()
    inp_path = str(tmp_path / "seqs")
    inp = _input(spark, suite, inp_path)
    out = str(tmp_path / "wh")
    cert = f"{out}/certified"
    real_write = cli.write_partitioned

    def failing_write(df, path, *args, **kwargs):
        if path != cert:
            return real_write(df, path, *args, **kwargs)
        # a partial certified table — every src_00 row, failing ones
        # too — then the write dies
        inp.where(F.col("source") == "src_00").withColumn(
            "source_dir", F.col("source")
        ).write.partitionBy("source_dir").parquet(cert)
        raise RuntimeError("certified write failed")

    monkeypatch.setattr(cli, "write_partitioned", failing_write)
    with pytest.raises(RuntimeError, match="certified write failed"):
        cli.run(spark, inp_path, out, suite, run_id="r1", emit_valid=cert, **_FULL)
    monkeypatch.setattr(cli, "write_partitioned", real_write)

    man = mf.read_manifest(spark, out)
    assert man.where(F.col("validated_at_run") == "r1").count() == 0

    rep = cli.run(
        spark, inp_path, out, suite, run_id="r2", emit_valid=cert,
        resume=True, **_FULL,
    )
    assert not rep["skipped"]
    assert rep["validated_rows"] == inp.count()
    viol_ids = spark.read.parquet(f"{out}/violations").select(
        F.col("doc_id").alias("_v")
    ).distinct()
    expected = inp.join(
        viol_ids, F.col("doc_id").eqNullSafe(F.col("_v")), "left_anti"
    )

    def digest(df):
        return df.select(
            F.count(F.lit(1)),
            F.bit_xor(F.xxhash64("doc_id", "n_tok", "source")),
        ).first()

    assert digest(spark.read.parquet(cert)) == digest(expected)
    assert rep["certified_rows"] == expected.count()
