"""Mergeable per-partition stat states (plans/states.py): merged
states must EQUAL the full-table aggregates (exact fields exactly,
sketch fields sketch-identically), dynamic overwrite must retire stale
states, and the resume drift baseline pooled from states must
reproduce the full-rescan baseline bit-for-bit."""

from __future__ import annotations

import pyspark.sql.functions as F

from teleharvest_spark import datagen
from teleharvest_spark.config import CheckSuite
from teleharvest_spark.operators.drift import ntok_histogram
from teleharvest_spark.plans import states as st


def _table(spark, n=8000):
    return datagen.generate_sequences(spark, n_rows=n)


def test_merged_states_equal_full_table(spark, tmp_path):
    df = _table(spark)
    out = str(tmp_path / "wh")
    st.write_states(df, out, run_id="r1")
    merged = st.merge_states(st.read_states(spark, out)).collect()[0]

    full = df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.col("tokens").isNull().cast("long")).alias("null_tokens"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
        F.sum(F.coalesce(F.col("n_tok").cast("long"), F.lit(0))).alias("sum_n_tok"),
        # the merged HLL union must equal ONE sketch over the whole
        # table — not just approximately: same registers, same estimate
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("doc_id"), F.lit(st.HLL_LG_K))
        ).alias("distinct_doc_id"),
        F.expr("percentile(n_tok, 0.5)").alias("true_p50"),
    ).collect()[0]

    for c in ("row_count", "null_tokens", "min_n_tok", "max_n_tok", "sum_n_tok"):
        assert merged[c] == full[c], c
    assert merged["distinct_doc_id"] == full["distinct_doc_id"]
    assert merged["null_rate"] == full["null_tokens"] / full["row_count"]
    # histogram: merged array == direct per-bucket counts
    direct = {
        r["bucket"]: r["cnt"]
        for r in ntok_histogram(df.withColumn("source", F.lit("all")), key="source")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    got_hist = {i: c for i, c in enumerate(merged["ntok_hist"]) if c > 0}
    assert got_hist == direct
    # bucketed median lands within one bucket width of the exact one
    assert abs(merged["p50_n_tok"] - full["true_p50"]) <= 128


def test_states_dynamic_overwrite_replaces_partition(spark, tmp_path):
    out = str(tmp_path / "wh")
    rows = [("d%d" % i, list(range(20)), 20, "a") for i in range(10)] + [
        ("e%d" % i, list(range(20)), 20, "b") for i in range(5)
    ]
    ddl = "doc_id string, tokens array<int>, n_tok int, source string"
    st.write_states(spark.createDataFrame(rows, ddl), out, run_id="r1")
    # partition a re-validated with HALF the rows; b untouched
    st.write_states(
        spark.createDataFrame(rows[:5], ddl), out, run_id="r2"
    )
    per = {
        r["partition"]: (r["row_count"], r["stated_at_run"])
        for r in st.read_states(spark, out).collect()
    }
    assert per == {"a": (5, "r2"), "b": (5, "r1")}
    assert (
        st.merge_states(st.read_states(spark, out)).collect()[0]["row_count"] == 10
    )


def test_pooled_hist_matches_full_scan(spark, tmp_path):
    df = _table(spark)
    out = str(tmp_path / "wh")
    st.write_states(df, out, run_id="r1")
    pooled = {
        r["bucket"]: r["cnt"]
        for r in st.pooled_hist_from_states(st.read_states(spark, out)).collect()
    }
    direct = {
        r["bucket"]: r["cnt"]
        for r in ntok_histogram(df)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert pooled == direct


def test_resume_drift_baseline_from_states_bitwise_parity(spark, tmp_path):
    """cli.run --resume --corpus-states derives the global drift
    baseline from stored states + the pending partitions' current
    histogram; the per-source ks/psi/drift_verdict values must equal
    the full-rescan path EXACTLY (same long counts in, same float
    math), while the full-table scan is skipped."""
    from teleharvest_spark import cli

    suite = CheckSuite()
    v1 = _table(spark, n=12000)
    inp1 = str(tmp_path / "v1")
    v1.write.parquet(inp1)
    # new drifted partition: src_01's rows renamed with n_tok shifted
    newp = (
        v1.where(F.col("source") == "src_01")
        .withColumn("source", F.lit("src_new"))
        .withColumn("doc_id", F.concat(F.lit("new_"), F.col("doc_id")))
        .withColumn("n_tok", F.col("n_tok") + F.lit(4000))
    )
    inp2 = str(tmp_path / "v2")
    spark.read.parquet(inp1).unionByName(newp).write.parquet(inp2)

    reports = {}
    for mode, flag in (("states", True), ("rescan", False)):
        out = str(tmp_path / f"wh_{mode}")
        cli.run(spark, inp1, out, suite, run_id="r1", corpus_states=flag)
        r2 = cli.run(
            spark, inp2, out, suite, run_id="r2", resume=True, corpus_states=flag
        )
        assert r2["partitions"] == 1  # only src_new pending
        reports[mode] = {
            r["source"]: (r["ks"], r["psi"], r["drift_verdict"])
            for r in spark.read.parquet(f"{out}/verdicts/r2").collect()
        }
    assert reports["states"] == reports["rescan"]
    assert set(reports["states"]) == {"src_new"}
    # the drifted partition actually drifts (non-vacuous)
    assert reports["states"]["src_new"][2] == "fail"


def test_corpus_stats_cli_report_only(spark, tmp_path, capsys):
    import json

    from teleharvest_spark import cli

    df = _table(spark, n=3000)
    out = str(tmp_path / "wh")
    st.write_states(df, out, run_id="r1")
    rc = cli.main(["--output", out, "--run-id", "x", "--corpus-stats"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["row_count"] == 3000
    assert rep["distinct_doc_id"] > 0 and "ntok_hist" not in rep


def test_null_snapshot_manifest_row_does_not_mark_partition_fresh():
    """The resume freshness probe keeps the inner-join rule it replaced:
    a (partition, snapshot_id, file_list_hash) key holding a NULL
    matches nothing, even a snapshot row that is NULL in the same place."""
    from teleharvest_spark.cli import _fresh_state_partitions

    def snap(p, sid, h):
        return {"partition": p, "snapshot_id": sid, "file_list_hash": h}

    snaps = [snap("a", None, "h"), snap("b", 7, None), snap("c", 9, "k")]
    manifest = [{**s, "validated_at_run": "r1"} for s in snaps]
    state_run = {"a": "r1", "b": "r1", "c": "r1"}
    assert _fresh_state_partitions(snaps, manifest, state_run, {"a", "b", "c"}) == {"c"}
