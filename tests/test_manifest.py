from __future__ import annotations

import pyspark.sql.functions as F

from teleharvest_spark import datagen
from teleharvest_spark.config import CheckSuite
from teleharvest_spark.plans import manifest as M, suite as S


def test_resume_skips_validated_partitions(spark, sequences, suite, tmp_path):
    res = S.run_suite(sequences, suite)
    snaps = M.snapshot_of_partitions(sequences)
    M.append_manifest_rows(spark, str(tmp_path), res.verdicts, snaps, suite, "run1")
    man = M.read_manifest(spark, str(tmp_path))
    assert man.count() == snaps.count()
    # identical input + identical suite → nothing pending
    assert M.pending_partitions(snaps, man, suite).count() == 0


def test_snapshot_advance_requeues(spark, sequences, suite, tmp_path):
    res = S.run_suite(sequences, suite)
    snaps = M.snapshot_of_partitions(sequences)
    M.append_manifest_rows(spark, str(tmp_path), res.verdicts, snaps, suite, "run1")
    man = M.read_manifest(spark, str(tmp_path))
    # one partition gains a row → exactly that partition re-queues
    extra = spark.createDataFrame(
        [("doc_new", [1] * 20, 20, "src_03")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    grown = sequences.unionByName(extra)
    pend = M.pending_partitions(M.snapshot_of_partitions(grown), man, suite)
    assert [r["partition"] for r in pend.collect()] == ["src_03"]


def test_suite_change_requeues_everything(spark, sequences, suite, tmp_path):
    res = S.run_suite(sequences, suite)
    snaps = M.snapshot_of_partitions(sequences)
    M.append_manifest_rows(spark, str(tmp_path), res.verdicts, snaps, suite, "run1")
    man = M.read_manifest(spark, str(tmp_path))
    changed = CheckSuite(
        banned_tokens=suite.banned_tokens,
        allowed_sources=suite.allowed_sources,
        min_n_tok=suite.min_n_tok + 1,
    )
    assert M.pending_partitions(snaps, man, changed).count() == snaps.count()


def test_run_suite_verdicts_cover_all_sources(spark, sequences, suite):
    res = S.run_suite(sequences, suite)
    verdict_sources = {r["source"] for r in res.verdicts.collect()}
    data_sources = {r["source"] for r in sequences.select("source").distinct().collect()}
    assert verdict_sources == data_sources
    # violations present for every planted class
    names = {r["check_name"] for r in res.violations.select("check_name").distinct().collect()}
    assert {
        "null_payload",
        "empty_payload",
        "null_key",
        "too_short",
        "too_long",
        "inconsistent_n_tok",
        "banned_token",
        "unknown_source",
        "duplicate_key",
    } <= names


def test_length_changing_payload_update_requeues(spark, sequences, suite, tmp_path):
    """An UPDATE that keeps doc_id but changes n_tok (the classic
    late-data metric refresh) must re-queue its partition — the
    snapshot digest covers (doc_id, n_tok), not just the key set."""
    from pyspark.sql import functions as F

    res = S.run_suite(sequences, suite)
    snaps = M.snapshot_of_partitions(sequences)
    M.append_manifest_rows(spark, str(tmp_path), res.verdicts, snaps, suite, "run1")
    man = M.read_manifest(spark, str(tmp_path))
    # mutate ONE row's n_tok in src_02, same doc_id, same row count
    victim = sequences.where(F.col("source") == "src_02").limit(1).collect()[0]
    edited = sequences.withColumn(
        "n_tok",
        F.when(
            F.col("doc_id") == victim["doc_id"], F.col("n_tok") + 1
        ).otherwise(F.col("n_tok")),
    )
    pend = M.pending_partitions(M.snapshot_of_partitions(edited), man, suite)
    assert [r["partition"] for r in pend.collect()] == ["src_02"]


def _mrows(spark, rows):
    """rows: (partition, run, {metric: value}) → MANIFEST-schema frame"""
    from teleharvest_spark.schema import MANIFEST

    data = [
        (p, abs(hash((p, r))) % (1 << 40), f"flh_{p}_{r}", "s0", "pass", m, r)
        for p, r, m in rows
    ]
    return spark.createDataFrame(data, MANIFEST)


def test_compact_manifest_folds_files_and_preserves_rows(spark, tmp_path):
    out = str(tmp_path / "wh")
    path = M.manifest_path(out)
    for rid in ("r1", "r2", "r3"):
        _mrows(
            spark,
            [("a", rid, {"row_count": 10.0}), ("b", rid, {"row_count": 20.0})],
        ).repartition(4).write.mode("append").parquet(path)
    import os

    n_before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    # 2 rows can't fill 4 partitions; ≥2 files per append is enough to
    # prove accretion
    assert n_before >= 6
    rep = M.compact_manifest(spark, out)
    assert rep["rows"] == 6 and rep["files_after"] <= 4 < rep["files_before"]
    back = M.read_manifest(spark, out)
    assert back.count() == 6
    got = {(r["partition"], r["validated_at_run"], r["metrics"]["row_count"])
           for r in back.collect()}
    assert ("a", "r2", 10.0) in got and len(got) == 6


def test_compact_manifest_retires_replayed_duplicates(spark, tmp_path):
    """A crash-replayed run appends its rows twice under the same
    run_id: history bands must count the run once (read-side dedup),
    and compaction retires the duplicates permanently."""
    from teleharvest_spark.plans import history as H

    out = str(tmp_path / "wh")
    path = M.manifest_path(out)
    rows = _mrows(spark, [("a", "r1", {"null_rate": 0.5})])
    rows.write.mode("append").parquet(path)
    rows.write.mode("append").parquet(path)  # the replay
    assert M.read_manifest(spark, out).count() == 2
    hist = H.metrics_history(M.read_manifest(spark, out))
    assert hist.count() == 1  # band input counts the run once
    rep = M.compact_manifest(spark, out)
    assert rep["rows"] == 1
    assert M.read_manifest(spark, out).count() == 1


def test_compact_manifest_noop_on_empty(spark, tmp_path):
    rep = M.compact_manifest(spark, str(tmp_path / "nowhere"))
    assert rep == {"files_before": 0, "files_after": 0, "rows": 0}


def _anomalies(report):
    return {r["metric"]: r.asDict() for r in report.collect()}


def test_estimator_change_does_not_flag_stable_distinct_history(
    spark, suite, tmp_path
):
    """Runs before the DataSketches estimate stored HLL++ estimates
    under distinct_doc_id, and the sketch reads ~1% lower on the same
    data (99,859 vs 98,976 at 100k keys). On a partition whose history
    barely moves, one shared band would put the first sketch run far
    below -4σ and report the partition anomalous."""
    from teleharvest_spark.plans import history as H

    out = str(tmp_path / "wh")
    hll = [99859.0, 99871.0, 99850.0, 99866.0, 99855.0]
    _mrows(
        spark,
        [
            ("a", f"r{i}", {"row_count": 100000.0, "distinct_doc_id": v})
            for i, v in enumerate(hll)
        ],
    ).write.parquet(M.manifest_path(out))
    verdicts = spark.createDataFrame(
        [("a", "pass", 100000, 0, 0.0, [500, 900, 1000], 98976)],
        "source string, verdict string, row_count long, "
        "violation_rows long, null_rate double, "
        "ntok_quantiles array<int>, approx_distinct_doc_id long",
    )
    snaps = spark.createDataFrame(
        [("a", 7, "flh_a")],
        "partition string, snapshot_id long, file_list_hash string",
    )
    M.append_manifest_rows(spark, out, verdicts, snaps, suite, "r5")

    rep = _anomalies(H.anomaly_report(M.read_manifest(spark, out), "r5"))
    assert rep["distinct_doc_id_ds"]["value"] == 98976.0
    assert rep["distinct_doc_id_ds"]["hist_n"] == 0  # the band restarts
    assert not any(r["anomaly"] for r in rep.values())

    # the same estimate in the HLL++ history's band is the false alarm
    shared = M.read_manifest(spark, out).unionByName(
        _mrows(spark, [("a", "r5x", {"distinct_doc_id": 98976.0})])
    )
    rule = {"distinct_doc_id": H.DEFAULT_RULES["distinct_doc_id_ds"]}
    mixed = _anomalies(H.anomaly_report(shared, "r5x", rules=rule))
    assert mixed["distinct_doc_id"]["anomaly"]
    assert mixed["distinct_doc_id"]["zscore"] < -4
