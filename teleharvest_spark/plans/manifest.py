"""Checkpoint manifest + resume — per-partition lineage and skip logic.

Reference analogue: every run re-derives where it left off from stored
state (`get_last_message_id` watermarks, processor.py:60-62) and
refreshes a bounded lookback window (processor.py:65-71). Here the
state is an explicit manifest table (FIXTURES.md T5): one row per
validated (partition, snapshot, suite-hash); resume anti-joins pending
partitions against it. In production the manifest is itself an Iceberg
table and `snapshot_id` is the Iceberg snapshot; locally we model a
snapshot as a hash of the partition's file list.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import CheckSuite
from ..schema import MANIFEST

MANIFEST_DIRNAME = "_validation_manifest"


def manifest_path(table_path: str) -> str:
    return os.path.join(table_path, MANIFEST_DIRNAME)


def read_manifest(spark: SparkSession, table_path: str) -> DataFrame:
    path = manifest_path(table_path)
    try:
        return spark.read.schema(MANIFEST).parquet(path)
    except Exception:
        from ..session import local_df

        return local_df(spark, [], MANIFEST)


def pending_partitions(
    all_partitions: DataFrame,  # (partition, snapshot_id, file_list_hash)
    manifest: DataFrame,
    suite: CheckSuite,
) -> DataFrame:
    """Partitions needing (re-)validation: not in the manifest under the
    SAME snapshot AND suite hash. A snapshot advance (late data) or a
    threshold change re-queues the partition — the reference's
    bounded-lookback refresh generalized (processor.py:65-71)."""
    done = manifest.where(F.col("suite_hash") == suite.suite_hash()).select(
        "partition", "snapshot_id", "file_list_hash"
    )
    return all_partitions.join(
        F.broadcast(done), ["partition", "snapshot_id", "file_list_hash"], "left_anti"
    )


def snapshot_of_partitions(sequences: DataFrame) -> DataFrame:
    """(partition, snapshot_id, file_list_hash) derived from content.

    Local stand-in for Iceberg partition snapshots: a deterministic
    hash of each source's row count and per-row (doc_id, n_tok)
    xor-digest. Inserts, deletes, key changes, and any length-changing
    payload update re-queue the partition; a payload edit that
    preserves BOTH doc_id and n_tok slips through this cheap proxy —
    hashing the token arrays would cost the full decode scan the
    manifest exists to avoid. Production uses the real Iceberg
    snapshot id, which no edit can dodge.
    """
    return (
        sequences.groupBy(
            F.coalesce(F.col("source"), F.lit("__null__")).alias("partition")
        )
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            # decimal sum, not bit_xor: order-independent AND
            # multiplicity-sensitive — xor cancels when a duplicated
            # (doc_id, n_tok) pair changes identically in both copies
            # (h^h = 0 before and after), which would keep the
            # snapshot_id stable across a real content change;
            # decimal(38) cannot overflow under ANSI at any row count
            F.expr(
                "sum(cast(xxhash64(doc_id, coalesce(n_tok, -1)) "
                "as decimal(38,0)))"
            ).alias("_idh"),
        )
        .select(
            "partition",
            # _idh hashed via its canonical string form — decimal
            # hashing semantics stay explicit and engine-stable
            F.abs(
                F.xxhash64(F.col("_cnt"), F.col("_idh").cast("string"))
            ).alias("snapshot_id"),
            F.sha2(F.concat_ws(",", F.col("_cnt"), F.col("_idh")), 256).alias("file_list_hash"),
        )
    )


def append_manifest_rows(
    spark: SparkSession,
    table_path: str,
    verdicts: DataFrame,  # from plans.suite — per-source verdict + metrics
    snapshots: DataFrame,
    suite: CheckSuite,
    run_id: str,
) -> None:
    """Record one manifest row per validated partition (append-only;
    latest (partition, suite_hash) wins on read via max snapshot)."""
    # FIXTURES.md T5 metrics map: core counts + p50/distinct always,
    # ks/psi when the run included the drift check. The distinct
    # estimate is keyed distinct_doc_id_ds (DataSketches HLL): earlier
    # runs stored HLL++ estimates under distinct_doc_id, which read ~1%
    # higher on the same data — more than a stable partition's
    # run-to-run spread, so one shared history band would flag the
    # first run after the estimator change as a shrink.
    keys = [F.lit("row_count"), F.lit("violation_rows"), F.lit("null_rate"),
            F.lit("p50_n_tok"), F.lit("distinct_doc_id_ds")]
    vals = [
        F.col("row_count").cast("double"),
        F.col("violation_rows").cast("double"),
        F.col("null_rate").cast("double"),
        F.element_at("ntok_quantiles", 1).cast("double"),
        F.col("approx_distinct_doc_id").cast("double"),
    ]
    if "ks" in verdicts.columns:
        keys += [F.lit("ks_stat"), F.lit("psi")]
        vals += [F.col("ks").cast("double"), F.col("psi").cast("double")]
    metrics = F.map_from_arrays(F.array(*keys), F.array(*vals))
    if "viol_by_check" in verdicts.columns:
        # per-check failure counts become viol_<check> metric keys —
        # history.py's viol_ prefix rule gives each one its own
        # cross-run band (absent key on clean runs = 0, see
        # AnomalyRule.absent_is_zero)
        metrics = F.map_concat(
            metrics,
            F.expr(
                "transform_values(transform_keys("
                "coalesce(viol_by_check, cast(map() as map<string,bigint>)), "
                "(k, v) -> concat('viol_', k)), (k, v) -> cast(v as double))"
            ),
        )
    rows = (
        verdicts.select(
            F.coalesce(F.col("source"), F.lit("__null__")).alias("partition"),
            F.col("verdict"),
            metrics.alias("metrics"),
        )
        .join(F.broadcast(snapshots), "partition", "inner")
        .select(
            "partition",
            "snapshot_id",
            "file_list_hash",
            F.lit(suite.suite_hash()).alias("suite_hash"),
            "verdict",
            "metrics",
            F.lit(run_id).alias("validated_at_run"),
        )
    )
    rows.write.mode("append").parquet(manifest_path(table_path))


def compact_manifest(spark: SparkSession, table_path: str) -> dict:
    """Fold the append-accumulated manifest back to a bounded file
    count. Every validation run appends one file set
    (:func:`append_manifest_rows`), so years of nightly runs leave
    thousands of tiny files under ``_validation_manifest`` and listing
    starts to dominate the resume anti-join's read.

    ``dropDuplicates`` here also retires exact-duplicate rows: a run
    that crashed AFTER its manifest append and was replayed under the
    same run_id appended its rows twice (history.py additionally
    dedups on read so band sums stay correct in the interim). The swap
    is the compact_partitioned idiom (writer.py:111): staging dir
    written completely, two renames; a crash inside the rename window
    leaves no manifest → the next resume re-validates everything —
    the safe direction. In production the manifest is an Iceberg table
    and this is ``rewrite_data_files`` (an atomic snapshot commit).
    Returns {files_before, files_after, rows}.
    """
    import os
    import shutil

    path = manifest_path(table_path)

    def _count_files(p: str) -> int:
        if not os.path.isdir(p):
            return 0
        return sum(
            1
            for _root, _dirs, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    before = _count_files(path)
    # map columns can't join set ops; the non-map columns ARE the row
    # identity (a duplicate key carries an identical metrics map)
    df = read_manifest(spark, table_path).dropDuplicates(
        ["partition", "snapshot_id", "file_list_hash", "suite_hash",
         "validated_at_run"]
    )
    n = df.count()
    if n == 0 or before <= 1:
        return {"files_before": before, "files_after": before, "rows": n}
    staging = path.rstrip("/") + "__compact"
    shutil.rmtree(staging, ignore_errors=True)
    # manifest rows are metadata-sized (|partitions| × |runs|): a small
    # fixed file count is right even for years of history
    df.coalesce(4).write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + "__precompact"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return {"files_before": before, "files_after": _count_files(path), "rows": n}
