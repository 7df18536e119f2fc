"""spark-submit entrypoint for a full validation run.

Cluster usage (north_rule packaging contract):

    scripts/package.sh            # → dist/teleharvest_spark.zip
    spark-submit \
        --master yarn --deploy-mode cluster \
        --py-files dist/teleharvest_spark.zip \
        scripts/run_validation.py \
        --input /data/sequences --output /data/validation \
        --run-id 2026-08-16a --resume

Reads the sequences table (parquet path here; Iceberg table name on a
cluster with the runtime jars — see sources/iceberg.py), runs the full
check suite (cascade + uniqueness + stats + verdicts), writes the
violations and verdicts tables, and appends checkpoint-manifest rows so
a re-run with ``--resume`` skips partitions whose snapshot and suite
hash are unchanged (reference analogue: watermark re-derivation,
processor.py:60-63, and bounded lookback refresh, processor.py:65-71).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import CheckSuite
from .plans import manifest as mf
from .plans import suite as suite_plan
from .session import get_spark, local_df
from .sources.writer import dir_key_value, write_partitioned

BASELINE_DIRNAME = "_drift_baseline"

# certified-write layout gate: inline (no-exchange) while scan_tasks ×
# |sources| stays under this many output files, clustered shuffle above
CERTIFY_INLINE_FILE_CAP = 5_000


def _read_stored_baseline(spark: SparkSession, output_path: str) -> DataFrame | None:
    """The previous run's per-source n_tok histogram (None before the
    first drift-enabled run) — read via the versioned pointer layout
    shared with the streaming refresh sink."""
    from .streaming import refresh as vsink

    bl_dir = os.path.join(output_path, BASELINE_DIRNAME)
    if vsink._latest_version(bl_dir) is None:
        return None
    return vsink.read_stored(spark, bl_dir)


def _store_baseline(
    spark: SparkSession,
    output_path: str,
    hist: DataFrame,
    prev: DataFrame | None,
    run_id: str,
) -> None:
    """Persist this run's histogram as the NEXT run's temporal drift
    baseline (versioned single write + atomic pointer flip). On a
    resume-filtered run ``hist`` covers only the revalidated sources,
    so the stored baseline is merged: previous rows for untouched
    sources + fresh rows for revalidated ones — the baseline always
    reflects each source's most recent validation."""
    from .streaming import refresh as vsink

    bl_dir = os.path.join(output_path, BASELINE_DIRNAME)
    out = hist
    if prev is not None:
        untouched = prev.join(
            hist.select("source").distinct(), "source", "left_anti"
        )
        out = untouched.unionByName(hist)
    vname = f"v{run_id}"
    vdir = os.path.join(bl_dir, vname)
    out.write.mode("overwrite").parquet(vdir)
    vsink._flip_pointer(bl_dir, vname)
    vsink._gc_versions(bl_dir, vname)


def build_suite(path: str | None) -> CheckSuite:
    """Suite from a JSON file of threshold overrides (driver-side read,
    reference analogue: Settings/.env, settings.py:8-62)."""
    if not path:
        return CheckSuite()
    with open(path, encoding="utf-8") as f:
        overrides = json.load(f)
    for k in ("banned_tokens", "allowed_sources"):
        if k in overrides:
            overrides[k] = tuple(overrides[k])
    if "custom_checks" in overrides:
        overrides["custom_checks"] = tuple(
            (str(n), str(e)) for n, e in overrides["custom_checks"]
        )
    if "check_tolerances" in overrides:
        overrides["check_tolerances"] = tuple(
            (str(n), float(v)) for n, v in overrides["check_tolerances"]
        )
    if "stat_checks" in overrides:
        overrides["stat_checks"] = tuple(
            (str(n), str(e)) for n, e in overrides["stat_checks"]
        )
    return CheckSuite(**overrides)


TOKEN_BASELINE_DIRNAME = "_token_drift_baseline"


def token_drift_pass(
    spark: SparkSession,
    sequences,
    output_path: str,
    suite: CheckSuite,
    run_id: str,
) -> dict:
    """Opt-in temporal VOCAB-shift drift: token-id histogram of this
    run vs each source's stored histogram from the last pass.

    Deliberately a separate scan from the check suite: the suite's
    one-decode contract (plans/suite.py) is its throughput floor, and
    fusing an explode into the fused violations plan would break it —
    so vocab drift costs one additional decode pass and is opt-in
    (``--token-drift``). Output: ``<out>/token_drift/<run_id>`` with
    per-source (ks, psi, drift_verdict); first pass (no stored
    baseline) writes the baseline and reports no metrics.
    """
    from .operators import drift as drift_ops
    from .streaming import refresh as vsink

    bl_dir = os.path.join(output_path, TOKEN_BASELINE_DIRNAME)
    hist = drift_ops.token_id_histogram(sequences).persist()
    prev = None
    if vsink._latest_version(bl_dir) is not None:
        prev = vsink.read_stored(spark, bl_dir)
    report: dict = {"token_drift_baseline": prev is not None}
    if prev is not None:
        # Resume runs pass a partition-filtered ``sequences``: sources
        # skipped this run are present in the stored baseline but absent
        # from this run's histogram, and the full-outer alignment would
        # score them ks=1.0/psi=inf ("all mass vanished"). Those sources
        # were not validated this run — restrict the metrics to sources
        # actually observed. Novel sources (in hist, not in baseline)
        # still fail loudly, as documented.
        observed = hist.select("source").distinct()
        metrics = drift_ops.drift_verdicts(
            drift_ops.drift_metrics(hist, prev).join(observed, "source", "semi"),
            suite,
        )
        out_path = f"{output_path}/token_drift/{run_id}"
        metrics.write.mode("overwrite").parquet(out_path)
        rows = spark.read.parquet(out_path)
        report["token_drift_sources"] = rows.count()
        report["token_drift_failed"] = rows.where(
            F.col("drift_verdict") == "fail"
        ).count()
    # advance the baseline (merge over untouched sources, as the n_tok
    # temporal baseline does)
    out = hist
    if prev is not None:
        untouched = prev.join(hist.select("source").distinct(), "source", "left_anti")
        out = untouched.unionByName(hist)
    vname = f"v{run_id}"
    vdir = os.path.join(bl_dir, vname)
    out.write.mode("overwrite").parquet(vdir)
    vsink._flip_pointer(bl_dir, vname)
    vsink._gc_versions(bl_dir, vname)
    hist.unpersist()
    return report


def drift_fdr_pass(
    spark: SparkSession,
    sequences,
    output_path: str,
    run_id: str,
    alpha: float,
    baseline_hist=None,
    hist=None,
) -> dict:
    """Opt-in FDR-controlled drift verdicts (``--drift-fdr ALPHA``).

    The suite's fixed-threshold KS/PSI gate is a MAGNITUDE gate; at
    many sources it needs a significance complement — on a perfectly
    stable corpus, per-source α=0.05 tests flag ~5% of sources
    spuriously. This pass converts each source's KS statistic to an
    asymptotic p-value and applies Benjamini–Hochberg across sources
    (operators/drift.drift_fdr), so expected false flags among the
    flagged ≤ α however many sources exist. Baseline: the stored
    temporal baseline when the run uses one, else the pooled current
    corpus (the drift_vs_global shape). With a stored PER-SOURCE
    baseline the pass also runs the categorical mix-shift χ² test
    (did the source COMPOSITION move? — an upstream feed dying or
    doubling shifts the mix before any payload drifts). Output:
    ``<out>/drift_fdr/<run_id>``; metrics restricted to sources
    observed THIS run (resume-filtered inputs must not score skipped
    sources as vanished).
    """
    from .operators import drift as drift_ops

    # reuse the suite's persisted histogram when drift ran (res.hist):
    # rebuilding it here would re-scan the fact table — the single most
    # expensive unit at the design scale — for rows the suite already
    # aggregated this run
    own_hist = hist is None
    if own_hist:
        hist = drift_ops.ntok_histogram(sequences).persist()
    has_stored_baseline = baseline_hist is not None and "source" in baseline_hist.columns
    if baseline_hist is None:
        baseline_hist = hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    observed = hist.select("source").distinct()
    # the restriction happens INSIDE drift_fdr, before Benjamini-
    # Hochberg: baseline-only sources (vanished or resume-skipped)
    # carry p=0 and would otherwise inflate n_tests and loosen every
    # real source's step-up threshold
    out = drift_ops.drift_fdr(
        hist, baseline_hist, alpha=alpha, restrict_to=observed
    )
    out_path = f"{output_path}/drift_fdr/{run_id}"
    out.write.mode("overwrite").parquet(out_path)
    rows = spark.read.parquet(out_path)
    rejected = rows.where(F.col("reject"))
    n_rejected = rejected.count()
    report = {
        "drift_fdr_alpha": alpha,
        "drift_fdr_sources": rows.count(),
        "drift_fdr_rejected": n_rejected,
    }
    # WHERE the drift lives, for the flagged sources only: top-5
    # buckets of the exact per-bucket PSI decomposition
    # (drift_ops.drift_contributions — histogram-sized, no rescan).
    # Written UNCONDITIONALLY: a zero-rejection replay of the same
    # run_id must overwrite (with an empty table) rather than leave
    # the previous replay's decomposition readable as current — the
    # run_id-keyed replay-idempotence contract every artifact follows.
    buckets = drift_ops.drift_contributions(
        hist, baseline_hist, top_k=5, restrict_to=rejected.select("source")
    )
    buckets_path = f"{output_path}/drift_buckets/{run_id}"
    buckets.write.mode("overwrite").parquet(buckets_path)
    report["drift_buckets_rows"] = spark.read.parquet(buckets_path).count()
    if has_stored_baseline:
        # categorical complement: did the source MIX move vs the stored
        # baseline? Both sides restricted to sources observed THIS run
        # (under --resume a skipped source is not a vanished source).
        obs_counts = hist.groupBy("source").agg(F.sum("cnt").alias("cnt"))
        base_counts = (
            baseline_hist.groupBy("source")
            .agg(F.sum("cnt").alias("cnt"))
            .join(observed, "source", "semi")
        )
        mix = drift_ops.source_mix_shift(
            obs_counts, base_counts, alpha=alpha
        ).collect()[0]
        report.update(
            {
                "mix_chi2": None if mix.chi2 == float("inf") else round(mix.chi2, 4),
                "mix_p_value": mix.p_value,
                "mix_verdict": mix.mix_verdict,
            }
        )
    if own_hist:
        hist.unpersist()
    return report


def reconcile_pass(
    spark: SparkSession,
    input_path: str,
    against_path: str,
    output_path: str,
    run_id: str,
    keys: tuple[str, ...] = ("doc_id",),
    method: str = "hash",
) -> dict:
    """Table parity check (``--reconcile-against``): the current input
    vs a reference snapshot (yesterday's table, the pre-migration copy,
    the certified output).

    Checksum-first: per-partition order-independent content checksums
    decide WHICH partitions differ at one-scan cost; only those enter
    the row-level keyed diff (operators/reconcile.targeted_diff), so a
    100 TB table with a few touched partitions row-diffs only the
    touched slice. Writes ``<out>/reconcile/<run_id>`` (per-partition
    verdicts) and ``<out>/reconcile_diff/<run_id>`` (added / removed /
    changed keys); run_id-keyed overwrite = replay-idempotent.
    """
    from .operators import reconcile as rc

    new = spark.read.parquet(input_path)
    old = spark.read.parquet(against_path)
    verdicts, diff = rc.targeted_diff(old, new, "source", keys, method=method)
    verdicts.write.mode("overwrite").parquet(f"{output_path}/reconcile/{run_id}")
    diff.write.mode("overwrite").parquet(f"{output_path}/reconcile_diff/{run_id}")
    # one read per written artifact — the stored copies serve both the
    # drill-down filter and the report counts
    v = spark.read.parquet(f"{output_path}/reconcile/{run_id}")
    d = spark.read.parquet(f"{output_path}/reconcile_diff/{run_id}")
    # column drill-down for the touched partitions only — which COLUMN
    # changed; same |partitions|-sized cost class as the checksums
    bad = v.where(F.col("status") == "content_mismatch").select("source")
    cols = rc.reconcile_columns(
        old.join(F.broadcast(bad), old["source"].eqNullSafe(bad["source"]), "left_semi"),
        new.join(F.broadcast(bad), new["source"].eqNullSafe(bad["source"]), "left_semi"),
        "source",
    ).where(F.col("status") != "match")
    cols.write.mode("overwrite").parquet(f"{output_path}/reconcile_columns/{run_id}")
    by_status = {
        r["status"]: r["n"]
        for r in v.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    diff_by = {
        r["status"]: r["n"]
        for r in d.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    changed_cols = sorted(
        r["column"]
        for r in spark.read.parquet(f"{output_path}/reconcile_columns/{run_id}")
        .select("column")
        .distinct()
        .collect()
    )
    return {
        "run_id": run_id,
        "reconcile_partitions": sum(by_status.values()),
        "reconcile_matched": by_status.get("match", 0),
        "reconcile_by_status": by_status,
        "diff_rows": sum(diff_by.values()),
        "diff_by_status": diff_by,
        "changed_columns": changed_cols,
    }


HOT_TOKENS_DIRNAME = "_hot_tokens_baseline"


def hot_tokens_pass(
    spark: SparkSession,
    sequences,
    output_path: str,
    run_id: str,
    k: int = 64,
    capacity: int = 4096,
) -> dict:
    """Opt-in cross-run HOT-TOKEN churn: this run's guaranteed top-k
    token table (Misra-Gries, operators/sketch.py) vs the previous
    run's stored table.

    Complements the PSI vocab drift (``--token-drift``): PSI scores
    the whole bucketed distribution with one number; churn names WHICH
    high-frequency ids entered or left the head — the tokenizer-
    regression / template-injection early warning — at sketch cost
    (one narrow pass, ≤ k-row stored state) instead of a second
    vocab-keyed histogram. Output: ``<out>/hot_tokens/<run_id>`` rows
    ``(token, est_lo, est_hi, status ∈ entered|held|exited)``; the
    stored baseline advances via the versioned-pointer store (the
    token-drift convention), so a crashed pass never half-replaces it.
    First pass writes the baseline and reports churn vs an empty head.
    """
    from .operators.sketch import token_heavy_hitters
    from .streaming import refresh as vsink

    bl_dir = os.path.join(output_path, HOT_TOKENS_DIRNAME)
    cur = token_heavy_hitters(sequences, k=k, capacity=capacity)  # ≤ k rows, eager
    prev = None
    if vsink._latest_version(bl_dir) is not None:
        prev = vsink.read_stored(spark, bl_dir)
    report: dict = {"hot_tokens_baseline": prev is not None}
    if prev is not None:
        prev_keyed = prev.select(F.col("tokens"), F.lit(True).alias("_was_hot"))
        joined = cur.join(prev_keyed, "tokens", "full_outer")
        status = (
            F.when(F.col("est_lo").isNull(), F.lit("exited"))
            .when(F.col("_was_hot").isNull(), F.lit("entered"))
            .otherwise(F.lit("held"))
        )
        rows = joined.select(
            F.col("tokens").alias("token"), "est_lo", "est_hi",
            status.alias("status"),
        )
        out_path = f"{output_path}/hot_tokens/{run_id}"
        rows.write.mode("overwrite").parquet(out_path)
        by = {
            r["status"]: r["n"]
            for r in spark.read.parquet(out_path)
            .groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        held = by.get("held", 0)
        report["hot_tokens_entered"] = by.get("entered", 0)
        report["hot_tokens_exited"] = by.get("exited", 0)
        report["hot_tokens_overlap"] = round(
            held / max(held + by.get("entered", 0), 1), 4
        )
    vname = f"v{run_id}"
    vdir = os.path.join(bl_dir, vname)
    cur.write.mode("overwrite").parquet(vdir)
    vsink._flip_pointer(bl_dir, vname)
    vsink._gc_versions(bl_dir, vname)
    return report


def _fresh_state_partitions(snap_rows, manifest_rows, state_run, candidates) -> set:
    """Partitions of ``candidates`` whose stored state was written by a
    run that validated their CURRENT snapshot.

    The (partition, snapshot_id, file_list_hash) inner join of the
    manifest against the current snapshots runs as a set probe over
    collected rows. As with SQL ``=``, a key holding a NULL matches
    nothing, so such tuples are left out on both sides.
    """

    def key(r):
        k = (r["partition"], r["snapshot_id"], r["file_list_hash"])
        return None if None in k else k

    snap_keys = {key(r) for r in snap_rows} - {None}
    cur_runs: dict[str, set] = {}
    for r in manifest_rows:
        if key(r) in snap_keys:
            cur_runs.setdefault(dir_key_value(r["partition"]), set()).add(
                r["validated_at_run"]
            )
    return {
        p
        for p in candidates
        if p in state_run and state_run[p] in cur_runs.get(p, set())
    }


def run(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    suite: CheckSuite,
    run_id: str,
    resume: bool = False,
    drift: bool = True,
    source_dim_path: str | None = None,
    drift_baseline: str = "global",
    token_drift: bool = False,
    hot_tokens: bool = False,
    drift_fdr_alpha: float | None = None,
    history_anomalies: bool = False,
    schema_contract: bool = True,
    on_schema_mismatch: str = "fail",
    key_index: bool = False,
    corpus_states: bool = False,
    violation_sample: int | None = None,
    emit_valid: str | None = None,
    sample_frac: float | None = None,
    slice_spec: tuple[str, ...] | None = None,
    slice_min_support: int = 30,
    slice_top_k: int | None = None,
    slice_min_lift: float = 1.5,
) -> dict:
    """``sample_frac`` — PRE-FLIGHT mode: validate a deterministic
    content-hash sample (xxhash64(doc_id) carve, so the same rows
    sample at any partitioning/parallelism; NULL doc_ids sample
    atomically — xxhash64 of NULL is a constant). A systematic
    problem surfaces at ~frac of the full-scan cost before the 100 TB
    run is committed. A sampled run must leave NO durable state a
    full run would trust: the manifest is NOT appended (sampled
    partitions are not validated partitions), violations land under
    ``violations_preflight/<run_id>`` (run-keyed overwrite, never the
    real violations table), and stateful options (resume, emit_valid,
    key_index, corpus_states, token_drift, hot_tokens,
    drift_baseline='previous') are refused — each would advance or
    consume cross-run state from a partial view. The report carries
    ``estimated_violations`` = observed/frac. Uniqueness caveat
    (documented, inherent): duplicates are detected only WITHIN the
    sample — a key's duplicates land in the same sample by
    construction (the carve is keyed on doc_id), so exact-key dup
    detection survives sampling; cross-key anomalies like count
    drift scale by frac.

    ``drift_baseline``:

    * ``"global"`` — each source vs the pooled current corpus (cross-
      source drift, the round-1 behavior).
    * ``"previous"`` — each source vs ITS OWN histogram from the last
      drift-enabled run (temporal drift: "did this source's
      distribution move since the previous validation?" — the
      production freshness check). First run falls back to global; a
      source absent from the stored baseline compares against zero
      counts and fails loudly (novel sources are drift by definition).
      Every drift-enabled run stores its histogram for the next one.

    ``key_index=True`` maintains the persisted per-partition doc_id
    occurrence index (``<out>/_key_index``) and, under ``--resume``,
    folds already-validated partitions' counts into the uniqueness
    check — WITHOUT it, a resume run's uniqueness scope is the pending
    partitions only, and a doc_id duplicated against an
    already-validated partition passes silently (documented
    trade-off: the index costs one column-pruned (source, doc_id)
    aggregate per run).
    """
    if sample_frac is not None:
        if not 0.0 < sample_frac <= 1.0:
            raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
        refused = {
            "resume": resume, "emit_valid": emit_valid, "key_index": key_index,
            "corpus_states": corpus_states, "token_drift": token_drift,
            "hot_tokens": hot_tokens,
            "drift_baseline='previous'": drift_baseline == "previous",
            # a sampled slice lattice would under-count every bucket
            # by ~frac with per-bucket noise — not a diagnostic to
            # store under the real slices layout
            "slice_spec": slice_spec,
        }
        bad = [k for k, v in refused.items() if v]
        if bad:
            raise ValueError(
                f"pre-flight sample_frac is incompatible with {', '.join(bad)}: "
                "a sampled run must not advance or consume cross-run state"
            )
    if resume and hot_tokens:
        # hot-token churn is a FULL-corpus statement: computed over the
        # resume-filtered pending partitions it would report every
        # skipped source's head tokens as 'exited' AND overwrite the
        # stored baseline with the partial head, corrupting the next
        # full run's churn. token_drift merges untouched sources from
        # its per-source stored state; the global top-k sketch has no
        # per-source state to merge, so the combination is refused.
        raise ValueError(
            "--hot-tokens is incompatible with --resume: the churn "
            "sketch is a full-corpus statement and would replace the "
            "stored baseline with a pending-only head — run it on "
            "full runs"
        )
    sequences = spark.read.parquet(input_path)
    schema_report: dict = {}
    if schema_contract:
        # pure-metadata gate: static contract + temporal schema drift,
        # refused BEFORE any job is submitted (plans/contract.py) — a
        # shape break must not surface as an executor error after
        # scheduling a 100 TB scan
        from .plans import contract as ct

        schema_report = ct.schema_gate(
            spark,
            sequences.schema,
            output_path,
            run_id,
            on_mismatch=on_schema_mismatch,
        )
    source_dim = spark.read.parquet(source_dim_path) if source_dim_path else None

    if sample_frac is not None:
        # content-hash carve BEFORE any aggregation: partition-keyed on
        # doc_id so every row of a key samples together (exact-key dup
        # detection survives; see docstring). The filter rides the scan
        # as a pushed/codegen predicate — no extra pass.
        scale = 1_000_000
        sequences = sequences.where(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(scale))
            < F.lit(int(sample_frac * scale))
        )

    snapshots = mf.snapshot_of_partitions(sequences)
    baseline_hist = None
    prev_baseline = None
    drift_exclude_self = None  # run_suite auto unless resume overrides
    if drift and drift_baseline == "previous":
        prev_baseline = _read_stored_baseline(spark, output_path)
        baseline_hist = prev_baseline
    if resume:
        # The snapshot frame is |sources| rows derived from a full
        # (column-pruned) table aggregate, and the resume path
        # references it up to four times (pending anti-join, the
        # non-pending set, the freshness join, the manifest append) —
        # unlocalized, EACH reference re-ran the scan. One collect
        # pins it driver-side; every later use is metadata-sized.
        snap_rows = snapshots.collect()
        snapshots = local_df(spark, snap_rows, snapshots.schema)
        # the manifest is metadata-sized (one row per validated
        # partition-snapshot); localized, the pending anti-join and the
        # states freshness bookkeeping below become LocalRelation-only
        # (or pure-driver) work instead of re-reading the manifest
        # parquet per reference
        manifest_rows = mf.read_manifest(spark, output_path).collect()
        manifest = local_df(spark, manifest_rows, mf.MANIFEST)
        pending = mf.pending_partitions(snapshots, manifest, suite)
        pending_sources = [r["partition"] for r in pending.select("partition").collect()]
        if not pending_sources:
            return {"run_id": run_id, "validated_rows": 0, "skipped": True,
                    **schema_report}
        if drift and baseline_hist is None:
            # Global mode only (the temporal baseline is already full-
            # coverage): the drift_vs_global baseline must pool the
            # FULL table, not just the pending partitions — with a
            # single pending source the filtered pool would be that
            # source compared against itself (KS/PSI ≈ 0) and the gate
            # would silently pass.
            from .operators import drift as drift_ops

            pooled_stored = None
            if corpus_states:
                # Skipped partitions' histograms come from their
                # STORED states instead of a full-table rescan —
                # exact, because a partition is only skipped when its
                # snapshot (content) is unchanged. Pending partitions
                # pool their CURRENT histogram (a pending-only scan).
                # Falls back to the rescan when any non-pending
                # source lacks a state (flag enabled mid-history).
                from .plans import states as st

                # ONE bounded collect of the (|partitions|-row) state
                # table; every decision below — freshness, coverage,
                # the pooled histogram itself — is pure driver
                # arithmetic over already-local rows (snapshots and
                # the manifest were collected above). The previous
                # shape ran three extra metadata-sized Spark jobs per
                # resume (state_run collect, freshness join collect,
                # pooled-hist aggregate) — fixed scheduling overhead
                # the states mode paid on every run.
                stored_rows = (
                    st.read_states(spark, output_path)
                    .select("partition", "stated_at_run", "ntok_hist")
                    .collect()
                )
                state_run = {
                    r["partition"]: r["stated_at_run"] for r in stored_rows
                }
                non_pending = {
                    dir_key_value(r["partition"]) for r in snap_rows
                } - {dir_key_value(p) for p in pending_sources} - {"__null__"}
                # FRESHNESS, not just existence: a partition
                # re-validated by a later run WITHOUT --corpus-states
                # has a manifest row for its current snapshot whose
                # validated_at_run the state's stated_at_run no longer
                # matches — pooling that state would bake a pre-change
                # histogram into the baseline. All metadata-sized.
                fresh = _fresh_state_partitions(
                    snap_rows, manifest_rows, state_run, non_pending
                )
                if non_pending <= fresh:
                    # restrict to CURRENT non-pending partitions: a
                    # source whose data vanished from the input keeps
                    # its stored state row, and pooling it would add a
                    # ghost source's mass to the baseline. Pooling =
                    # element-wise sum of the stored arrays, driver-
                    # side (mirrors states.pooled_hist_from_states,
                    # whose __null__/pending exclusions are already
                    # folded into non_pending), shipped back as a
                    # LocalRelation.
                    from .operators.drift import N_TOK_BUCKETS

                    pooled = [0] * N_TOK_BUCKETS
                    for r in stored_rows:
                        if r["partition"] in non_pending:
                            for i, c in enumerate(r["ntok_hist"] or []):
                                pooled[i] += c
                    pooled_stored = local_df(
                        spark,
                        [(i, c) for i, c in enumerate(pooled) if c > 0],
                        "bucket int, cnt bigint",
                    )
            if pooled_stored is not None:
                pending_seq = sequences.where(
                    F.coalesce(F.col("source"), F.lit("__null__")).isin(
                        pending_sources
                    )
                )
                baseline_hist = (
                    drift_ops.ntok_histogram(pending_seq)
                    .select("bucket", "cnt")
                    .unionByName(pooled_stored)
                    .groupBy("bucket")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            else:
                baseline_hist = (
                    drift_ops.ntok_histogram(sequences)
                    .groupBy("bucket")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            # this pool is the CURRENT corpus, not a temporal
            # baseline — leave-one-out applies exactly as it would
            # in a full drift_vs_global run, keeping resume verdicts
            # equal to the full run's
            drift_exclude_self = True
        sequences = sequences.where(
            F.coalesce(F.col("source"), F.lit("__null__")).isin(pending_sources)
        )
        snapshots = snapshots.where(F.col("partition").isin(pending_sources))

    stored_key_counts = None
    if key_index and resume:
        from .operators import uniqueness

        stored_key_counts = uniqueness.cross_partition_counts(
            sequences,
            uniqueness.read_key_index(spark, output_path),
            pending_sources,
        )

    slice_plan = None
    if slice_spec:
        # Shared-scan slices (VERDICT r4 item 4): validate the spec
        # NOW (fail fast) and hand run_suite the RAW columns it must
        # carry on the failing rows — the slice numerator then rides
        # the suite's one token decode; only a token-free column-
        # pruned aggregate runs extra (see the slices block below).
        slice_plan = _slice_plan_validate(sequences, tuple(slice_spec))
    slice_raw_cols = tuple(
        dict.fromkeys(col for _, col, _ in (slice_plan or []))
    )
    t0 = time.perf_counter()
    res = suite_plan.run_suite(
        sequences,
        suite,
        baseline_hist=baseline_hist,
        drift_vs_global=drift,
        source_dim=source_dim,
        stored_key_counts=stored_key_counts,
        violation_sample=violation_sample,
        slice_dims=slice_raw_cols,
        drift_exclude_self=drift_exclude_self,
    )
    # violations land hive-partitioned by a DERIVED dir column with
    # bounded file counts — the common failure-triage read ("show me
    # src_07's violations") prunes whole directories, and a hot
    # failing source can't produce one giant task-shaped file. The
    # dir key is derived because hive encoding maps both NULL and ''
    # to __HIVE_DEFAULT_PARTITION__, which would destroy the
    # empty-vs-null source distinction the cascade separates; the raw
    # `source` column stays in the data files untouched.
    from .sources.writer import source_dir_col

    viol_root = (
        f"{output_path}/violations_preflight/{run_id}"
        if sample_frac is not None
        else f"{output_path}/violations"
    )
    write_partitioned(
        res.violations.withColumn("source_dir", source_dir_col()),
        viol_root,
        partition_by=("source_dir",),
        files_per_partition=4,
        sort_within="doc_id",
        # run-keyed preflight dirs overwrite (replay-idempotent); the
        # real violations table keeps its append contract
        mode="overwrite" if sample_frac is not None else "append",
    )
    def _certify_write() -> dict:
        # The reference's insert path (S4): failing rows are SKIPPED,
        # passing rows persist (processor.py:81-137 writes only
        # messages that clear the cascade). Certified rows = this
        # run's rows anti-joined (null-safely — NULL doc_ids group
        # their own violations) against the UNCAPPED failing-id set;
        # AQE broadcasts the usually-tiny id set and falls back to a
        # shuffle join on a pathological corpus. Dynamic partition
        # overwrite: a re-validated partition replaces its certified
        # dir, untouched partitions keep theirs — the certified table
        # stays consistent under --resume.
        # Runs in the overlapped write tail (below): every input it
        # reads (failing_ids ← the violations cache) is pinned by the
        # violations write that precedes the tail, so no concurrent
        # cache-fill race exists.
        from pyspark.sql import Observation

        fid = res.failing_ids.select(F.col("doc_id").alias("_fid"))
        valid = sequences.join(
            fid, F.col("doc_id").eqNullSafe(F.col("_fid")), "left_anti"
        ).withColumn("source_dir", source_dir_col())
        # the row count and written-partition set ride the write itself
        # (Observation) — a .count() here would re-run the anti-join
        # scan a second time
        cert_obs = Observation("certified")
        valid = valid.observe(
            cert_obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set("source_dir").alias("dirs"),
        )
        # Layout choice for the BIG write of the run (~every row of the
        # fact): the clustered layout's repartition is a full extra
        # serialize/spill/deserialize pass over the corpus (measured
        # 2.5× the no-shuffle write at 1M rows), bought only to bound
        # file counts at dirs × files_per_partition. When scan_tasks ×
        # |sources| is itself an acceptable file count, the inline
        # (no-exchange) layout wins outright — scan tasks stream into
        # their dirs, within-task doc_id sort preserved. At 10^12 rows
        # (50k tasks × 100s of sources) the product blows past the cap
        # and the clustered path re-engages automatically.
        # bound by BOTH the scan's task count and the shuffle-partition
        # setting: if AQE demotes the anti-join from broadcast to a
        # shuffle join (pathological failing-id volume), the write's
        # task count becomes the shuffle partitioning, not the scan's
        try:
            n_shuffle = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
        except ValueError:
            n_shuffle = spark.sparkContext.defaultParallelism
        n_tasks = max(sequences.rdd.getNumPartitions(), n_shuffle)
        n_dirs = max(len(verdict_rows), 1)  # one row per source value
        inline = n_tasks * n_dirs <= CERTIFY_INLINE_FILE_CAP
        write_partitioned(
            valid,
            emit_valid,
            partition_by=("source_dir",),
            files_per_partition=4,
            sort_within="doc_id",
            mode="overwrite",
            # a full run rewrites the whole certified table (a source
            # removed from the input leaves no stale dir); a resume-
            # scoped run replaces only the partitions it re-validated
            dynamic=resume,
            shuffle=not inline,
            # inline backstop: a hot dir fed by few tasks still splits
            # into ≤128 MB-ish row chunks
            max_records_per_file=2_000_000 if inline else None,
        )
        try:
            metrics = cert_obs.get
            n_cert, written_dirs = metrics["n"], set(metrics["dirs"] or [])
        except Exception:
            # AQE empty-relation propagation eliminates the
            # CollectMetrics node when the certified set is provably
            # empty (every row failed); the write itself committed, so
            # absent metrics mean zero certified rows.
            n_cert, written_dirs = 0, set()
        if resume:
            # dynamic overwrite cannot CLEAR a re-validated partition
            # whose certified set came back empty (zero rows → no dir
            # written) — drop those dirs explicitly, or rows certified
            # against the OLD data survive a failing re-delivery.
            # Local-fs dir surgery, same caveat as compact_partitioned
            # (Iceberg's atomic snapshot commit is the managed fix).
            import shutil

            for d in {dir_key_value(p) for p in pending_sources} - written_dirs:
                shutil.rmtree(
                    f"{emit_valid}/source_dir={d}", ignore_errors=True
                )
        return {
            "certified_rows": n_cert,
            "certified_layout": "inline" if inline else "clustered",
        }

    slices_report = {}
    if slice_plan is not None:
        # Shared-scan slice report: the numerator (per-dim-bucket
        # cascade-failing counts) is a projection of the suite's
        # ALREADY-PERSISTED failing rows — exact per-row fail bits,
        # zero extra token decodes. The denominator is a token-free
        # column-pruned aggregate (ReadSchema excludes the tokens
        # array, so the scan reads ~none of the table's bytes). The
        # union-then-sum merge keeps NULL dim values grouped correctly
        # (a left join on dims would drop NULL-bucket numerators).
        # Per-check narrowing (--slice-check) needs FAILED_ALL
        # multi-counting and stays on the standalone slice_pass.
        from .operators import slices as slice_ops

        tops = {
            col: slice_ops.top_values(sequences, col, param)
            for kind, col, param in slice_plan
            if kind == "top"
        }
        num_src, dims = _slice_plan_apply(
            res.failing_dim_rows, slice_plan, tops
        )
        den_src, _ = _slice_plan_apply(
            sequences.select(*slice_raw_cols), slice_plan, tops
        )
        base = (
            den_src.groupBy(*dims)
            .agg(F.count(F.lit(1)).alias("_n"))
            .select(*dims, "_n", F.lit(0).cast("long").alias("_v"))
            .unionByName(
                num_src.groupBy(*dims)
                .agg(F.count(F.lit(1)).alias("_v"))
                .select(*dims, F.lit(0).cast("long").alias("_n"), "_v")
            )
            .groupBy(*dims)
            .agg(F.sum("_n").alias("_n"), F.sum("_v").alias("_v"))
        )
        pdf = slice_ops.score_lattice(
            slice_ops.lattice_from_base(
                base, dims, min_support=slice_min_support
            ).toPandas(),
            min_lift=slice_min_lift,
            top_k=slice_top_k,
        )
        out_dir = f"{output_path}/slices/run_id={run_id}"
        slice_schema = (
            "slice string, arity int, n long, violations long, rate double, "
            "global_rate double, lift double, z double, p_value double, "
            "flagged boolean, dominated boolean, spec string"
        )
        spec_str = ",".join(slice_spec)
        local_df(
            spark,
            pdf.astype({"arity": "int64"}).assign(spec=spec_str),
            slice_schema,
        ).coalesce(1).write.mode("overwrite").parquet(out_dir)
        slices_report = {
            "slice_dims": dims,
            "slices_scored": int(len(pdf)),
            "slices_flagged": int(pdf["flagged"].sum()) if len(pdf) else 0,
            "top_slices": _top_slices(pdf),
        }
    # pre-flight verdicts carry ~frac-scaled counts with nothing in the
    # rows marking them sampled — parked beside violations_preflight so
    # a consumer listing <out>/verdicts/ never mistakes them for
    # full-corpus numbers (the documented no-durable-state contract)
    verdicts_root = (
        f"{output_path}/verdicts_preflight/{run_id}"
        if sample_frac is not None
        else f"{output_path}/verdicts/{run_id}"
    )
    # The verdict table is at most one row per source — metadata-sized,
    # like the snapshot and manifest collects. Evaluated ONCE here: its
    # rows feed the verdicts write, the manifest rows, the certify dir
    # count and the report totals, so none of them re-runs the plan.
    # Collected only after the violations write has filled the suite's
    # row cache: as the first action, the verdict job would read the
    # unfilled cache through two subtrees (part_stats and the per-check
    # violations) and decode the tokens once per subtree.
    verdict_rows = res.verdicts.collect()
    verdicts_local = local_df(spark, verdict_rows, res.verdicts.schema)
    verdicts_local.write.mode("overwrite").parquet(verdicts_root)

    # Overlapped write tail (guide §2.6): the remaining result writes
    # are independent jobs on DISJOINT directories whose inputs are all
    # pinned by now — the violations write filled the violations/
    # row-cache entries, the verdict collect filled part_stats/drift.
    # Submitting them from a thread pool lets the scheduler back-fill
    # the tail of each job with the next one's tasks (FIFO), so the
    # wall is max(job) instead of sum(job); the certified-table write
    # (the one big job — a full re-encode of the passing corpus)
    # overlaps the key-index/states writes and the snapshot aggregate.
    # The manifest append is NOT in the pool: it commits the resume
    # contract, so it runs only after every tail job has succeeded — a
    # certify failure after a committed manifest would let the next
    # --resume skip partitions whose certified dirs are stale. Ordering
    # notes preserved from the serial form: the key-index dynamic
    # overwrite cannot feed back into this run because the dup set that
    # read the old index rows was materialized with the first suite
    # job; a sampled run must NOT append manifest rows (the manifest is
    # the resume contract for FULL validations only).
    tail_jobs: list = []
    if emit_valid:
        tail_jobs.append(("certify", _certify_write))
    if sample_frac is None:
        tail_jobs.append(("snapshots", snapshots.collect))
    if key_index:
        from .operators import uniqueness

        tail_jobs.append(
            ("key_index", lambda: uniqueness.write_key_index(sequences, output_path))
        )
    if corpus_states:
        from .plans import states as st

        if res.row_cache is not None:
            # the suite's one-decode row cache carries every column the
            # state aggregate needs (incl. the precomputed tokens-null
            # bit) — two more decode passes of the fact saved per run
            tail_jobs.append(
                (
                    "states",
                    lambda: st.write_states(
                        res.row_cache, output_path, run_id,
                        tokens_null_col="_tok_null",
                    ),
                )
            )
        else:
            tail_jobs.append(
                ("states", lambda: st.write_states(sequences, output_path, run_id))
            )
    tail_out: dict = {}
    if tail_jobs:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(tail_jobs)) as ex:
            futures = [(label, ex.submit(fn)) for label, fn in tail_jobs]
            tail_out = {label: fut.result() for label, fut in futures}
    certified_report = tail_out.get("certify", {})
    if sample_frac is None:
        mf.append_manifest_rows(
            spark,
            output_path,
            verdicts_local,
            local_df(spark, tail_out["snapshots"], snapshots.schema),
            suite,
            run_id,
        )
    if drift and drift_baseline == "previous" and res.hist is not None:
        _store_baseline(spark, output_path, res.hist, prev_baseline, run_id)
    history_report = {}
    if history_anomalies:
        # cross-run bands (plans/history.py): this run's manifest rows
        # (just appended, so the read-back includes them) vs each
        # partition's own metric history. Metadata-sized end to end.
        from .plans import history as hist_mod

        rep = hist_mod.anomaly_report(
            mf.read_manifest(spark, output_path), run_id
        ).persist()
        rep.where(F.col("anomaly")).write.mode("overwrite").parquet(
            f"{output_path}/metric_anomalies/run_id={run_id}"
        )
        verd = hist_mod.anomaly_verdicts(rep)
        history_report = {
            "anomalous_metrics": rep.where(F.col("anomaly")).count(),
            "anomalous_partitions": verd.where(
                F.col("history_verdict") == "anomalous"
            ).count(),
        }
        rep.unpersist()
    token_report = (
        token_drift_pass(spark, sequences, output_path, suite, run_id)
        if token_drift
        else {}
    )
    if hot_tokens:
        token_report = {
            **token_report,
            **hot_tokens_pass(spark, sequences, output_path, run_id),
        }
    if drift_fdr_alpha is not None:
        token_report = {
            **token_report,
            **drift_fdr_pass(
                spark, sequences, output_path, run_id, drift_fdr_alpha,
                # the run's effective baseline, NOT prev_baseline: under
                # --resume in global mode baseline_hist is the
                # reconstructed FULL-corpus pool — re-pooling the
                # pending-only res.hist inside drift_fdr_pass would
                # compare each pending source against itself (KS≈0,
                # p≈1) and the FDR gate would pass any drift silently.
                # Temporal mode: baseline_hist IS prev_baseline; full
                # non-resume global: None → self-pool of the full hist.
                baseline_hist=baseline_hist,
                hist=res.hist,  # suite's persisted histogram (None if drift off)
            ),
        }
    # partition_stats groups EVERY row (NULL source included), and the
    # verdicts' violation_rows are the exact per-source totals even when
    # the written violations are a bounded sample
    n_rows = sum(r["row_count"] for r in verdict_rows)
    n_viol_exact = sum(r["violation_rows"] for r in verdict_rows)
    wall = time.perf_counter() - t0
    sample_report = {}
    if violation_sample is not None:
        sample_report = {
            "violations_written": res.violations.count(),
            "violation_sample": violation_sample,
        }
    preflight_report = {}
    if sample_frac is not None:
        preflight_report = {
            "sample_frac": sample_frac,
            "estimated_rows": int(round(n_rows / sample_frac)),
            "estimated_violations": int(round(n_viol_exact / sample_frac)),
        }
    report = {
        "run_id": run_id,
        "validated_rows": n_rows,
        "violations": n_viol_exact,
        **preflight_report,
        **sample_report,
        **certified_report,
        **({"slices": slices_report} if slices_report else {}),
        "partitions": len(verdict_rows),
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
        "suite_hash": suite.suite_hash(),
        "skipped": False,
        **history_report,
        **token_report,
        **schema_report,
    }
    res.cleanup()
    return report


def quality_pass(
    spark: SparkSession,
    docs_path: str,
    output_path: str,
    run_id: str,
    thresholds: dict | None = None,
    families: tuple[str, ...] = ("repetition",),
) -> dict:
    """Document-side quality gate (operators/quality.py): rule
    failures land in the same partitioned violations layout as
    sequence-check failures (``<out>/quality_violations``,
    hive-partitioned by derived source dir, bounded file counts), so
    failure triage reads one warehouse convention for both stages.
    Runs BEFORE tokenization in a real pipeline — on the raw
    ``documents`` table, not the sequences table.

    ``families`` selects the check families (``quality.QUALITY_
    FAMILIES``; default keeps the original repetition-only contract —
    ``--quality-families`` widens it); all selected families run as ONE
    composed cascade (:func:`quality.quality_gate`), and each family's
    signal columns ride along in the violation rows. ``thresholds``
    follows the gate's per-family keying, with a flat dict accepted as
    repetition overrides for backward compatibility."""
    from .operators.cascade import FIRST_FAIL_COL, REASON_COL, VERDICT_COL
    from .operators import quality as quality_ops
    from .sources.writer import source_dir_col, write_partitioned

    th = dict(thresholds or {})
    if th and not (set(th) <= set(quality_ops.QUALITY_FAMILIES)):
        th = {"repetition": th}  # legacy flat repetition thresholds
    docs = spark.read.parquet(docs_path)
    gated = quality_ops.quality_gate(docs, families=families, thresholds=th).persist()
    failed = gated.where(~F.col(VERDICT_COL)).select(
        "doc_id",
        F.col(FIRST_FAIL_COL).alias("check_name"),
        F.col(REASON_COL).alias("fail_reason"),
        *quality_ops.family_signal_cols(families),
        *( ["source"] if "source" in docs.columns else [] ),
        # run_id lives in the hive dir (run_id=<id>), not the data
        # files — readers of the parent dir get it as a partition
        # column; a duplicate data column would collide with it
    )
    part_cols = ("source_dir",) if "source" in docs.columns else ()
    # per-run_id hive dir with overwrite: re-running the same pass
    # (operator retry, scheduler replay) rewrites its own directory
    # instead of appending duplicate rows — the replay-idempotency
    # convention every other writer in the warehouse follows
    out_dir = f"{output_path}/quality_violations/run_id={run_id}"
    if part_cols:
        write_partitioned(
            failed.withColumn("source_dir", source_dir_col()),
            out_dir,
            partition_by=part_cols,
            files_per_partition=4,
            sort_within="doc_id",
            mode="overwrite",
        )
    else:
        failed.write.mode("overwrite").parquet(out_dir)
    by_rule = {
        r["check_name"]: r["n"]
        for r in failed.groupBy("check_name").agg(F.count("*").alias("n")).collect()
    }
    report = {
        "run_id": run_id,
        "docs": gated.count(),
        "quality_failed": sum(by_rule.values()),
        "quality_failed_by_rule": by_rule,
    }
    gated.unpersist()
    return report


def embeddings_pass(
    spark: SparkSession,
    emb_path: str,
    output_path: str,
    run_id: str,
    dim: int | None,
) -> dict:
    """Embedding-payload validation front door (operators/embcheck.py):
    NULL / empty / wrong-dim / non-finite / zero-norm vectors land in
    ``<out>/embedding_violations/run_id=<id>`` (overwrite — the
    replay-idempotency convention), counts returned for the report.
    Run this before any similarity/semdedup consumer: those operators
    route malformed vectors to silent no-bucket paths by design."""
    from .operators import embcheck

    emb = spark.read.parquet(emb_path)
    viol = embcheck.validate_embeddings(emb, dim=dim).persist()
    out_dir = f"{output_path}/embedding_violations/run_id={run_id}"
    viol.write.mode("overwrite").parquet(out_dir)
    by_rule = {
        r["check_name"]: r["n"]
        for r in viol.groupBy("check_name").agg(F.count("*").alias("n")).collect()
    }
    viol.unpersist()
    return {
        "run_id": run_id,
        # not a second payload scan: count() prunes to zero columns,
        # so this reads parquet footers + row-group counts only — the
        # expensive embedding-array decode happened exactly once, in
        # the cascade pass above
        "vectors": emb.count(),
        "embedding_failed": sum(by_rule.values()),
        "embedding_failed_by_rule": by_rule,
    }


def skew_pass(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    run_id: str,
    cols: tuple[str, ...],
    min_share: float = 0.01,
) -> dict:
    """Measured skew report (operators/sketch.py `skew_profile`): for
    each requested column, the keys whose guaranteed lower-bound share
    of rows is ≥ ``min_share``, with a per-key ``suggested_salt`` sized
    to the session's parallelism. This is the evidence table behind the
    north rule's "salting for hot source values" requirement — measure
    WHICH values are hot before paying for a salted plan (AQE splits
    skewed join partitions at runtime; skewed groupBy hot keys need the
    manual decision this table feeds). One narrow column-pruned MG pass
    per column; output is sketch-sized. Rows land in
    ``<out>/skew_profile/run_id=<id>`` (overwrite — the
    replay-idempotency convention) so later runs can diff hot-key
    churn."""
    from .operators.sketch import skew_profile

    df = spark.read.parquet(input_path)
    frames = []
    for c in cols:
        prof = skew_profile(df, c, min_share=min_share)
        frames.append(
            prof.select(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("key"),
                "est_lo",
                "share_lo",
                "suggested_salt",
            )
        )
    allp = frames[0]
    for f in frames[1:]:
        allp = allp.unionByName(f)
    out_dir = f"{output_path}/skew_profile/run_id={run_id}"
    allp.write.mode("overwrite").parquet(out_dir)
    # bounded: skew_profile returns ≤ ceil(2/min_share) rows per column
    rows = spark.read.parquet(out_dir).collect()
    return {
        "run_id": run_id,
        "columns": list(cols),
        "min_share": min_share,
        "hot_keys": [
            {
                "column": r["column"],
                "key": r["key"],
                "est_lo": r["est_lo"],
                "share_lo": round(r["share_lo"], 4),
                "suggested_salt": r["suggested_salt"],
            }
            for r in sorted(rows, key=lambda r: (r["column"], -r["share_lo"]))
        ],
    }


def _slice_plan_validate(seqs: DataFrame, spec: tuple[str, ...]) -> list:
    """PHASE 1 of a slice spec: validate every item against the table
    schema BEFORE any Spark job (a typo'd column must fail fast, not
    as an AnalysisException plan dump mid-run). Returns the parsed
    plan [(kind, col, param)] with kind ∈ plain|band|top."""
    numeric = {"byte", "short", "integer", "long", "float", "double", "decimal"}
    col_types = {
        f.name: f.dataType.typeName().split("(")[0] for f in seqs.schema.fields
    }
    plan: list[tuple[str, str, int | None]] = []
    for item in spec:
        if ":" in item:
            col, _, w = item.partition(":")
            if col not in seqs.columns:
                raise ValueError(f"--slice-report column {col!r} not in table")
            if w.startswith("top"):
                try:
                    k = int(w[3:])
                except ValueError:
                    raise ValueError(
                        f"--slice-report cap {w!r} for {col!r} is not topK"
                    ) from None
                if k < 1:
                    raise ValueError(
                        f"--slice-report cap k must be >= 1, got {k} for {col!r}"
                    )
                if f"{col}_top" in seqs.columns:
                    raise ValueError(
                        f"--slice-report cap would overwrite existing "
                        f"column {col}_top"
                    )
                plan.append(("top", col, k))
                continue
            if col_types[col] not in numeric:
                raise ValueError(
                    f"--slice-report band column {col!r} must be numeric, "
                    f"got {col_types[col]}"
                )
            try:
                width = int(w)
            except ValueError:
                raise ValueError(
                    f"--slice-report band width {w!r} for {col!r} is not an int"
                ) from None
            if width <= 0:
                raise ValueError(
                    f"--slice-report band width must be positive, got "
                    f"{width} for {col!r}"
                )
            if f"{col}_band" in seqs.columns:
                raise ValueError(
                    f"--slice-report band would overwrite existing "
                    f"column {col}_band"
                )
            plan.append(("band", col, width))
        else:
            if item not in seqs.columns:
                raise ValueError(f"--slice-report column {item!r} not in table")
            plan.append(("plain", item, None))
    final_dims = [
        {"top": f"{c}_top", "band": f"{c}_band"}.get(kind, c)
        for kind, c, _ in plan
    ]
    dup = sorted({d for d in final_dims if final_dims.count(d) > 1})
    if dup:
        raise ValueError(f"--slice-report duplicate dimensions: {dup}")
    return plan


def _slice_plan_apply(
    df: DataFrame, plan: list, tops: dict[str, list]
) -> tuple[DataFrame, list[str]]:
    """PHASE 2: apply the validated transforms to ANY frame carrying
    the raw columns. ``tops`` holds the per-column Misra-Gries value
    sets (precomputed once) so the numerator and denominator of the
    shared-scan path fold their tails against the SAME set."""
    from .operators import slices as slice_ops

    dims: list[str] = []
    for kind, col, param in plan:
        if kind == "top":
            df = df.withColumn(
                f"{col}_top", slice_ops.capped_expr(col, tops[col])
            )
            dims.append(f"{col}_top")
        elif kind == "band":
            df = df.withColumn(f"{col}_band", slice_ops.bucketized(col, param))
            dims.append(f"{col}_band")
        else:
            dims.append(col)
    return df, dims


def _top_slices(pdf) -> list[dict]:
    """The report's top-10 flagged-slice rows — one formatter shared by
    the standalone slice_pass and the combined run() path so the two
    reports can never drift on rounding/inf handling."""
    import numpy as np
    import pandas as pd

    return [
        {
            "slice": r["slice"],
            "n": int(r["n"]),
            "violations": int(r["violations"]),
            "rate": round(float(r["rate"]), 4),
            "lift": None if pd.isna(r["lift"]) else round(float(r["lift"]), 2),
            "z": round(float(r["z"]), 2) if np.isfinite(r["z"]) else float("inf"),
            "dominated": bool(r["dominated"]),
        }
        for _, r in pdf[pdf["flagged"]].head(10).iterrows()
    ]


def slice_pass(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    run_id: str,
    spec: tuple[str, ...],
    suite: CheckSuite,
    source_dim_path: str | None = None,
    min_support: int = 30,
    top_k: int | None = None,
    check: str | None = None,
    min_lift: float = 1.5,
    compare_to: str | None = None,
) -> dict:
    """Violation hotspot report (operators/slices.py): run the suite's
    cascade once, then rank every 1- and 2-column slice over the
    requested dims by how anomalously it fails vs the global rate.
    ``check`` narrows the fail bit to ONE named cascade check (its
    membership in ``failed_checks`` — not first-fail, so a row failing
    several checks counts for each), answering "where do the BANNED
    TOKENS concentrate" rather than "where does anything fail"; an
    unknown name raises with the known-checks list (the
    check_tolerances misconfiguration convention).
    Continuous dims take the ``col:width`` band syntax (``n_tok:64``
    slices by 64-token bands). Per-source threshold overrides apply
    when ``--source-dim`` is given, mirroring run_suite. The FULL
    scored lattice lands at ``<out>/slices/run_id=<id>`` (overwrite —
    replay-idempotent; it is metadata-sized for bounded-cardinality
    dims); ``top_k`` caps the stored rows only when explicitly set."""
    import numpy as np
    import pandas as pd

    from .operators import cascade as cascade_ops, slices as slice_ops

    seqs = spark.read.parquet(input_path)
    # PHASE 1 — validate EVERYTHING (specs, check name, compare
    # preconditions) before any Spark job: a typo'd column would
    # otherwise surface as an AnalysisException plan dump from inside
    # the cascade, a bad width as a raw traceback, and a topK cap
    # would pay its full Misra-Gries corpus scan only to die on a
    # later item's validation (the layout._validate convention).
    plan = _slice_plan_validate(seqs, spec)
    if source_dim_path:
        seqs = cascade_ops.with_source_bounds(
            seqs, spark.read.parquet(source_dim_path)
        )
        checks = cascade_ops.sequence_checks(suite, per_source_bounds=True)
    else:
        checks = cascade_ops.sequence_checks(suite)
    if check is not None:
        known = sorted(c.name for c in checks)
        if check not in known:
            raise ValueError(
                f"--slice-check {check!r} matches no check in this "
                f"suite (known: {known})"
            )

    # PHASE 2 — apply the validated transforms (topK caps run their
    # one bounded sketch scan each)
    tops = {
        col: slice_ops.top_values(seqs, col, param)
        for kind, col, param in plan
        if kind == "top"
    }
    seqs, dims = _slice_plan_apply(seqs, plan, tops)
    fail = None
    if check is not None:
        fail = F.array_contains(
            F.coalesce(
                F.col(cascade_ops.FAILED_ALL_COL),
                F.array().cast("array<string>"),
            ),
            check,
        )
    flagged = cascade_ops.apply_cascade(seqs, checks)
    pdf = slice_ops.violation_slices(
        flagged, dims, fail=fail, min_support=min_support, top_k=top_k,
        min_lift=min_lift,
    )
    out_dir = f"{output_path}/slices/run_id={run_id}"
    schema = (
        "slice string, arity int, n long, violations long, rate double, "
        "global_rate double, lift double, z double, p_value double, "
        "flagged boolean, dominated boolean, spec string"
    )
    # the spec (dims + caps + check) rides the stored lattice so a
    # later --slice-compare can refuse a cross-spec diff instead of
    # reporting phantom absent->hot regressions when the dims differ
    spec_str = ",".join(spec) + (f"|check={check}" if check else "")
    local_df(
        spark, pdf.astype({"arity": "int64"}).assign(spec=spec_str), schema
    ).coalesce(1).write.mode("overwrite").parquet(out_dir)
    churn_report = {}
    if compare_to is not None:
        # cross-run churn vs a previous run's STORED lattice — names
        # which slices regressed/recovered since then; written
        # run_id-keyed (overwrite = replay-idempotent)
        if top_k is not None:
            # slice_transitions' contract: both lattices FULL — a
            # truncated side misreports below-cut slices as absent
            # (phantom absent->hot regressions). Refuse loudly.
            raise ValueError(
                "--slice-compare requires the full lattice; drop "
                "--slice-top-k (and compare against a run stored "
                "without it)"
            )
        from pyspark.errors import AnalysisException

        prev_dir = f"{output_path}/slices/run_id={compare_to}"
        try:
            prev_df = spark.read.parquet(prev_dir)
        except AnalysisException as e:
            # ONLY path-missing reads as "no such run"; any other read
            # failure propagates (the narrow-catch convention
            # layout.write_zordered pins for the same reason)
            if "PATH_NOT_FOUND" not in str(e) and "does not exist" not in str(e):
                raise
            raise ValueError(
                f"--slice-compare: no stored slice lattice for run "
                f"{compare_to!r} at {prev_dir}"
            ) from None
        prev = prev_df.toPandas()
        # cross-spec diffs report phantom regressions (different dims
        # or caps rename/repartition every slice) — refuse when the
        # stored spec disagrees; lattices from before spec-stamping
        # carry no column and are accepted as-is (documented residual)
        if "spec" in prev.columns and len(prev):
            prev_spec = prev["spec"].iloc[0]
            if prev_spec != spec_str:
                raise ValueError(
                    f"--slice-compare: run {compare_to!r} was sliced "
                    f"with spec {prev_spec!r}, this run uses "
                    f"{spec_str!r} — diff refused (slice names/"
                    "membership would differ by construction)"
                )
            prev = prev.drop(columns=["spec"])
        trans = slice_ops.slice_transitions(pdf, prev)
        diff_dir = f"{output_path}/slice_diff/run_id={run_id}"
        diff_schema = (
            "slice string, transition string, n double, rate double, "
            "z double, flagged boolean, n_prev double, rate_prev double, "
            "z_prev double, flagged_prev boolean, rate_delta double, "
            "z_delta double, prev_run string"
        )
        local_df(
            spark, trans.assign(prev_run=compare_to), diff_schema
        ).coalesce(1).write.mode("overwrite").parquet(diff_dir)
        counts = trans["transition"].value_counts().to_dict()
        regressions = trans[
            trans["transition"].isin(["quiet->hot", "absent->hot"])
        ]
        churn_report = {
            "compare_to": compare_to,
            "transitions": {k: int(v) for k, v in sorted(counts.items())},
            "new_hot": [
                {
                    "slice": r["slice"],
                    "transition": r["transition"],
                    "rate": round(float(r["rate"]), 4),
                    "rate_prev": (
                        None if pd.isna(r["rate_prev"])
                        else round(float(r["rate_prev"]), 4)
                    ),
                }
                for _, r in regressions.head(10).iterrows()
            ],
        }
    return {
        "run_id": run_id,
        "dims": dims,
        "check": check,
        "top_k": top_k,
        "slices_scored": int(len(pdf)),
        "slices_flagged": int(pdf["flagged"].sum()) if len(pdf) else 0,
        **churn_report,
        "top_slices": _top_slices(pdf),
    }


def zorder_pass(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    run_id: str,
    cols: tuple[str, ...],
    bits: int = 8,
    n_files: int = 64,
) -> dict:
    """Z-order table rewrite (sources/layout.py): lay the table out in
    Morton order over ``cols`` so selective predicates on ANY of them
    skip most files via parquet footer stats — the multi-column
    generalization of ``write_partitioned``'s single-key sort, and the
    table-maintenance sibling of ``--compact-indexes``. Output at
    ``<out>/zorder/run_id=<id>`` (overwrite, replay-idempotent) with
    the quantile boundaries in the report (freeze them to layout later
    batches into the same space). The report's ``extent_scores`` are
    the measured payoff: mean normalized per-file extent per column
    (1.0 = unprunable, ~n_files^(-1/m) = ideal m-column z-order)."""
    from .sources import layout as layout_ops

    df = spark.read.parquet(input_path)
    out_dir = f"{output_path}/zorder/run_id={run_id}"
    rep = layout_ops.write_zordered(
        df, out_dir, list(cols), bits=bits, n_files=n_files
    )
    # extent scoring reads footers via the driver's LOCAL filesystem;
    # on a non-local output it returns {} — report null, not a crash
    scores = layout_ops.extent_scores(out_dir, list(cols))
    # boundaries are 2^bits-1 floats per column — persisted next to the
    # data (the local-FS meta.json-written-last convention the IVF
    # index follows). On a non-local output the open() cannot work;
    # degrade by returning the boundaries IN the report instead of
    # dying after a successful table write (they are what later
    # batches need to layout into the same space).
    meta_path = f"{out_dir}/_zorder_meta.json"
    inline_boundaries = None
    try:
        with open(meta_path.replace("file:", ""), "w", encoding="utf-8") as fh:
            json.dump({"bits": bits, "cols": list(cols),
                       "boundaries": rep["boundaries"]}, fh)
    except OSError:
        meta_path = None
        inline_boundaries = rep["boundaries"]
    return {
        "run_id": run_id,
        "rows": rep["rows"],
        "n_files": rep["n_files_target"],
        "bits": bits,
        "extent_scores": (
            {c: round(v, 4) for c, v in scores.items()} if scores else None
        ),
        "meta": meta_path,
        **({"boundaries": inline_boundaries} if inline_boundaries else {}),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="teleharvest-validate")
    ap.add_argument("--input", default=None, help="sequences table path (parquet)")
    ap.add_argument("--output", required=True, help="output root (violations/verdicts/manifest)")
    ap.add_argument("--suite-json", default=None, help="JSON file of CheckSuite overrides")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true", help="skip partitions already in the manifest")
    ap.add_argument(
        "--key-index",
        action="store_true",
        help="maintain the per-partition doc_id index so --resume runs "
        "flag duplicates against already-validated partitions "
        "(full-run parity for the uniqueness check)",
    )
    ap.add_argument(
        "--corpus-states",
        action="store_true",
        help="persist mergeable per-partition stat states (HLL distinct, "
        "n_tok moments + histogram); --resume drift pools skipped "
        "partitions from their stored states instead of rescanning "
        "the full table",
    )
    ap.add_argument(
        "--corpus-stats",
        action="store_true",
        help="report corpus-level stats by merging the stored states "
        "under --output (no data scan, no --input needed)",
    )
    ap.add_argument(
        "--suggest-suite",
        default=None,
        metavar="PATH",
        help="profile --input once and write a suggested suite-overrides "
        "JSON to PATH (feed it back via --suite-json); prints the "
        "profile evidence and exits",
    )
    ap.add_argument(
        "--source-cap",
        type=int,
        default=100,
        help="--suggest-suite: max distinct sources to enumerate into "
        "allowed_sources (beyond it the source check is left open)",
    )
    ap.add_argument(
        "--emit-valid",
        default=None,
        metavar="PATH",
        help="also write the CERTIFIED rows (every row with no "
        "violation) to PATH, hive-partitioned by source_dir with "
        "dynamic partition overwrite — the validated-table output "
        "downstream consumers read; consistent under --resume",
    )
    ap.add_argument(
        "--violation-sample",
        type=int,
        default=None,
        help="cap the WRITTEN violation rows at N per (source, check) "
        "— a deterministic content-hash sample; verdict counts stay "
        "exact. Bounds the diagnostic output when a systematic failure "
        "would otherwise write a corpus-sized violations table",
    )
    ap.add_argument("--no-drift", action="store_true", help="skip the KS/PSI drift check")
    ap.add_argument(
        "--token-drift",
        action="store_true",
        help="opt-in temporal vocab-shift drift (token-id histograms "
        "vs the previous pass; costs one extra decode scan)",
    )
    ap.add_argument(
        "--hot-tokens",
        action="store_true",
        help="opt-in cross-run hot-token churn: this run's guaranteed "
        "top-k token table (Misra-Gries) vs the previous run's — names "
        "which head ids entered/exited where PSI gives one number; "
        "rows at <out>/hot_tokens/<run_id>",
    )
    ap.add_argument(
        "--drift-fdr",
        type=float,
        default=None,
        metavar="ALPHA",
        help="opt-in FDR-controlled drift verdicts: per-source KS "
        "p-values + Benjamini-Hochberg across sources at this alpha; "
        "rows at <out>/drift_fdr/<run_id>",
    )
    ap.add_argument(
        "--sample-frac",
        type=float,
        default=None,
        metavar="F",
        help="PRE-FLIGHT mode: validate a deterministic content-hash "
        "sample of the input (fraction F of doc_ids). No durable "
        "state: manifest untouched, violations under "
        "violations_preflight/<run_id>; incompatible with resume / "
        "emit-valid / key-index / corpus-states / token-drift / "
        "hot-tokens / --drift-baseline previous",
    )
    ap.add_argument(
        "--reconcile-against",
        default=None,
        metavar="PATH",
        help="standalone parity check of --input vs this reference "
        "snapshot: per-partition checksum verdicts at "
        "<out>/reconcile/<run_id>, keyed row diff (added/removed/"
        "changed) of mismatched partitions only at "
        "<out>/reconcile_diff/<run_id>",
    )
    ap.add_argument(
        "--reconcile-keys",
        default="doc_id",
        help="comma list of key columns for --reconcile-against "
        "(default: doc_id)",
    )
    ap.add_argument(
        "--history-anomalies",
        action="store_true",
        help="after validating, compare this run's per-partition "
        "metrics against each partition's OWN manifest history "
        "(z-score + relative-change bands, direction-aware; see "
        "plans/history.py) and write flagged rows to "
        "<output>/metric_anomalies/run_id=<id>",
    )
    ap.add_argument(
        "--drift-baseline",
        choices=("global", "previous"),
        default="global",
        help="drift comparator: pooled current corpus (global) or each "
        "source's own histogram from the last run (previous = temporal "
        "drift; first run falls back to global)",
    )
    ap.add_argument(
        "--source-dim",
        default=None,
        help="parquet path of (source, min_n_tok, max_n_tok) per-source overrides",
    )
    ap.add_argument(
        "--no-schema-contract",
        action="store_true",
        help="skip the table-shape gate (static contract vs the "
        "canonical sequences shape + drift vs the last-seen schema; "
        "plans/contract.py)",
    )
    ap.add_argument(
        "--schema-mismatch",
        choices=("fail", "report"),
        default="fail",
        help="on a contract ERROR (missing/retyped column): refuse the "
        "run before any scan (fail), or record the report and proceed "
        "(report). Drift-only findings never refuse.",
    )
    ap.add_argument("--master", default=None, help="override master (default: existing session / local)")
    ap.add_argument(
        "--run-all",
        action="store_true",
        help="composed pipeline (reference main.py): validate → "
        "similarity backfill → metrics refresh, each stage gated by "
        "its input digest (see pipeline.py)",
    )
    ap.add_argument(
        "--embeddings", default=None, help="run-all: embeddings parquet for the similarity stage"
    )
    ap.add_argument(
        "--metrics-obs", default=None, help="run-all: fresh metric observations parquet"
    )
    ap.add_argument(
        "--prep-docs",
        default=None,
        help="documents parquet: run the composed training-data-prep "
        "pipeline (quality → dedup → tokenize → leakage-safe split → "
        "pack) into <output>; digest-gated stages honor --resume "
        "(see pipeline.prep_corpus)",
    )
    ap.add_argument(
        "--prep-batch-docs",
        default=None,
        help="documents parquet of a NEW snapshot: incremental ingest "
        "into an existing --prep-docs warehouse at <output> (dedup vs "
        "the stored index only; see pipeline.prep_batch)",
    )
    ap.add_argument(
        "--prep-clean",
        default=None,
        help="prep-docs: JSON clean-stage params, e.g. "
        '\'{"normalize": true, "pii": true, "c4_lines": true, '
        '"line_dedup": {"min_count": 3}}\' — text repair (unicode NFC '
        "normalization, PII redaction, C4 line cleanup, cross-document "
        "hot-line removal) before the quality gate",
    )
    ap.add_argument(
        "--prep-chunk",
        action="store_true",
        help="prep-docs/prep-batch-docs: window docs longer than the "
        "pack capacity into capacity-sized chunks before packing "
        "(packs table gains doc_id+chunk_id)",
    )
    ap.add_argument(
        "--prep-keep-by",
        default=None,
        help="prep-docs: column selecting each duplicate cluster's "
        "surviving representative (highest value wins; default: "
        "min-id canonical)",
    )
    ap.add_argument(
        "--prep-semdedup",
        default=None,
        help="prep-docs: JSON semantic-dedup params, e.g. "
        '\'{"path": "/emb.parquet", "tau": 0.95, "n_cells": 64, '
        '"dim": 64}\' — embeddings parquet keyed (doc_id, embedding); '
        "cosine-shadowed docs drop after lexical dedup",
    )
    ap.add_argument(
        "--prep-eval",
        default=None,
        help="prep-docs: eval-set parquet (doc_id, tokens in the same "
        "vocab) — cut every 13-token-gram overlap from the tokenized "
        "corpus (decontamination stage)",
    )
    ap.add_argument(
        "--prep-lm",
        default=None,
        help="prep-docs: JSON perplexity-filter params, e.g. "
        '\'{"keep": ["head", "middle"], "bigram": true, "target_path": '
        '"/trusted.parquet"}\' or \'{"max_ppl": 500}\' — trains the LM '
        "(on target_path or the corpus itself), freezes the cut lines "
        "in <output>/lm_store, drops tail docs. prep-batch-docs: pass "
        "the flag with any value (e.g. '{}') to score the batch "
        "against the STORED model and thresholds",
    )
    ap.add_argument(
        "--prep-spans",
        default=None,
        help="prep-docs: JSON exact-substring dedup params, e.g. "
        '\'{"k": 50, "min_count": 2, "min_tok": 1}\' — cuts token '
        "spans covered by corpus-wide repeated k-grams and persists "
        "the repeated-gram index in <output>/span_index. "
        "prep-batch-docs: pass the flag with any value (e.g. '{}') to "
        "cut the batch's spans against the STORED index (params come "
        "from the index meta)",
    )
    ap.add_argument(
        "--prep-mix",
        default=None,
        help="prep-docs: JSON mixture params, e.g. "
        '\'{"weights": {"books": 2.5}, "budgets": {"web": 100000}, '
        '"seed": 0}\' — train-split per-source upsampling and/or '
        "token budgets before packing",
    )
    ap.add_argument(
        "--compact-indexes",
        action="store_true",
        help="warehouse maintenance: fold per-ingest dedup_index and "
        "semdedup_index dirs into one (run while no ingest is active) "
        "and exit",
    )
    ap.add_argument(
        "--corpus-report",
        action="store_true",
        help="print the corpus datasheet (per-split/source doc+token "
        "counts, quality breakdown, pack fill) of the prep warehouse "
        "at <output> and exit",
    )
    ap.add_argument(
        "--quality-docs",
        default=None,
        help="documents parquet for the pre-tokenization repetition/"
        "quality gate (Gopher rules); failures land in "
        "<output>/quality_violations alongside the sequence violations",
    )
    ap.add_argument(
        "--validate-embeddings",
        default=None,
        help="embeddings parquet to validate (NULL/empty/wrong-dim/"
        "non-finite/zero-norm vectors -> "
        "<output>/embedding_violations/run_id=<id>)",
    )
    ap.add_argument(
        "--emb-dim",
        type=int,
        default=None,
        help="expected embedding dimension for --validate-embeddings "
        "(omit to skip the dimension check)",
    )
    ap.add_argument(
        "--skew-report",
        default=None,
        metavar="COLS",
        help="comma list of --input columns to skew-profile (measured "
        "hot-key table + suggested salt via a Misra-Gries pass; rows "
        "land in <output>/skew_profile/run_id=<id>); prints the report "
        "and exits",
    )
    ap.add_argument(
        "--skew-min-share",
        type=float,
        default=0.01,
        help="--skew-report: report keys whose guaranteed lower-bound "
        "row share is at least this fraction",
    )
    ap.add_argument(
        "--slice-report",
        default=None,
        metavar="DIMS",
        help="comma list of dims to hotspot-slice (violation slice "
        "finder: rank every 1- and 2-column slice by how anomalously "
        "it fails the suite's cascade vs the global rate; continuous "
        "columns take col:width band syntax, e.g. n_tok:64; "
        "high-cardinality columns take col:topK, keeping the "
        "Misra-Gries top-K values and folding the tail to __other__; "
        "rows land in <output>/slices/run_id=<id>); prints the report "
        "and exits",
    )
    ap.add_argument(
        "--slices",
        default=None,
        metavar="DIMS",
        help="run the slice report INSIDE the validate run, riding its "
        "single token decode (same dims syntax as --slice-report minus "
        "--slice-check narrowing; same output layout); one fact decode "
        "for suite+slices instead of two",
    )
    ap.add_argument(
        "--slice-min-support",
        type=int,
        default=30,
        help="--slice-report: ignore slices with fewer rows than this",
    )
    ap.add_argument(
        "--slice-top-k",
        type=int,
        default=None,
        help="--slice-report: cap the STORED slice rows (default: keep "
        "the full scored lattice — it is metadata-sized; the printed "
        "report always shows only the top flagged slices)",
    )
    ap.add_argument(
        "--slice-check",
        default=None,
        metavar="NAME",
        help="--slice-report: narrow the fail bit to ONE named cascade "
        "check (membership in failed_checks) instead of any-failure",
    )
    ap.add_argument(
        "--slice-compare",
        default=None,
        metavar="RUN_ID",
        help="--slice-report: diff this run's slice lattice against the "
        "named previous run's stored lattice — names which slices "
        "regressed (quiet->hot) or recovered; rows land in "
        "<output>/slice_diff/run_id=<id>",
    )
    ap.add_argument(
        "--slice-min-lift",
        type=float,
        default=1.5,
        help="--slice-report: practical-significance floor — flag only "
        "slices whose violation rate is at least this multiple of the "
        "global rate (large corpora make every slice statistically "
        "significant)",
    )
    ap.add_argument(
        "--zorder",
        default=None,
        metavar="COLS",
        help="comma list of numeric columns to Z-order the input table "
        "by (Morton-interleaved quantile ranks; selective predicates "
        "on ANY listed column then skip most files via footer stats); "
        "writes <output>/zorder/run_id=<id>, prints the report (incl. "
        "measured per-column extent scores) and exits",
    )
    ap.add_argument(
        "--zorder-files",
        type=int,
        default=64,
        help="--zorder: target output file count (rounded to a power "
        "of two; the file-size dial)",
    )
    ap.add_argument(
        "--quality-families",
        default="repetition",
        help="comma list of quality check families for --quality-docs "
        "and the prep pipelines' quality stage (encoding, repetition, "
        "gopher_words, language; cascade runs them in the given order "
        "as one composed gate)",
    )
    args = ap.parse_args(argv)
    if (
        args.input is None
        and args.quality_docs is None
        and args.validate_embeddings is None
        and args.prep_docs is None
        and args.prep_batch_docs is None
        and not args.corpus_report
        and not args.compact_indexes
        and not args.corpus_stats
    ):
        ap.error(
            "at least one of --input / --quality-docs / "
            "--validate-embeddings / --prep-docs / --prep-batch-docs / "
            "--corpus-report / --compact-indexes / --corpus-stats is required"
        )
    if args.run_all and args.input is None:
        ap.error("--run-all requires --input")
    if args.run_all:
        # run_all's validate stage does not plumb the standalone run()
        # extras — refuse them loudly rather than let the user believe
        # (e.g.) a certified table was refreshed or a key index
        # maintained when neither happened. drift_baseline IS
        # forwarded; everything below is not.
        dropped = {
            "--token-drift": args.token_drift,
            "--hot-tokens": args.hot_tokens,
            "--drift-fdr": args.drift_fdr is not None,
            "--history-anomalies": args.history_anomalies,
            "--key-index": args.key_index,
            "--corpus-states": args.corpus_states,
            "--emit-valid": args.emit_valid,
            "--violation-sample": args.violation_sample is not None,
            "--slices": args.slices,
            "--no-schema-contract": args.no_schema_contract,
        }
        active = sorted(k for k, v in dropped.items() if v)
        if active:
            ap.error(
                f"--run-all does not support {', '.join(active)}: these "
                "run through the standalone validation CLI (drop "
                "--run-all, or run the composed pipeline first and the "
                "standalone pass after)"
            )
    if args.corpus_stats and args.input is not None:
        # report-only flag (merges STORED states, zero scans); with
        # --input it would be silently inert — and it is one letter
        # away from --corpus-states, the state-MAINTAINING flag
        ap.error(
            "--corpus-stats is a report-only mode over stored states "
            "and ignores --input; drop --input, or use --corpus-states "
            "to maintain states during a validation run"
        )
    if args.sample_frac is not None:
        # the pre-flight refusal matrix lives in run(); the standalone
        # passes never reach it, and a silently-ignored sample flag
        # would bill a "1% pre-flight" at full scale. ONE shared guard
        # (not per-branch special cases) so a future pass cannot
        # re-open the hole by forgetting its own check.
        standalone = {
            "--suggest-suite": args.suggest_suite,
            "--skew-report": args.skew_report,
            "--slice-report": args.slice_report,
            "--zorder": args.zorder,
            "--reconcile-against": args.reconcile_against,
            "--quality-docs": args.quality_docs,
            "--validate-embeddings": args.validate_embeddings,
            "--corpus-report": args.corpus_report,
            "--corpus-stats": args.corpus_stats,
            "--compact-indexes": args.compact_indexes,
            "--run-all": args.run_all,
        }
        active = sorted(k for k, v in standalone.items() if v)
        if active:
            ap.error(
                f"--sample-frac applies to validation runs, not "
                f"{', '.join(active)}"
            )

    spark = get_spark(app_name=f"validate-{args.run_id}", master=args.master)
    if args.suggest_suite:
        if args.input is None:
            ap.error("--suggest-suite requires --input")
        from .plans import suggest as sg

        rep = sg.suggestion_report(
            spark.read.parquet(args.input), source_cap=args.source_cap
        )
        with open(args.suggest_suite, "w", encoding="utf-8") as f:
            json.dump(rep["suite"], f, indent=2)
        print(json.dumps(rep))
        return 0
    if args.skew_report:
        if args.input is None:
            ap.error("--skew-report requires --input")
        cols = tuple(c.strip() for c in args.skew_report.split(",") if c.strip())
        if not cols:
            ap.error("--skew-report needs at least one column name")
        print(
            json.dumps(
                skew_pass(
                    spark, args.input, args.output, args.run_id,
                    cols=cols, min_share=args.skew_min_share,
                )
            )
        )
        return 0
    if args.slice_report:
        if args.input is None:
            ap.error("--slice-report requires --input")
        spec = tuple(c.strip() for c in args.slice_report.split(",") if c.strip())
        if not spec:
            ap.error("--slice-report needs at least one dimension")
        print(
            json.dumps(
                slice_pass(
                    spark, args.input, args.output, args.run_id,
                    spec=spec,
                    suite=build_suite(args.suite_json),
                    source_dim_path=args.source_dim,
                    min_support=args.slice_min_support,
                    top_k=args.slice_top_k,
                    check=args.slice_check,
                    min_lift=args.slice_min_lift,
                    compare_to=args.slice_compare,
                )
            )
        )
        return 0
    if args.zorder:
        if args.input is None:
            ap.error("--zorder requires --input")
        cols = tuple(c.strip() for c in args.zorder.split(",") if c.strip())
        if not cols:
            ap.error("--zorder needs at least one column name")
        print(
            json.dumps(
                zorder_pass(
                    spark, args.input, args.output, args.run_id,
                    cols=cols, n_files=args.zorder_files,
                )
            )
        )
        return 0
    if args.reconcile_against:
        if args.input is None:
            ap.error("--reconcile-against requires --input")
        keys = tuple(k.strip() for k in args.reconcile_keys.split(",") if k.strip())
        if not keys:
            ap.error("--reconcile-keys needs at least one column name")
        print(
            json.dumps(
                reconcile_pass(
                    spark, args.input, args.reconcile_against, args.output,
                    args.run_id, keys=keys,
                )
            )
        )
        return 0
    if args.compact_indexes:
        from . import pipeline

        print(json.dumps(pipeline.compact_indexes(spark, args.output)))
        return 0
    if args.corpus_report:
        from . import pipeline

        print(json.dumps(pipeline.corpus_report(spark, args.output)))
        return 0
    if args.corpus_stats and args.input is None:
        # report-only: merge the stored states — no data scan at all
        from .plans import states as st

        row = st.merge_states(st.read_states(spark, args.output)).collect()[0]
        out = row.asDict()
        out.pop("ntok_hist", None)  # 128 buckets — keep the line readable
        print(json.dumps(out))
        return 0
    qfams = tuple(
        f.strip() for f in args.quality_families.split(",") if f.strip()
    )
    if args.prep_docs or args.prep_batch_docs:
        from . import pipeline

        if args.prep_docs:
            mix = json.loads(args.prep_mix) if args.prep_mix else {}
            sem = json.loads(args.prep_semdedup) if args.prep_semdedup else {}
            if sem and not sem.get("path"):
                ap.error("--prep-semdedup JSON requires a 'path' key")
            report = pipeline.prep_corpus(
                spark, args.prep_docs, args.output, args.run_id,
                resume=args.resume,
                quality_families=qfams,
                clean_params=(
                    json.loads(args.prep_clean) if args.prep_clean else None
                ),
                semdedup_embeddings_path=sem.get("path"),
                semdedup_tau=float(sem.get("tau", 0.95)),
                semdedup_n_cells=int(sem.get("n_cells", 64)),
                semdedup_dim=int(sem.get("dim", 64)),
                decontam_eval_path=args.prep_eval,
                dedup_spans_params=(
                    json.loads(args.prep_spans) if args.prep_spans else None
                ),
                lm_params=(
                    json.loads(args.prep_lm) if args.prep_lm else None
                ),
                mixture_weights=mix.get("weights"),
                token_budgets=mix.get("budgets"),
                mixture_seed=int(mix.get("seed", 0)),
                chunk_to_capacity=args.prep_chunk,
                dedup_keep_by=args.prep_keep_by,
            )
        else:
            # batches must re-apply the base build's per-doc repairs,
            # eval cut, and semantic dedup, or ingest re-introduces
            # what the base scrubbed
            sem = json.loads(args.prep_semdedup) if args.prep_semdedup else {}
            if sem and not sem.get("path"):
                ap.error("--prep-semdedup JSON requires a 'path' key")
            report = pipeline.prep_batch(
                spark, args.prep_batch_docs, args.output, args.run_id,
                resume=args.resume,
                quality_families=qfams,
                clean_params=(
                    json.loads(args.prep_clean) if args.prep_clean else None
                ),
                decontam_eval_path=args.prep_eval,
                lm_filter=args.prep_lm is not None,
                span_filter=args.prep_spans is not None,
                chunk_to_capacity=args.prep_chunk,
                semdedup_embeddings_path=sem.get("path"),
                semdedup_tau=float(sem.get("tau", 0.95)),
                semdedup_dim=int(sem.get("dim", 64)),
            )
        print(json.dumps(report))
        return 0
    quality_report = None
    emb_report = None
    if args.quality_docs:
        quality_report = quality_pass(
            spark, args.quality_docs, args.output, args.run_id, families=qfams
        )
    if args.validate_embeddings:
        emb_report = embeddings_pass(
            spark, args.validate_embeddings, args.output, args.run_id,
            dim=args.emb_dim,
        )
    if args.input is None:
        side = dict(quality_report or {})
        if emb_report is not None:
            side["embeddings"] = emb_report
        print(json.dumps(side))
        return 0
    if args.run_all:
        from . import pipeline

        report = pipeline.run_all(
            spark,
            args.input,
            args.output,
            build_suite(args.suite_json),
            args.run_id,
            embeddings_path=args.embeddings,
            metrics_obs_path=args.metrics_obs,
            resume=args.resume,
            drift=not args.no_drift,
            source_dim_path=args.source_dim,
            drift_baseline=args.drift_baseline,
        )
    else:
        report = run(
            spark,
            args.input,
            args.output,
            build_suite(args.suite_json),
            args.run_id,
            args.resume,
            drift=not args.no_drift,
            source_dim_path=args.source_dim,
            drift_baseline=args.drift_baseline,
            token_drift=args.token_drift,
            hot_tokens=args.hot_tokens,
            drift_fdr_alpha=args.drift_fdr,
            history_anomalies=args.history_anomalies,
            schema_contract=not args.no_schema_contract,
            on_schema_mismatch=args.schema_mismatch,
            key_index=args.key_index,
            corpus_states=args.corpus_states,
            violation_sample=args.violation_sample,
            emit_valid=args.emit_valid,
            sample_frac=args.sample_frac,
            slice_spec=(
                tuple(
                    c.strip() for c in args.slices.split(",") if c.strip()
                )
                if args.slices
                else None
            ),
            slice_min_support=args.slice_min_support,
            slice_top_k=args.slice_top_k,
            slice_min_lift=args.slice_min_lift,
        )
    if quality_report is not None:
        report["quality"] = quality_report
    if emb_report is not None:
        report["embeddings"] = emb_report
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
