"""Cross-run metric anomaly detection over the validation manifest.

The manifest is append-only: every validation run leaves one row per
(partition, snapshot, suite-hash) carrying a metrics map
(manifest.py:83). Accumulated across runs that is a metrics repository
in the Deequ sense (public: AWS Deequ's anomaly checks over a
MetricsRepository), and this module turns it into a temporal gate:
does THIS run's value for (partition, metric) sit inside the band
implied by the partition's OWN past runs? This catches regressions no
static threshold can: a null-rate that quadrupled but still sits under
the configured cap, a partition whose row count halved overnight, a
violation count that was always 0 and suddenly is not.

Two direction-aware detectors per (metric, rule), either fires:

* **z-score** — ``|value - hist_mean| / hist_std > max_zscore`` with at
  least ``min_history`` prior runs and non-degenerate spread. The
  classic band for metrics that wobble (row counts, quantiles).
* **relative change** — ``|value - hist_mean| / max(|hist_mean|, eps)
  > max_rel_change``. The detector that still works when history is
  CONSTANT (std = 0, where z-score is undefined): a null_rate that was
  0.0 for ten runs and is 0.05 today is exactly the case this exists
  for (mean 0 makes any increase an unbounded relative change).

``direction`` gates both: ``upper`` rules ignore improvements (a
violation count FALLING is not an anomaly), ``lower`` rules ignore
growth (row counts are allowed to grow).

Scale: everything here is metadata-sized — |partitions| x |runs| x
|metrics| rows, never the fact table. The rules table is a handful of
rows and broadcast-joined.

Reference analogue: the reference compares freshly computed metrics
against previously stored values before publishing updates
(processor.py:159-178); this generalizes that idiom to every stored
metric with explicit statistical bands and direction semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

_EPS = 1e-12


@dataclass(frozen=True)
class AnomalyRule:
    """Band definition for one metric.

    ``max_rel_change=None`` disables the relative detector;
    ``direction`` is ``"upper"`` / ``"lower"`` / ``"both"``.

    ``absent_is_zero``: treat runs whose metrics map LACKS this key as
    having observed 0 — the right semantics for count-like metrics
    (``viol_<check>``: a clean run records no key at all, yet it is
    evidence of zero failures). The band is then computed over ALL of
    the partition's prior runs with zeros filled in, so a check that
    never fired before and fires 1000 times today is a fresh anomaly
    rather than an empty history.
    """

    direction: str = "both"
    max_zscore: float = 3.0
    max_rel_change: float | None = None
    min_history: int = 3
    absent_is_zero: bool = False


DEFAULT_RULE = AnomalyRule()

# Prefix-matched rules for metric FAMILIES (exact-name rules win).
# viol_<check>: per-check failure counts from the manifest breakdown
# (plans/suite.py viol_by_check) — upper-only, absent runs count as 0.
DEFAULT_PREFIX_RULES: dict[str, AnomalyRule] = {
    "viol_": AnomalyRule("upper", 3.0, 2.0, absent_is_zero=True),
}

# Direction semantics follow what each metric MEANS for a validation
# run: counts of data shrinking or violations/nulls/drift growing are
# anomalies; the opposite movements are improvements.
DEFAULT_RULES: dict[str, AnomalyRule] = {
    "row_count": AnomalyRule("lower", 4.0, 0.5),
    # DataSketches HLL estimate (manifest.py); the HLL++ estimates older
    # runs stored under distinct_doc_id never share its band
    "distinct_doc_id_ds": AnomalyRule("lower", 4.0, 0.5),
    "violation_rows": AnomalyRule("upper", 3.0, 2.0),
    "null_rate": AnomalyRule("upper", 3.0, 2.0),
    "p50_n_tok": AnomalyRule("both", 4.0, 0.5),
    "ks_stat": AnomalyRule("upper", 3.0, None),
    "psi": AnomalyRule("upper", 3.0, None),
}


def metrics_history(manifest: DataFrame) -> DataFrame:
    """Long-form history: one row per (partition, run, metric).

    ``explode`` of the metrics map — the manifest is already one row
    per validated (partition, snapshot, suite), so this stays
    |runs| x |partitions| x |metrics| rows.
    """
    # dropDuplicates: a run that crashed after its manifest append and
    # was replayed under the same run_id wrote its rows twice —
    # identical rows, which would double-count the band sums. The key
    # excludes the metrics map (set ops reject map columns; duplicates
    # of the key carry identical maps — same run over the same
    # snapshot). compact_manifest retires them permanently.
    return manifest.dropDuplicates(
        ["partition", "snapshot_id", "file_list_hash", "suite_hash",
         "validated_at_run"]
    ).select(
        "partition",
        "suite_hash",
        "validated_at_run",
        F.explode("metrics").alias("metric", "value"),
    )


def _rules_df(spark, rules: dict[str, AnomalyRule]) -> DataFrame:
    rows = [
        (m, r.direction, float(r.max_zscore),
         None if r.max_rel_change is None else float(r.max_rel_change),
         int(r.min_history), bool(r.absent_is_zero))
        for m, r in rules.items()
    ]
    from ..session import local_df

    return local_df(
        spark,
        rows,
        "metric string, direction string, max_zscore double, "
        "max_rel_change double, min_history int, absent_is_zero boolean",
    )


def anomaly_report(
    manifest: DataFrame,
    run_id: str,
    rules: dict[str, AnomalyRule] | None = None,
    suite_hash: str | None = None,
    prefix_rules: dict[str, AnomalyRule] | None = None,
) -> DataFrame:
    """Current run's metrics vs each partition's own history.

    Returns one row per (partition, metric) of the current run with the
    history band, both detector readings, and ``anomaly``/``reason``.
    Partitions with no prior rows (first validation, or a brand-new
    source) report ``hist_n = 0`` and never flag — novelty is the drift
    check's job (cli.py drift_baseline="previous"), not this one's.

    ``suite_hash=None`` (default) pools history across suite versions:
    the stored metrics are raw observations, not threshold-dependent,
    so a threshold tweak should not amnesia the band. Pass a hash to
    pin history to one suite version (e.g. when a suite change altered
    which rows count as violations).
    """
    spark = manifest.sparkSession
    if suite_hash is not None:
        manifest = manifest.where(F.col("suite_hash") == suite_hash)
    hist_all = metrics_history(manifest)
    current = hist_all.where(F.col("validated_at_run") == run_id)
    prior = hist_all.where(F.col("validated_at_run") != run_id)

    # sum/sumsq (not stddev_samp) so absent_is_zero rules can rebase
    # the band over ALL n_runs prior runs with zeros filled in
    band = prior.groupBy("partition", "metric").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum("value").alias("v_sum"),
        F.sum(F.col("value") * F.col("value")).alias("v_sumsq"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )
    # run count from the RAW manifest rows, not the exploded long form:
    # a run whose metrics map lacks a key (or is empty) is still a run,
    # and absent_is_zero needs it in the denominator
    runs = (
        manifest.where(F.col("validated_at_run") != run_id)
        .select("partition", "validated_at_run")
        .distinct()
        .groupBy("partition")
        .agg(F.count(F.lit(1)).alias("n_runs"))
    )
    rules_dim = _rules_df(spark, rules or DEFAULT_RULES)

    joined = (
        current.select("partition", "metric", "value")
        .join(band, ["partition", "metric"], "left")
        .join(runs, "partition", "left")
        .fillna({"n_present": 0, "n_runs": 0})
        .join(F.broadcast(rules_dim), "metric", "left")
    )
    # prefix-matched rule families fill where no exact rule landed.
    # The hit flag must be materialized BEFORE the rule columns mutate:
    # the first withColumn overwrites `direction`, and a hit expression
    # re-reading it would see the already-filled value and skip the
    # remaining columns.
    for pfx, r in (prefix_rules or DEFAULT_PREFIX_RULES).items():
        joined = joined.withColumn(
            "_pfx_hit", F.col("direction").isNull() & F.col("metric").startswith(pfx)
        )
        hit = F.col("_pfx_hit")
        for col, v in (
            ("max_zscore", r.max_zscore),
            ("max_rel_change", r.max_rel_change),
            ("min_history", r.min_history),
            ("absent_is_zero", r.absent_is_zero),
            # direction LAST — it is the "no exact rule matched" marker
            ("direction", r.direction),
        ):
            joined = joined.withColumn(
                col, F.when(hit, F.lit(v)).otherwise(F.col(col))
            )
        joined = joined.drop("_pfx_hit")
    # metrics without any rule take the default band; the prefix loop
    # above ran first, so these fills never shadow a family rule
    joined = joined.fillna(
        {
            "direction": DEFAULT_RULE.direction,
            "max_zscore": DEFAULT_RULE.max_zscore,
            "min_history": DEFAULT_RULE.min_history,
            "absent_is_zero": DEFAULT_RULE.absent_is_zero,
        }
    )

    # absent_is_zero: rebase over every prior run (missing key = 0).
    # hist_n then counts RUNS; mean/var come from the zero-filled
    # population (sum and sumsq are unchanged by adding zeros).
    az = F.col("absent_is_zero") & (F.col("n_runs") > F.col("n_present"))
    hist_n = F.when(az, F.col("n_runs")).otherwise(F.col("n_present"))
    v_sum = F.coalesce(F.col("v_sum"), F.lit(0.0))
    v_sumsq = F.coalesce(F.col("v_sumsq"), F.lit(0.0))
    hist_mean = F.when(hist_n > 0, v_sum / hist_n)
    hist_var = F.when(
        hist_n > 1,
        F.greatest(
            (v_sumsq - hist_n * hist_mean * hist_mean) / (hist_n - 1),
            F.lit(0.0),
        ),
    )
    hist_std = F.sqrt(hist_var)
    hist_min = F.when(az, F.least(F.coalesce(F.col("v_min"), F.lit(0.0)), F.lit(0.0))).otherwise(
        F.col("v_min")
    )
    hist_max = F.when(az, F.greatest(F.coalesce(F.col("v_max"), F.lit(0.0)), F.lit(0.0))).otherwise(
        F.col("v_max")
    )
    joined = (
        joined.withColumn("hist_n", hist_n)
        .withColumn("hist_mean", hist_mean)
        .withColumn("hist_std", hist_std)
        .withColumn("hist_min", hist_min)
        .withColumn("hist_max", hist_max)
    )

    delta = F.col("value") - F.col("hist_mean")
    dir_match = (
        (F.col("direction") == "both")
        | ((F.col("direction") == "upper") & (delta > 0))
        | ((F.col("direction") == "lower") & (delta < 0))
    )
    enough = F.col("hist_n") >= F.col("min_history")
    zscore = F.when(
        F.col("hist_std").isNotNull() & (F.col("hist_std") > 0),
        delta / F.col("hist_std"),
    )
    rel = delta / F.greatest(F.abs(F.col("hist_mean")), F.lit(_EPS))
    z_fire = (
        enough & dir_match & zscore.isNotNull()
        & (F.abs(zscore) > F.col("max_zscore"))
    )
    rel_fire = (
        enough & dir_match & F.col("max_rel_change").isNotNull()
        & (F.abs(rel) > F.col("max_rel_change"))
    )
    reason = F.concat_ws(
        "; ",
        F.when(z_fire, F.concat(F.lit("zscore "), F.round(zscore, 2).cast("string"),
                                F.lit(" beyond "), F.col("max_zscore").cast("string"))),
        F.when(rel_fire, F.concat(F.lit("rel_change "), F.round(rel, 3).cast("string"),
                                  F.lit(" beyond "), F.col("max_rel_change").cast("string"))),
    )
    return joined.select(
        "partition",
        "metric",
        "value",
        "hist_n",
        "hist_mean",
        "hist_std",
        "hist_min",
        "hist_max",
        zscore.alias("zscore"),
        F.when(F.col("hist_mean").isNotNull(), rel).alias("rel_change"),
        (z_fire | rel_fire).alias("anomaly"),
        F.when(z_fire | rel_fire, reason).alias("reason"),
    )


def anomaly_verdicts(report: DataFrame) -> DataFrame:
    """Per-partition rollup: 'anomalous' iff any metric flagged."""
    return report.groupBy("partition").agg(
        F.sum(F.col("anomaly").cast("int")).alias("anomalous_metrics"),
        F.max(F.col("hist_n")).alias("hist_n"),
        # collect_list drops the NULLs the unfired branch produces
        F.collect_list(F.when(F.col("anomaly"), F.col("metric"))).alias("flagged"),
    ).withColumn(
        "history_verdict",
        F.when(F.col("anomalous_metrics") > 0, F.lit("anomalous")).otherwise(
            F.lit("normal")
        ),
    )
