"""Single-pass per-partition column stats + threshold verdicts.

North-rule operator: one ``groupBy(source).agg(...)`` pass computing
min/max/null-rate, Greenwald-Khanna approx quantiles
(``percentile_approx`` — Spark's implementation IS GK) and a
DataSketches HLL distinct estimate (``hll_sketch_agg`` at lgK 14).
Reference
analogue: the scalar threshold checks over views/reactions/len(text)
(processor.py:107-119,147-157) generalized to partition-level stats
(SURVEY.md §2.4).

Partial aggregation (map-side combine) is automatic for every one of
these — at 10^12 rows this is one shuffle of |sources| × sketch-size,
not of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import CheckSuite

# DataSketches lgConfigK of the distinct estimate: rsd ~0.8%, well
# inside the 0.04 dup_rate slack in stats_verdicts
DISTINCT_LG_K = 14


def partition_stats(
    df: DataFrame, key: str = "source", tokens_null_col: str | None = None,
    quantile_accuracy: int = 2500,
) -> DataFrame:
    """One aggregation pass per partition key over the sequences table.

    ``tokens_null_col`` — a precomputed boolean "tokens IS NULL" column
    (the suite's one-decode row cache): the aggregate then never
    touches the array column at all, so the scan is metadata-narrow.
    Same null count either way.

    ``quantile_accuracy`` — GK epsilon⁻¹. The mix of percentile_approx
    (TypedImperativeAggregate) with the other functions forces the
    whole aggregate into ObjectHashAggregate's interpreted per-row
    path, so GK update cost dominates the pass: accuracy 10000 → 2500
    measured 24.7 s → 11.7 s over the 20M-row suite cache (2.2 s →
    1.3 s at 2M) while the rank error bound stays ≤ 4e-4 — far inside
    anything the verdict thresholds or the manifest's history bands
    resolve.

    The distinct estimate is a DataSketches HLL sketch at lgK 14 (rsd
    ~0.8%, the same family plans/states.py persists at lgK 12) over
    xxhash64(doc_id): longs hash cheaper than strings, and 64-bit
    collisions are ≪ the sketch's own error. Its aggregation buffer is
    ONE binary column, where ``approx_count_distinct`` (HLL++) packs
    its registers into 1,639 long buffer columns — the whole aggregate
    had 1,648 buffer attributes instead of 10, and every
    ObjectHashAggregate task regenerated a projection over all of them.
    """
    n_tok = F.col("n_tok")
    tokens_null = (
        F.col(tokens_null_col) if tokens_null_col
        else F.col("tokens").isNull()
    )
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(tokens_null.cast("long")).alias("null_tokens"),
        F.sum(n_tok.isNull().cast("long")).alias("null_n_tok"),
        F.min(n_tok).alias("min_n_tok"),
        F.max(n_tok).alias("max_n_tok"),
        F.avg(n_tok).alias("avg_n_tok"),
        F.percentile_approx(
            n_tok, [0.5, 0.95, 0.99], quantile_accuracy
        ).alias("ntok_quantiles"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.xxhash64("doc_id"), F.lit(DISTINCT_LG_K))
        ).alias("approx_distinct_doc_id"),
        F.sum(F.coalesce(n_tok.cast("long"), F.lit(0))).alias("total_tokens"),
    ).withColumn(
        "null_rate",
        F.col("null_tokens").cast("double") / F.col("row_count").cast("double"),
    )


def quantile_trim(
    df: DataFrame,
    value_col: str,
    key: str = "source",
    lo: float = 0.05,
    hi: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies within the per-``key``
    [lo, hi] quantile band — outlier-length trimming, a standard
    training-corpus quality filter (drop the truncated stubs and the
    boilerplate mega-docs per source, not globally: sources have
    different length regimes).

    Explicit exclusion policy: rows with a NULL ``key`` or NULL
    ``value_col`` are NOT trim decisions — they are upstream cascade/
    referential violations and are excluded from the output (the
    inner join and the value predicate implement exactly that; route
    such rows through the cascade, not this filter).

    Two aggregation passes over |keys| rows of bounds + one broadcast
    join back (the bounds side is partition-cardinality — always
    broadcastable), so the data is scanned twice but never shuffled.
    ``exact=True`` uses the exact ``percentile`` aggregate (oracle-
    comparable, single-pass sort-based per group); at 10^12 rows use
    ``exact=False`` → Greenwald-Khanna ``percentile_approx``, which is
    a bounded-memory mergeable sketch.
    """
    pct = "percentile" if exact else "percentile_approx"
    v = F.col(value_col)
    bounds = df.groupBy(key).agg(
        F.expr(f"{pct}({value_col}, {lo})").alias("__lo"),
        F.expr(f"{pct}({value_col}, {hi})").alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), key)
        .where(v.isNotNull() & (v >= F.col("__lo")) & (v <= F.col("__hi")))
        .drop("__lo", "__hi")
    )


_BUILTIN_STAT_CHECKS = ("null_rate", "min_n_tok", "max_n_tok", "dup_rate")


def stats_verdicts(
    stats: DataFrame,
    suite: CheckSuite,
    source_bounds: DataFrame | None = None,
) -> DataFrame:
    """Declarative thresholds over the stats row → per-partition verdict.

    Reference analogue: settings.py:11-16 thresholds driving pass/fail.

    ``source_bounds`` — the per-source length-bound dimension
    (FIXTURES.md T2: `source, min_n_tok, max_n_tok`) when the run's
    cascade uses per-source overrides (cascade.with_source_bounds).
    The min/max mirrors then compare each partition's observed bounds
    against ITS effective thresholds (override if present, else the
    suite globals) — otherwise a row the cascade allows under a wider
    per-source bound would still fail its partition through this
    mirror, with zero violation rows to explain why. Sources absent
    from the dimension (rogue/NULL) fall back to the globals, exactly
    as the cascade does.

    ``suite.stat_checks`` appends user (name, sql_expr) assertions over
    the same stats row — TRUE fails, NULL passes (the custom_checks
    contract, aggregate-side). They evaluate over |partitions| rows, so
    an arbitrary number of them costs nothing at any scale.

    Tolerance interaction: the min/max_n_tok entries MIRROR the
    row-level too_short/too_long cascade checks (one bad row trips
    both). When the suite declares a violation tolerance that covers
    the row check (a ``check_tolerances`` entry for it, or a global
    ``max_violation_frac`` > 0), the mirror DEFERS — the row-level
    count, which is exact, is the decisive semantics; otherwise one
    tolerated short row would still fail the partition through the
    stats side and the tolerance would be inert. null_rate and
    dup_rate have their OWN fractional knobs (max_null_rate,
    max_dup_rate) and never defer.
    """
    tol_names = {n for n, _ in suite.check_tolerances}
    tolerant = suite.max_violation_frac > 0.0
    min_thr = F.lit(suite.min_n_tok)
    max_thr = F.lit(suite.max_n_tok)
    drop_cols: list[str] = []
    if source_bounds is not None:
        dim = source_bounds.select(
            "source",
            F.col("min_n_tok").alias("_bound_min"),
            F.col("max_n_tok").alias("_bound_max"),
        )
        stats = stats.join(F.broadcast(dim), "source", "left")
        min_thr = F.coalesce(F.col("_bound_min"), min_thr)
        max_thr = F.coalesce(F.col("_bound_max"), max_thr)
        drop_cols = ["_bound_min", "_bound_max"]
    entries = [
        F.when(F.col("null_rate") > suite.max_null_rate, F.lit("null_rate")),
    ]
    if not (tolerant or "too_short" in tol_names):
        entries.append(
            F.when(F.col("min_n_tok") < min_thr, F.lit("min_n_tok"))
        )
    if not (tolerant or "too_long" in tol_names):
        entries.append(
            F.when(F.col("max_n_tok") > max_thr, F.lit("max_n_tok"))
        )
    entries.append(
        # the lgK-14 HLL sketch's rsd is ~0.8% → 0.04 is ≥4σ of slack
        # before flagging duplicates
        F.when(
            F.col("approx_distinct_doc_id").cast("double")
            < F.col("row_count").cast("double") * (1.0 - suite.max_dup_rate - 0.04),
            F.lit("dup_rate"),
        )
    )
    if suite.stat_checks:
        reserved = set(_BUILTIN_STAT_CHECKS)
        for name, expr in suite.stat_checks:
            if name in reserved:
                raise ValueError(
                    f"stat check name {name!r} collides with a "
                    "built-in or earlier stat check"
                )
            reserved.add(name)
            entries.append(
                F.when(F.coalesce(F.expr(expr), F.lit(False)), F.lit(name))
            )
    failed = F.array_compact(F.array(*entries))
    return (
        stats.withColumn("failed_stat_checks", failed)
        .withColumn(
            "stats_verdict",
            F.when(F.size("failed_stat_checks") == 0, F.lit("pass")).otherwise(
                F.lit("fail")
            ),
        )
        .drop(*drop_cols)
    )
