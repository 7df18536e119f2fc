from __future__ import annotations

import math

import pyspark.sql.functions as F

from teleharvest_spark.config import CheckSuite
from teleharvest_spark.operators import stats


def test_partition_stats_exact_small(spark):
    df = spark.createDataFrame(
        [
            ("d1", [1, 2], 2, "a"),
            ("d2", [1, 2, 3], 3, "a"),
            ("d3", None, None, "a"),
            ("d4", [5], 1, "b"),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = {r["source"]: r for r in stats.partition_stats(df).collect()}
    a = rows["a"]
    assert a["row_count"] == 3
    assert a["null_tokens"] == 1
    assert a["min_n_tok"] == 2 and a["max_n_tok"] == 3
    assert abs(a["null_rate"] - 1 / 3) < 1e-12
    assert a["total_tokens"] == 5
    assert rows["b"]["row_count"] == 1


def test_stats_verdicts_thresholds(spark, sequences, suite):
    v = stats.stats_verdicts(stats.partition_stats(sequences), suite)
    rows = {r["source"]: r for r in v.collect()}
    # planted too_short/too_long rows exist in big sources → min/max trip
    assert rows["src_00"]["stats_verdict"] == "fail"
    assert "min_n_tok" in rows["src_00"]["failed_stat_checks"]
    # the lgK-14 HLL distinct estimate (rsd ~0.8%) should be within 5%
    # of the row count (dups are ~0.1%)
    a = rows["src_00"]
    assert abs(a["approx_distinct_doc_id"] - a["row_count"]) / a["row_count"] < 0.05


def _agg_buffer_widths(df) -> list[int]:
    """Buffer attribute count of each aggregate node in ``df``'s
    physical plan (before exchanges and AQE are added)."""
    widths = []
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if "Aggregate" in node.nodeName():
            widths.append(node.aggregateBufferAttributes().size())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return widths


def test_partition_stats_aggregate_buffer_is_narrow(spark):
    """One binary sketch buffer for the distinct estimate: the whole
    aggregate carries ~10 buffer attributes (HLL++'s
    approx_count_distinct alone packed its registers into 1,639)."""
    df = spark.range(0, 10).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.col("id").cast("int").alias("n_tok"),
        F.lit("s").alias("source"),
    )
    widths = _agg_buffer_widths(stats.partition_stats(df))
    assert widths and max(widths) <= 32, widths


def _distinct_estimate(spark, n_rows: int, n_keys: int) -> int:
    df = spark.range(0, n_rows, 1, 4).select(
        F.concat(F.lit("d"), (F.col("id") % n_keys).cast("string")).alias(
            "doc_id"
        ),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    return stats.partition_stats(df).first()["approx_distinct_doc_id"]


def test_distinct_estimate_exact_small_and_bounded_large(spark):
    """At ~500 keys the sketch is still in its exact (coupon) mode; at
    ≥100k distinct keys it is in HLL mode, where lgK 14 gives rsd ~0.8%
    — 3% is ~4σ. Duplicated rows must not move the estimate."""
    assert _distinct_estimate(spark, 1_000, 500) == 500
    n = 150_000
    est = _distinct_estimate(spark, n + n // 10, n)
    assert abs(est - n) / n < 0.03, est


def test_gk_2500_rank_error_bound(spark):
    """partition_stats runs percentile_approx at accuracy 2500, whose
    rank error is ≤ n/2500 = 4e-4·n. Values are a permutation of
    0..n-1, so a returned value v has rank v+1; the exact p-quantile
    has rank ⌈p·n⌉. At this size the sketch reaches the bound (80 ranks
    is seen), so a coarser accuracy would fail."""
    n = 200_000
    df = spark.range(0, n, 1, 4).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        # 7919 is coprime with n: a scrambled arrival order
        ((F.col("id") * 7919) % n).cast("int").alias("n_tok"),
        F.lit("s").alias("source"),
    )
    q = stats.partition_stats(df).first()["ntok_quantiles"]
    for got, p in zip(q, (0.5, 0.95, 0.99)):
        assert abs(got + 1 - math.ceil(p * n)) <= 4e-4 * n, (p, got)


def test_sketch_tolerance_vs_exact(spark):
    """GK quantiles (percentile_approx, accuracy 10000) and HLL++
    (rsd 0.01) must land within tight tolerance of the exact values —
    the contract q_stats_sketch's rows-only driver check leans on."""
    df = spark.range(0, 20_000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 1000).cast("int").alias("n_tok"),
        F.lit("s").alias("source"),
    )
    got = df.groupBy("source").agg(
        F.percentile_approx("n_tok", [0.25, 0.5, 0.95], 10000).alias("q"),
        F.approx_count_distinct("doc_id", 0.01).alias("ad"),
    ).collect()[0]
    # n_tok cycles 0..999 uniformly: exact quantiles 249.75/499.5/949.05
    assert abs(got["q"][0] - 250) <= 5
    assert abs(got["q"][1] - 500) <= 5
    assert abs(got["q"][2] - 949) <= 5
    assert abs(got["ad"] - 20_000) / 20_000 < 0.04


def test_clean_partition_passes(spark):
    suite = CheckSuite(min_n_tok=1, max_n_tok=100)
    df = spark.createDataFrame(
        [(f"d{i}", [1] * 5, 5, "clean") for i in range(100)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    v = stats.stats_verdicts(stats.partition_stats(df), suite).collect()
    assert v[0]["stats_verdict"] == "pass"
    assert v[0]["failed_stat_checks"] == []


def _stat_df(spark):
    return spark.createDataFrame(
        [(f"b{i}", "big", [1] * 20, 20) for i in range(50)]
        + [(f"s{i}", "small", [1] * 20, 20) for i in range(3)],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )


def test_declarative_stat_checks_fail_and_null_pass(spark):
    """stat_checks: TRUE fails the partition, NULL passes (three-valued
    SQL, the custom_checks contract aggregate-side); names land in
    failed_stat_checks after built-ins."""
    suite = CheckSuite(
        min_n_tok=1,
        stat_checks=(
            ("low_volume", "row_count < 10"),
            # NULL predicate (comparing against NULL) must pass
            ("null_pred", "row_count < CAST(NULL AS INT)"),
        ),
    )
    st = stats.stats_verdicts(stats.partition_stats(_stat_df(spark)), suite)
    rows = {r["source"]: r for r in st.collect()}
    assert rows["small"]["stats_verdict"] == "fail"
    assert rows["small"]["failed_stat_checks"] == ["low_volume"]
    assert rows["big"]["stats_verdict"] == "pass"
    assert rows["big"]["failed_stat_checks"] == []


def test_stat_checks_can_read_quantiles_and_ratios(spark):
    """The stats row's derived columns (quantile array, averages) are
    addressable from the SQL expression."""
    suite = CheckSuite(
        min_n_tok=1,
        stat_checks=(("median_cap", "ntok_quantiles[0] > 5"),),
    )
    st = stats.stats_verdicts(stats.partition_stats(_stat_df(spark)), suite)
    assert {r["stats_verdict"] for r in st.collect()} == {"fail"}  # median 20 > 5


def test_stat_check_name_collision_raises(spark):
    import pytest

    suite = CheckSuite(stat_checks=(("dup_rate", "row_count < 0"),))
    with pytest.raises(ValueError, match="collides"):
        stats.stats_verdicts(stats.partition_stats(_stat_df(spark)), suite)
    suite2 = CheckSuite(
        stat_checks=(("x", "row_count < 0"), ("x", "row_count > 0"))
    )
    with pytest.raises(ValueError, match="collides"):
        stats.stats_verdicts(stats.partition_stats(_stat_df(spark)), suite2)


def test_stat_checks_suite_hash_and_json(tmp_path):
    import json

    from teleharvest_spark.cli import build_suite

    base = CheckSuite()
    assert CheckSuite(stat_checks=()).suite_hash() == base.suite_hash()
    assert (
        CheckSuite(stat_checks=(("lv", "row_count < 10"),)).suite_hash()
        != base.suite_hash()
    )
    p = tmp_path / "suite.json"
    p.write_text(json.dumps({"stat_checks": [["lv", "row_count < 10"]]}))
    assert build_suite(str(p)).stat_checks == (("lv", "row_count < 10"),)
