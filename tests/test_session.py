"""Session defaults and the two engine settings that keep a repeated
validate run cheap: cached aggregates coalesce, generated code is reused."""

from __future__ import annotations

import os

from teleharvest_spark import cli, datagen, session
from teleharvest_spark.plans import suite as suite_plan


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.master_url, self.conf = None, {}

    def master(self, m):
        self.master_url = m
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self

    @property
    def sparkContext(self):
        return self

    def setLogLevel(self, _):
        pass


def _built(monkeypatch, **env):
    b = _Builder()
    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": b}))
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    session.get_spark()
    return b


def test_defaults_follow_the_host(monkeypatch):
    b = _built(monkeypatch)
    assert b.master_url == f"local[{len(os.sched_getaffinity(0))}]"
    mem = b.conf["spark.driver.memory"]
    assert mem.endswith("g")
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert 1 <= int(mem[:-1]) <= min(24, max(1, ram_gb / 2))


def test_env_overrides_defaults(monkeypatch):
    b = _built(monkeypatch, SPARK_GRAFT_CPUS="3", SPARK_GRAFT_DRIVER_MEM="5g")
    assert b.master_url == "local[3]"
    assert b.conf["spark.driver.memory"] == "5g"


def test_repeated_validate_run_reuses_generated_code(spark, suite, tmp_path):
    inp = str(tmp_path / "seqs")
    datagen.generate_sequences(spark, 2000, suite).write.parquet(inp)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(n):
        out = str(tmp_path / f"wh{n}")
        cli.run(
            spark, inp, out, suite, run_id="r1",
            drift=True, emit_valid=f"{out}/certified", key_index=True,
            corpus_states=True,
        )

    run(1)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run(2)
    # A run generates ~150 classes. With Spark's 100-entry cache the
    # second run recompiled all of them; now it reuses them. A few (0-4
    # seen) may still compile: the whole-stage codegen id is part of a
    # class's text, and a run's concurrent branches can number the same
    # stage differently when they are planned in another order.
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before <= 5


def test_persisted_stats_coalesce_below_shuffle_partitions(spark, sequences, suite):
    res = suite_plan.run_suite(sequences, suite)
    try:
        res.materialize()
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert res.stats.rdd.getNumPartitions() < shuffle
    finally:
        res.cleanup()
