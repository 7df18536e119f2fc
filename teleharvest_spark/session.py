"""SparkSession factory tuned for the validation engine.

Local-mode settings mirror what a 1000-executor cluster submit would
set per-executor; partitioning knobs are centralized here so bench and
tests share one config surface.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 24g. In local mode the driver
    heap holds every executor too, so a heap above RAM (24g on a 16 GB
    host) invites the OOM killer instead of a spill."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram // 2**31))}g"


# Master and driver heap follow the host: local[<usable cores>] and at
# most half of RAM (SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override
# both). On a real cluster spark-submit overrides master/memory and the
# rest still apply.
_BASE_CONF: dict[str, str] = {
    # AQE: runtime coalescing + skew-join splitting (north_rule requires
    # explicit skew handling; AQE covers joins, manual salting covers
    # hot-key groupBy — see operators/uniqueness.py).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce plans that are being persisted. Spark's default
    # (false) keeps a cached aggregate at spark.sql.shuffle.partitions,
    # so the dup-key set, part_stats, the drift histogram and every
    # reader of them ran 32 tasks each: 11 of a validate run's 48 jobs
    # and 449 tasks for 10k rows, with more task time spent
    # deserializing plans than computing. Only exchanges coalesce, so
    # the exchange-free per_row and violations caches keep their
    # partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # One validate run generates ~145 classes; Spark's default cache of
    # 100 evicted them all, so every run recompiled each one in Janino
    # and again in the JIT (17.7 of a run's 39 CPU-s). Static conf: it
    # only takes effect when the session is built, as get_spark does.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Arrow for every pandas UDF / toPandas boundary (input_hint: no
    # per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps for oracle comparison (DuckDB is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny local runs fan out 200 shuffle partitions.
    "spark.sql.shuffle.partitions": "32",
    # 64 MiB input splits: tokens-array tables decode slowly enough that
    # wave quantization dominates at 128 MiB (8.2 GB → 66 splits on 32
    # cores = 2 waves + a 2-task straggler tail ≈ 45% idle in the last
    # wave). Smaller splits keep splits ≫ cores so the tail is one short
    # task; at the 100 TB target splits ≫ cores holds either way.
    "spark.sql.files.maxPartitionBytes": "67108864",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "teleharvest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default:
    the cores this process may run on); the driver heap to
    ``$SPARK_GRAFT_DRIVER_MEM`` (default: half of RAM, at most 24g).
    """
    if master is None:
        # the affinity mask, not the host's core count: task threads
        # beyond the cores this process may use only wait
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_BASE_CONF)
    conf["spark.driver.memory"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema):
    """Driver-local rows → DataFrame WITHOUT Python-worker partitions.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` Python-fed slices — on local[32] that is 32
    Python worker round-trips (~3.5 s, measured) charged to EVERY job
    whose plan scans the relation, even for an empty list. Metadata-
    sized frames (schema reports, localized snapshots, driver
    union-find output, IVF centroid dims, sketch summaries) pay it
    constantly. This helper keeps the data JVM-side:

    * non-empty → the Arrow ``createDataFrame(pandas)`` path (record
      batches decoded in the JVM; ~0.15 s, no Python at execution);
    * empty → a zero-partition ``range(0)`` projection with the target
      schema (pure LocalRelation; nullability is relaxed to nullable,
      which every downstream union/read tolerates).

    ``schema`` may be a DDL string or StructType. ``rows`` is a list of
    positional tuples/Rows (the createDataFrame(list) contract) or an
    already-built pandas DataFrame (column-aligned; empty ones take the
    LocalRelation branch — empty pandas input falls off Arrow onto the
    slow path too).
    """
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    st = (
        schema
        if isinstance(schema, T.StructType)
        else spark.createDataFrame([], schema).schema  # lazy: schema parse only
    )
    if isinstance(rows, pd.DataFrame):
        if len(rows) == 0:
            rows = []
        else:
            return spark.createDataFrame(rows, st)
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    pdf = pd.DataFrame(list(rows), columns=[f.name for f in st.fields], dtype=object)
    return spark.createDataFrame(pdf, st)
