"""SparkSession factory.

The reference hard-codes ``local[12]`` and nothing else
(``Main.scala:42-47``). We instead centralize a builder with the
settings that matter for both local test runs and a real cluster:

* AQE on (runtime shuffle coalescing, skew-join splitting, broadcast
  demotion) — the main lever that keeps one static plan viable from
  sf0.001 up to 100 TB;
* shuffle partitions sized to local cores by default — on a cluster
  AQE's ``coalescePartitions`` re-sizes them from the initial number,
  so the static setting only needs to be "not absurdly small";
* session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive);
* Arrow enabled for any pandas interchange (similarity / multimodal
  pandas UDFs).

100 TB notes: on a real cluster you would additionally set
``spark.sql.files.maxPartitionBytes`` (128-256 MB), executor
memory/cores, and rely on dynamic allocation. Nothing in this module
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Catalyst's InferFiltersFromGenerate adds `size(genChild) > 0` above
# every explode; predicate pushdown then substitutes aliases, so when
# the generator child is an expensive expression (LSH signatures,
# bucket arrays) the ENTIRE expression is re-evaluated inside a filter
# that lands below the repartition — i.e. once more, single-partition.
# Measured 6× wall-clock on the MinHash operator (18.8s → 3.0s at
# sf0.001). The rule only prunes empty-array rows early — a micro-win
# we happily give up. Operators that explode expensive arrays call
# exclude_infer_filters_from_generate defensively because the driver
# runs them under ITS session, not ours.
_INFER_FILTERS_FROM_GENERATE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")


def exclude_infer_filters_from_generate(spark: SparkSession) -> None:
    """Append InferFiltersFromGenerate to excludedRules (idempotent,
    preserves any rules the session already excludes)."""
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        current = None
    if not current:
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       _INFER_FILTERS_FROM_GENERATE)
    elif _INFER_FILTERS_FROM_GENERATE not in current:
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       f"{current},{_INFER_FILTERS_FROM_GENERATE}")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(app_name: str = "bigdata_spark_assignment_spark") -> SparkSession:
    """Build (or get) the singleton SparkSession with engine defaults."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r12 (guide §2.2: fewer, larger reduce partitions): by default
        # AQE coalescing maximizes parallelism first (parallelismFirst=
        # true), splitting even KB-sized shuffles across every core —
        # at local[32] that is a 32-task storm per Exchange on tiny
        # reduce sides, and the Spark docs themselves recommend setting
        # it false so the advisory target size is respected. At cluster
        # scale shuffles are orders of magnitude over the 64MB advisory,
        # so this only removes degenerate tiny-partition fan-out; CPU-
        # heavy narrow stages that NEED width use explicit repartition
        # (minhash signatures, fanout_cache) and are unaffected.
        # Measured r12: suite 129.4 -> 96.3s at local[32] (A/B in
        # OPTIMIZATION_r12.md).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        # companion to parallelismFirst=false (r12): by default AQE may
        # NOT re-size the output partitioning of cached plans, so every
        # persisted intermediate (dedup pair graphs, shared suite
        # frames) stays pinned at the initial shuffle width and each
        # cached-read stage fans to all cores regardless of size
        # (measured via tools/count_jobs.py: q72 1510 -> 205 tasks,
        # q30 restructure 1427 -> 82, identical results). The trade:
        # downstream operators can no longer RELY on a cached frame's
        # partitioning, so co-partition-designed consumers may plan an
        # extra (cache-fed, byte-sized) exchange — negligible when the
        # cache is small, which is exactly when AQE would coalesce it.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    exclude_infer_filters_from_generate(spark)
    return spark
