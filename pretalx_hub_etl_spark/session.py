"""SparkSession factory + engine config baseline.

Config decisions (SURVEY.md §4.3):

- ANSI mode ON: replicates the reference's strict-lookup / crash-on-bad-data
  semantics (Python ``KeyError`` on a missing map key, reference
  ``main.py:120,123``) instead of silently producing NULLs.
- Session timezone pinned UTC: required for DuckDB-oracle parity (DuckDB
  timestamps are naive-UTC).
- AQE ON (+ skew-join handling): at the 100 TB design point, runtime
  re-planning of shuffle partition counts and skewed joins matters more than
  any static tuning we could do here.
- ``spark.sql.legacy.parquet.nanosAsLong``: the ``events`` table stores
  TIMESTAMP(NANOS) which Spark's vectorized parquet reader refuses; reading
  nanos as int64 keeps the native columnar scan (no pyarrow detour) and the
  catalog converts to TimestampType with one cheap projection.
- ``spark.sql.codegen.cache.maxEntries`` = 1000 (Spark's default is 100):
  the engine's steady working set of generated classes is about 245 on the
  ``schedule_sync`` benchmark (after nine sync cycles) and 295 on
  ``curation`` (after two passes), measured from the cache's own size on
  pyspark 4.1, ``local[4]``. At 100 entries the least-recently-used
  eviction thrashed: the cache sat full and every sync cycle recompiled
  120–220 Janino classes. At 1000 the whole working set fits with room
  to spare. It is a static conf, so only sessions built by
  :func:`get_spark` get it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Session-level (runtime-settable) confs. Applied both at build time and
#: defensively onto externally-created sessions (the verify driver builds its
#: own SparkSession; `ensure_engine_conf` upgrades it in place).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # answer unfiltered COUNT/MIN/MAX from parquet footer statistics
    # instead of scanning row groups (exact for the types this corpus
    # uses; a no-op for aggregations the pushdown cannot fully cover,
    # e.g. anything with count_distinct or non-partition GROUP BY)
    "spark.sql.parquet.aggregatePushdown": "true",
    # let Python DataSources receive the query's WHERE conjuncts — the
    # lakehouse SQL reader (sources/lakehouse_ds.py) turns them into
    # manifest-level file skipping inside the planner
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pretalx-hub-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS``; on a real cluster the
    caller passes ``master`` and executor sizing via ``extra_conf``. Shuffle
    partitions default to the core count — AQE coalesces from there, which is
    the right shape both at local[32] and (with a larger starting number) at
    1000 executors.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-created session.

    Safe to call repeatedly; silently skips confs the running session refuses
    to change at runtime. Static confs set by :func:`get_spark` (the
    generated-code cache size, ``spark.ui.enabled``) cannot be applied to a
    running session, so an externally-created session keeps its own.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by Janino in this JVM so far.

    The count is ``CodegenMetrics``' compilation-time histogram count; the
    milliseconds come from ``CodeGenerator.compileTime`` (the histogram
    keeps a sample, not a sum). Both are JVM-wide and only grow, so a
    caller reads them before and after an action and takes the
    difference; a cache hit in the generated-class cache adds nothing.
    """
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    count = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(count), codegen.CodeGenerator.compileTime() / 1e6


def release_checkpoint(pinned: DataFrame) -> None:
    """Drop the rows behind a ``localCheckpoint``-ed frame.

    ``DataFrame.unpersist`` only reaches the cache manager. A local
    checkpoint's rows are the persisted RDD under the frame's
    ``LogicalRDD`` leaf, which stays in ``getPersistentRDDs`` (and in
    executor memory) until that RDD itself is unpersisted. The frame
    cannot be read afterwards.
    """
    pinned._jdf.logicalPlan().rdd().unpersist(False)
