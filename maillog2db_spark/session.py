"""SparkSession factory.

Local-mode defaults tuned for the harness (local[N], one JVM), but every
setting here is chosen to also be the right *shape* at cluster scale:
AQE on (runtime skew-join + partition coalescing), shuffle partitions
sized to parallelism, Arrow enabled for the pandas-UDF paths, session
timezone pinned to UTC so timestamps compare exactly against external
oracles.

Two settings remove work a tail micro-batch would otherwise repeat
every batch although its result never changes (measured on a 4-vCPU
VM, steady 3,000-line ``streaming.merge_batch`` calls into 64 buckets:
driver JVM CPU 14.5-19.0 s -> 8.9-12.3 s per batch together with the
schema fix in ``ledger.merge_buckets``; SCALING.md, "Streaming
ingest"):

  * ``spark.sql.codegen.cache.maxEntries`` = 1000 (default 100): one
    ``merge_batch`` (four concurrent table merges) generates about 130
    classes, more than the default LRU holds, so each batch evicted the
    classes the next one needed and Janino recompiled 73-97 of them
    per batch (2 with this setting). A static conf: it only takes effect when the session is
    built.
  * ``spark.sql.sources.parallelPartitionDiscovery.threshold`` = 4096
    (default 32): a store read sees one ``part=`` directory per bucket
    (64), above the default, so each read ran a 64-task listing job
    whose every task deserialized the whole Hadoop ``Configuration``.
    In ``local[N]`` those tasks run in the driver's JVM anyway, so
    listing on the driver is strictly cheaper.

Both are set here and not in ``configure_session``: they are right for
the ``local[N]`` session this factory builds, while a session a cluster
driver hands in may want distributed listing over a remote filesystem,
and its codegen cache size is the cluster's to choose.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# InferFiltersFromGenerate wraps every explode(expr) in size(expr)>0 AND
# isnotnull(expr) pre-filters. Its cost model does not treat higher-order
# functions (transform/filter lambdas — CodegenFallback, interpreted) as
# expensive, and predicate pushdown then sinks those filters below
# exchanges — so e.g. a shingling expression gets re-evaluated 4x per row
# single-threaded at the scan. Measured 10.8s -> 0.65s at sf0.1 on the
# MinHash signature query. The inferred filter only skips empty arrays,
# which explode skips anyway — excluding the rule is semantically free.
EXCLUDED_OPTIMIZER_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def get_spark(app_name: str = "maillog2db_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        # local-only, both explained in the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/sparklog_warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session
    (the driver hands us one in ``__spark_entry__.entry``). The
    correctness-critical subset lives in io.ensure_session_conf (the
    single list, also self-applied by every query at its load
    chokepoint); this adds the perf-only extras."""
    from . import io

    io.ensure_session_conf(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
