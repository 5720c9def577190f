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

A third local-only setting is the driver JVM's JIT policy,
``DRIVER_JIT_OPTIONS``. The engine runs many short Spark jobs in one
long-lived ``local[N]`` JVM, and HotSpot's optimizing C2 compiler spent
most of that JVM's CPU compiling code that then ran for a fraction of
a second: in a warm ``perfbench`` ``corpus`` unit the JIT compiler
threads used 16.5 of 25.7 JVM CPU seconds (64%) against 4.0 s for
Spark's executor task threads, and 34 of 52 s in the cold unit.
Stopping tiered compilation at C1 (``-XX:TieredStopAtLevel=1``) keeps
compiled code without that cost. C1 code is slower: executor threads
spend up to twice the CPU, the two policies' JVM CPU per ``corpus``
unit meets after 4 to 8 warm units, and from then on C2's warm code
runs the units in less wall time (SCALING.md, "Driver JIT policy").
The code cache size belongs with it: C1-only tiering
silently shrinks HotSpot's reserved code cache from 240 MB to 48 MB,
while a five-unit ``corpus`` run fills about 60 MB. At 48 MB the cache
reached 46 MB in the third unit, whose compiler CPU went from 1.2 to
7.2 s as HotSpot evicted and recompiled code, and a full cache
disables the compiler altogether ("CodeCache is full. Compiler has
been disabled"). The flags go in ``spark.driver.defaultJavaOptions``,
which Spark puts before ``spark.driver.extraJavaOptions``, so a
caller's own JVM flags still apply and win over these. They act only
when ``get_spark`` launches the JVM: a session a cluster driver hands
in (``configure_session``), or a JVM started before ``get_spark`` runs
(``spark-submit app.py``), keeps its own JIT policy.
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

# C1-only tiering plus the code cache it needs (module docstring)
DRIVER_JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


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
        # local-only, all three explained in the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
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
