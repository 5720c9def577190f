"""Multi-dimensional data layout: z-order clustering for scan pruning.

At 100 TB the scan you DON'T do is the fastest operator. Parquet
readers skip files and row groups whose column min/max statistics
exclude the predicate — but min/max skipping only bites when rows with
nearby values sit in the same files. Sorting by one column clusters
that column and destroys the other; interleaving the bits of two
(bucketed) columns — a z-order / Morton curve — gives BOTH predicates
locality, which is exactly what Delta's OPTIMIZE ZORDER and Iceberg's
sort orders do (public algorithm; see Morton 1966).

Everything here is integer arithmetic on longs — whole-stage codegen,
no UDFs, no shuffle beyond the one repartitionByRange a clustered
write needs anyway.

Reference contract: the reference engine has no layout control at all
(it INSERTs row-at-a-time, maillog2db.go:283-442); this module is part
of the scale-out surface the driver's north star adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from ..ledger import overwrite_partitions

ZBITS = 6  # bits per dimension → 64×64 grid, 12-bit z-key

# fixed bucket grids for the orders table (data-independent, so the
# key is a pure per-row function — same determinism contract as the
# sampling ops, and the oracle can replay it arithmetically)
PRICE_STEP = 8192  # o_totalprice ∈ [1.3k, 500k] → buckets 0..61
DAY_STEP = 38  # o_orderdate spans ~2404 days from DAY_EPOCH → 0..63
DAY_EPOCH = "1995-01-01"


def interleave_bits(a, b, bits: int = ZBITS):
    """Morton interleave of two bucketed longs: bit i of `a` lands at
    position 2i+1, bit i of `b` at 2i. A fold of shifts/ands/ors —
    stays inside whole-stage codegen."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def _buckets():
    mask = (1 << ZBITS) - 1
    price_b = F.least(
        F.floor(F.col("o_totalprice") / PRICE_STEP).cast("bigint"), F.lit(mask)
    )
    day_b = F.least(
        F.floor(
            F.datediff(F.col("o_orderdate"), F.lit(DAY_EPOCH).cast("date")) / DAY_STEP
        ).cast("bigint"),
        F.lit(mask),
    )
    return price_b, day_b


def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order z-order key over (total price, order date): the
    clustering key a layout optimizer would range-partition and sort
    by. Registered with a full arithmetic oracle — the interleave is
    deterministic integer math, so the hash gate certifies every bit.

    Plan: one codegen'd projection over the scan; no shuffle, no UDF."""
    o = io.load(spark, sf_dir, "orders")
    price_b, day_b = _buckets()
    return o.select(
        "o_orderkey",
        price_b.alias("price_bucket"),
        day_b.alias("day_bucket"),
        interleave_bits(price_b, day_b).alias("zkey"),
    )


def write_zordered(df: DataFrame, path: str, n_files: int) -> None:
    """Cluster `df` (orders schema) into `n_files` z-ordered parquet
    files: range-partition on the z-key, sort within partitions, drop
    the key before writing (layout is physical, not logical — readers
    see the original schema). Range partitioning samples the key to
    build balanced cut points, so file sizes stay even under skew —
    the same mechanics a 1000-executor OPTIMIZE job needs."""
    price_b, day_b = _buckets()
    keyed = df.withColumn("_zkey", interleave_bits(price_b, day_b))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


MONTH_COL = "o_month"


def _with_month(df: DataFrame) -> DataFrame:
    return df.withColumn(
        MONTH_COL, F.date_format(F.col("o_orderdate"), "yyyy-MM")
    )


def write_zordered_partitioned(df: DataFrame, path: str, n_files: int) -> None:
    """Initial layout for a CONTINUOUSLY-INGESTED table: coarse time
    partitions (month directories — the partition-pruning dimension)
    with z-ordered files inside each. This is the shape incremental
    maintenance needs: new data lands in a few recent partitions, so
    re-clustering touches only those directories — never the table."""
    price_b, day_b = _buckets()
    keyed = _with_month(df).withColumn("_zkey", interleave_bits(price_b, day_b))
    (
        keyed.repartitionByRange(n_files, MONTH_COL, "_zkey")
        .sortWithinPartitions(MONTH_COL, "_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .partitionBy(MONTH_COL)
        .parquet(path)
    )


def append_unclustered(df: DataFrame, path: str) -> None:
    """Streaming-ingest shape: append rows into their month partitions
    with no clustering — the small, z-disordered files an OPTIMIZE
    pass later compacts."""
    _with_month(df).write.mode("append").partitionBy(MONTH_COL).parquet(path)


def optimize_partitions(
    spark: SparkSession, path: str, months: list[str], files_per_month: int = 1
) -> None:
    """Incremental OPTIMIZE ZORDER: re-cluster ONLY the named month
    partitions (dynamic-partition overwrite — untouched directories'
    files are not rewritten, not even listed for data). At 100 TB the
    optimize job is sized by the ingest rate (a few recent partitions),
    not the table; this is the same touched-buckets-only discipline as
    the streaming state store's merges. The bounded localCheckpoint
    breaks lineage so the rewrite may overwrite the directories it
    read."""
    price_b, day_b = _buckets()
    part = (
        spark.read.parquet(path)
        .filter(F.col(MONTH_COL).isin(months))
        .localCheckpoint(eager=True)
    )
    keyed = part.withColumn("_zkey", interleave_bits(price_b, day_b))
    overwrite_partitions(
        keyed.repartitionByRange(max(1, files_per_month * len(months)), MONTH_COL, "_zkey")
        .sortWithinPartitions(MONTH_COL, "_zkey")
        .drop("_zkey"),
        path,
        MONTH_COL,
    )


def files_touched(spark: SparkSession, path: str, predicate) -> tuple[int, int]:
    """(files containing matching rows, total files) for a layout — the
    min/max-skipping effectiveness metric: a file with no matching rows
    is a file whose stats let the reader skip it entirely."""
    df = spark.read.parquet(path)
    total = df.select(F.input_file_name()).distinct().count()
    touched = (
        df.filter(predicate).select(F.input_file_name()).distinct().count()
    )
    return touched, total


ZORDER_KEY_SQL = f"""
WITH b AS (
  SELECT o_orderkey,
         least(CAST(floor(o_totalprice / {PRICE_STEP}) AS BIGINT), {(1 << ZBITS) - 1}) AS price_bucket,
         least(CAST(floor(date_diff('day', DATE '{DAY_EPOCH}', CAST(o_orderdate AS DATE)) / {DAY_STEP}.0) AS BIGINT), {(1 << ZBITS) - 1}) AS day_bucket
  FROM orders
)
SELECT o_orderkey, price_bucket, day_bucket,
       CAST({' + '.join(
           f"(((price_bucket >> {i}) & 1) << {2 * i + 1}) + (((day_bucket >> {i}) & 1) << {2 * i})"
           for i in range(ZBITS)
       )} AS BIGINT) AS zkey
FROM b
"""
