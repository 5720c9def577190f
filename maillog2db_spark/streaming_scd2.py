"""Streaming dual of ``ord_priority_islands``: incremental SCD type-2
maintenance of the per-customer priority-regime history.

A warehouse dimension isn't rebuilt from the full order history per
day: each batch of new orders EXTENDS the open regime or APPENDS new
ones — history rows are never rewritten. Per batch this module

  1. collapses the batch's orders into per-customer runs with the SAME
     change-flag cumsum as the batch operator (windows.priority_islands);
  2. stitches the batch's first run per customer against the stored
     OPEN (latest) regime: same priority → the open regime extends
     (valid_to/n_orders advance, regime_seq unchanged); different →
     a new regime appends with the next ordinal;
  3. appends the affected regime rows to a batch_id-partitioned LOG
     with dynamic overwrite. State is resolved last-writer-wins per
     (custkey, regime_seq) at read time — rows are immutable per
     batch, so a REPLAYED batch overwrites exactly its own partition
     and reads state as-of before itself (filter batch_id != own):
     the in-flight batch can crash anywhere in its commit window and
     replay to the same state, with no in-place update to lose.
     (Structured streaming replays the in-flight batch BEFORE running
     later ones — the ordering a sequential-state operator needs; an
     already-committed batch is never re-entered, the ledger
     short-circuits it.);
  4. quarantines late rows — a (date, orderkey) at or before the
     customer's open-regime frontier would require splitting closed
     history, which SCD2 by definition does not do. The quarantine is
     a batch_id-partitioned side output (same philosophy as parsing's
     NULL-timestamp quarantine: reject loudly, never corrupt).

Ordering contract: per-customer (o_orderdate, o_orderkey) must be
non-decreasing ACROSS batches (same monotone-feed contract as
streaming_neardup's doc_id ordering); within a batch any order is
fine — the collapse sorts. Under that contract the resolved state
equals the batch operator over the union of all batches (tested).

Per-batch cost: O(batch + one open regime per touched customer) —
closed history is never re-read row-wise; the log compacts by
rewriting resolved state under a fresh batch partition (``compact``),
sized by regime count, not order count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, atomic_rewrite
from .streaming_util import start_foreach_batch_stream


class Scd2Store(FileBatchLedger):
    """batch_id-partitioned regime log + quarantine, LWW-resolved."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def current_islands(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Resolved regime table: last writer wins per (custkey,
        regime_seq). ``exclude_batch`` reads state as-of before that
        batch (the replay view)."""
        df = self.read_partials(spark, self._path("islands"), exclude_batch)
        if df is None:
            return None
        return (
            df.groupBy("o_custkey", "regime_seq")
            .agg(
                F.max_by(
                    F.struct("priority", "valid_from", "valid_to", "last_key", "n_orders"),
                    "batch_id",
                ).alias("s")
            )
            .select("o_custkey", "regime_seq", "s.*")
        )

    def quarantined(self, spark: SparkSession) -> DataFrame | None:
        df = self.read_partials(spark, self._path("quarantine"))
        return None if df is None else df.drop("batch_id")

    def compact(self, spark: SparkSession) -> None:
        """Rewrite the resolved state as one partition so the log
        length resets to the regime count (run between batches).

        The compaction partition id is derived INTERNALLY as the max
        committed batch id: LWW resolution is by max batch_id, so the
        compacted snapshot must sit exactly at the frontier — a
        caller-chosen larger id would silently out-rank any later
        stream batch that restarts at a smaller id, and reusing a
        future batch's id would make the replay view (exclude_batch)
        hide the whole state. The rewrite goes through
        ``atomic_rewrite`` (write-to-temp + rename swap), never a
        static overwrite of the directory being read — a crash
        mid-overwrite would otherwise destroy the only durable copy."""
        cur = self.current_islands(spark)
        if cur is None:
            return
        cid = self.max_committed()
        assert cid is not None, "compact() before any committed batch"
        atomic_rewrite(
            cur.withColumn("batch_id", F.lit(cid).cast("long")),
            self._path("islands"),
            partition_by=["batch_id"],
        )


def _batch_runs(batch: DataFrame) -> DataFrame:
    """Per-customer run collapse of ONE batch — the batch operator's
    change-flag cumsum, plus the frontier keys stitching needs."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderpriority").over(w)
    flag = F.when(prev.isNull() | (prev != F.col("o_orderpriority")), 1).otherwise(0)
    seq = batch.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        "o_orderdate",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
    )
    return seq.groupBy("o_custkey", "o_orderpriority", "run").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("valid_to"),
        F.max_by("o_orderkey", F.struct(F.col("o_orderdate"), F.col("o_orderkey"))).alias(
            "last_key"
        ),
    )


def scd2_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: Scd2Store, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    # LWW resolution and the compaction id both lean on batch ids being
    # monotone within a store lifetime (one checkpoint lineage). An
    # UNCOMMITTED id at or below the committed frontier means the
    # stream restarted with a fresh checkpoint against an old store —
    # its writes would silently lose LWW to newer-id rows, so refuse.
    frontier_id = store.max_committed()
    if frontier_id is not None and batch_id <= frontier_id:
        raise ValueError(
            f"batch_id {batch_id} <= committed frontier {frontier_id}: "
            "stream restarted with a fresh checkpoint against an existing "
            "Scd2Store; point the query at the original checkpointLocation "
            "or start a new store root"
        )
    rows = batch.select(
        "o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"
    ).localCheckpoint(eager=True)

    cur = store.current_islands(spark, exclude_batch=batch_id)
    if cur is None:
        frontier = None
    else:
        # one OPEN regime per customer: the only stored row a batch may
        # touch. Read restricted to the batch's customers (join prunes).
        frontier = (
            cur.join(rows.select("o_custkey").distinct(), "o_custkey", "left_semi")
            .groupBy("o_custkey")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("regime_seq").alias("last_seq"),
                        F.col("priority").alias("last_priority"),
                        F.col("valid_from").alias("last_from"),
                        F.col("valid_to").alias("last_to"),
                        F.col("last_key").alias("last_lk"),
                        F.col("n_orders").alias("last_n"),
                    ),
                    "regime_seq",
                ).alias("s")
            )
            .select("o_custkey", "s.*")
        )

    if frontier is not None:
        keyed = rows.join(frontier, "o_custkey", "left")
        day = F.date_format("o_orderdate", "yyyy-MM-dd")
        in_order = F.col("last_seq").isNull() | (
            (day > F.col("last_to"))
            | ((day == F.col("last_to")) & (F.col("o_orderkey") > F.col("last_lk")))
        )
        late = keyed.filter(~in_order).select(
            "o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"
        )
        ok = keyed.filter(in_order).select(
            "o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"
        )
    else:
        late = rows.limit(0)
        ok = rows

    runs = _batch_runs(ok)
    if frontier is None:
        out = runs.select(
            "o_custkey",
            F.col("run").cast("int").alias("regime_seq"),
            F.col("o_orderpriority").alias("priority"),
            "valid_from",
            "valid_to",
            "last_key",
            "n_orders",
        )
    else:
        # the offset every run of a customer shifts by is decided ONCE,
        # by whether the batch's FIRST run fuses into the open regime —
        # a per-row flag would shift later runs inconsistently
        first_run = runs.filter(F.col("run") == 1).select(
            "o_custkey", F.col("o_orderpriority").alias("first_priority")
        )
        j = runs.join(frontier, "o_custkey", "left").join(first_run, "o_custkey")
        cust_merged = F.col("last_priority") == F.col("first_priority")
        merged = (F.col("run") == 1) & cust_merged
        offset = F.coalesce(
            F.col("last_seq") - F.when(cust_merged, 1).otherwise(0), F.lit(0)
        )
        out = j.select(
            "o_custkey",
            (F.col("run") + offset).cast("int").alias("regime_seq"),
            F.col("o_orderpriority").alias("priority"),
            F.when(merged, F.col("last_from")).otherwise(F.col("valid_from")).alias(
                "valid_from"
            ),
            "valid_to",
            "last_key",
            (
                F.col("n_orders")
                + F.when(merged, F.col("last_n")).otherwise(F.lit(0))
            ).alias("n_orders"),
        )

    # per-batch partials only; whole-table rewrites go through
    # atomic_rewrite (compact)
    for df, name in ((out, "islands"), (late, "quarantine")):
        store.write_partial(
            df.localCheckpoint(eager=True).repartition(1), store._path(name), batch_id
        )
    store.mark_committed(batch_id)


def start_scd2_stream(
    spark: SparkSession,
    orders_dir: str,
    store: Scd2Store,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of order parquet drops and maintain the
    regime history incrementally."""
    return start_foreach_batch_stream(
        spark, orders_dir,
        lambda s, df, bid: scd2_ingest_batch(s, df, store, bid),
        checkpoint_dir, "scd2_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
