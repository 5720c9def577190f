"""Streaming dual of ``ev_multitouch_attribution``: incremental
linear multi-touch credit assignment against a persisted click store.

An attribution pipeline doesn't re-scan history per day: purchases
arrive in (event-time-ordered) micro-batches and are credited against
the clicks already seen. Per batch this module

  1. merges the batch's clicks into a persisted store partitioned by
     coarse TIME BUCKET (attribution-window-sized) — merges touch only
     the batch's buckets (dynamic overwrite), reads for a purchase
     batch touch only the buckets its look-back window spans
     (partition pruning), and click_id dedup plus src_batch provenance
     make the merge replay-idempotent (the BucketedMinStore recipe,
     keyed by time instead of hash);
  2. pairs the batch's purchases with in-window clicks (stored ∪
     batch) via the SAME generic cell-decomposed `range_join` the
     batch operator uses, splits each purchase's micro-value equally
     (trunc-toward-zero integer division, both engines' semantics),
     and appends the credit rows to a batch_id-partitioned log — a
     replayed batch overwrites exactly its own partition;
  3. resolves totals per click by reading the log — equal to the
     batch operator over the union of all batches (tested).

Ordering contract: batch boundaries are event-time-monotone (a
purchase's in-window clicks have all arrived by its batch — the same
watermark-shaped contract as streaming_scd2's frontier). Within a
batch, order is irrelevant: pairing is by timestamp, not arrival.

State bound: the attribution window is the watermark — buckets older
than (frontier − window) are never read again; ``vacuum`` statically
rewrites the store without them so storage, not just reads, tracks
the window (the scd2-compaction pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import (
    FileBatchLedger, PartialsTable, atomic_rewrite, drop_batch_id, has_rows,
    merge_buckets, recover,
)
from .operators.temporal import ATTRIB_WINDOW_SEC, range_join

_W_US = ATTRIB_WINDOW_SEC * 1_000_000


class AttributionStore(FileBatchLedger):
    """Time-bucketed click store + batch_id-partitioned credit log."""

    def __init__(self, root: str):
        self.root = root
        self.clicks_path = os.path.join(root, "clicks")
        self.credits = PartialsTable(os.path.join(root, "credits"), drop_batch_id)

    def merge_clicks(
        self, spark: SparkSession, clicks: DataFrame, batch_id: int
    ) -> None:
        """clicks: (click_id, user_id, click_us). Touches only the
        batch's time buckets; click_id-dedup keeps replays idempotent
        (min src_batch wins, so a replayed batch converges)."""
        new_b = clicks.withColumn(
            "tbucket", F.expr(f"click_us div {_W_US}")
        ).withColumn("src_batch", F.lit(batch_id).cast("long"))
        merge_buckets(
            spark, self.clicks_path, new_b, "tbucket",
            lambda m: m.groupBy("tbucket", "click_id")
            .agg(F.min(F.struct("src_batch", "user_id", "click_us")).alias("s"))
            .select("tbucket", "click_id", "s.user_id", "s.click_us", "s.src_batch"),
        )

    def read_clicks(
        self,
        spark: SparkSession,
        lo_us: int,
        hi_us: int,
        exclude_batch: int | None = None,
    ) -> DataFrame | None:
        """Clicks whose bucket intersects [lo_us, hi_us] — the isin on
        the partition column prunes every other bucket directory."""
        recover(self.clicks_path)
        if not has_rows(self.clicks_path):
            return None
        buckets = list(range(lo_us // _W_US, hi_us // _W_US + 1))
        df = spark.read.parquet(self.clicks_path).filter(
            F.col("tbucket").isin(buckets)
        )
        if exclude_batch is not None:
            df = df.filter(F.col("src_batch") != exclude_batch)
        return df.select("click_id", "user_id", "click_us")

    def credited_totals(self, spark: SparkSession) -> DataFrame | None:
        """Resolved per-click totals — the batch operator's schema."""
        df = self.credits.read(spark)
        if df is None:
            return None
        return (
            df.groupBy("click_id", "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_purchases_touched"),
                F.sum("credit_micro").alias("credited_micro"),
            )
        )

    def vacuum(self, spark: SparkSession, frontier_us: int) -> None:
        """Drop click buckets entirely behind the attribution window
        (bucket end < frontier − window): statically rewrite the store
        with only live buckets, so storage tracks the window."""
        if not has_rows(self.clicks_path):
            return
        min_live = (frontier_us - _W_US) // _W_US
        # write-to-temp + rename swap, never a static overwrite of the
        # directory being read: the click store has no replay path that
        # could reconstruct it after a crash mid-overwrite
        atomic_rewrite(
            spark.read.parquet(self.clicks_path).filter(
                F.col("tbucket") >= min_live
            ),
            self.clicks_path,
            partition_by=["tbucket"],
        )


def attribution_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: AttributionStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    e = batch.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us"), "value"
    ).localCheckpoint(eager=True)
    clicks_b = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("us").alias("click_us")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("us").alias("purchase_us"),
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("value_micro"),
    )

    bounds = purchases.agg(
        F.min("purchase_us").alias("lo"), F.max("purchase_us").alias("hi")
    ).collect()[0]
    if bounds.lo is not None:
        stored = store.read_clicks(
            spark, bounds.lo - _W_US, bounds.hi, exclude_batch=batch_id
        )
        clicks = (
            clicks_b
            if stored is None
            else stored.unionByName(clicks_b).dropDuplicates(["click_id"])
        )
        pairs = range_join(
            clicks,
            purchases,
            by=["user_id"],
            left_ts="click_us",
            right_ts="purchase_us",
            lower=0,
            upper=_W_US,
        )
        touches = pairs.groupBy("purchase_id").agg(
            F.count(F.lit(1)).alias("n_touches")
        )
        credits = pairs.join(touches, "purchase_id").select(
            "click_id",
            "user_id",
            "purchase_id",
            F.expr("value_micro div n_touches").alias("credit_micro"),
        )
    else:
        credits = spark.createDataFrame(
            [], "click_id long, user_id long, purchase_id long, credit_micro long"
        )
    # r10: lazy checkpoint - the write/first agg materializes it
    store.credits.write(credits.localCheckpoint(eager=False).repartition(1), batch_id)
    store.merge_clicks(spark, clicks_b, batch_id)
    store.mark_committed(batch_id)
