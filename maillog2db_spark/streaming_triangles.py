"""Streaming dual of ``li_copurchase_triangles``: incremental triangle
counting on the thresholded co-purchase graph.

Why this is incrementally maintainable at all: pair supports only GROW
as order batches arrive, so edges of the thresholded graph appear
(cross BASKET_MIN_SUPPORT) and never disappear — the graph is
monotone, and the triangle set is too. Per batch this module

  1. folds the batch's pair-count deltas into an additive store
     (batch grain = WHOLE ORDERS: the pair base counts co-occurrence
     within an order, so an order split across two batches would lose
     its cross-batch pairs — deliver each order in one batch, the
     natural event grain; the stream helper below keys files however
     the producer laid them out, and the tests split by l_orderkey.
     The contract is ENFORCED, not just documented: each batch's
     distinct orderkeys persist with a one-row key-range summary, and
     ``_enforce_order_grain`` raises on a repeat — range check on the
     driver, key probe only against range-overlapping batches);
  2. computes D = the edges that newly crossed the support threshold
     in this batch (w_old < minsup ≤ w_new);
  3. counts the NEW triangles — exactly those containing ≥1 D-edge —
     at affected-edge grain: each D-edge (u, v) probes the adjacency
     of the POST-batch graph for common neighbors, every discovered
     triangle normalizes to its sorted (a < b < c) triple, and the
     distinct-triple dedup collapses the multi-counting of triangles
     with 2 or 3 new edges. No full re-enumeration: the wedge mass is
     Σ over D-edges of their endpoint degrees, not Σ deg² of the
     whole graph;
  4. appends the per-part corner deltas (additive) for the new
     triples.

Resolution re-derives degrees from the resolved pair counts (one
count-grain scan — the cheap part) and sums the per-part triangle
deltas; the finalization is the SAME
``corpus_analytics.triangle_stats_from`` expression the batch query
runs, so stream ≡ batch is equality of resolved inputs.

Effectively-once: the shared FileBatchLedger protocol — both partials
are batch_id-partitioned with dynamic overwrite (a crash-window replay
rewrites exactly its own partitions; the threshold-crossing set D is
computed against counts as-of BEFORE the batch, so replay recomputes
the identical D), and both tables compact additively
(``store.pairs.compact``, ``store.tri_deltas.compact``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable, keep_batch_id
from .operators.corpus_analytics import BASKET_MIN_SUPPORT, triangle_stats_from


class TriangleStore(FileBatchLedger):
    """batch_id-partitioned partials:
    ``pairs``       — (pa, pb, w) additive co-occurrence deltas;
    ``tri_deltas``  — (part, dt) additive per-corner triangle deltas;
    ``orders``      — (l_orderkey) write-once per-batch order keys
                      (directory ``orders_seen``), plus a tiny
                      ``ranges`` (batch_id, kmin, kmax) summary
                      (``order_ranges``) — together they ENFORCE the
                      whole-orders-per-batch contract instead of
                      merely documenting it (see
                      ``_enforce_order_grain``). Both keep their batch
                      ids and are never compacted: ranges are one row
                      per batch, and the key partitions are only
                      scanned when a range overlap makes a violation
                      possible."""

    def __init__(self, root: str):
        self.root = root
        self.pairs = PartialsTable(
            os.path.join(root, "pairs"),
            lambda df: df.groupBy("pa", "pb").agg(F.sum("w").cast("bigint").alias("w")),
        )
        self.tri_deltas = PartialsTable(
            os.path.join(root, "tri_deltas"),
            lambda df: df.groupBy("part").agg(F.sum("dt").cast("bigint").alias("dt")),
        )
        self.orders = PartialsTable(os.path.join(root, "orders_seen"), keep_batch_id)
        self.ranges = PartialsTable(os.path.join(root, "order_ranges"), keep_batch_id)


def _batch_pairs(batch_li: DataFrame) -> DataFrame:
    li = batch_li.select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _enforce_order_grain(
    spark: SparkSession, store: TriangleStore, batch_orders: DataFrame,
    batch_id: int,
) -> tuple[int, int] | None:
    """Raise if this batch repeats an l_orderkey already in a COMMITTED
    batch — the silent-undercount failure (an order split across two
    batches loses its cross-batch pairs with no later detection).

    Cost model: the per-batch key-range summary (one row per batch) is
    collected and range-checked on the driver; the orderkey partitions
    are scanned ONLY for committed batches whose [kmin, kmax] overlaps
    the incoming batch's range (partition-pruned by batch_id), and the
    probe broadcasts the incoming batch's distinct keys. Producers that
    deliver orders in roughly increasing key ranges never pay more than
    the one-row range check. Returns the batch's (kmin, kmax) so the
    caller writes the summary without re-aggregating; None for an
    empty batch."""
    row = batch_orders.agg(
        F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
    ).collect()[0]
    if row.lo is None:
        return None
    ranges = store.ranges.read(spark)
    if ranges is not None:
        overlap = [
            int(r.batch_id) for r in ranges.collect()
            if r.batch_id != batch_id and store.committed(int(r.batch_id))
            and r.kmin <= row.hi and row.lo <= r.kmax
        ]
        if overlap:
            dup = (
                store.orders.read(spark)
                .filter(F.col("batch_id").isin(overlap))
                .join(F.broadcast(batch_orders), "l_orderkey", "inner")
                .select("l_orderkey")
                .limit(5)
                .collect()
            )
            if dup:
                keys = sorted(r.l_orderkey for r in dup)
                raise ValueError(
                    f"batch {batch_id} violates the whole-orders-per-"
                    f"batch contract: l_orderkey(s) {keys} already "
                    f"ingested in committed batch(es) {sorted(overlap)} "
                    "— an order split across batches would silently "
                    "lose its cross-batch pairs"
                )
    return int(row.lo), int(row.hi)


def triangles_ingest_batch(
    spark: SparkSession, batch_li: DataFrame, store: TriangleStore,
    batch_id: int,
) -> None:
    """Fold one order-complete lineitem batch into the store."""
    if store.committed(batch_id):
        return
    batch_orders = (
        batch_li.select("l_orderkey").distinct().localCheckpoint(eager=True)
    )
    key_range = _enforce_order_grain(spark, store, batch_orders, batch_id)
    if key_range is not None:
        lo, hi = key_range
        store.orders.write(batch_orders, batch_id)
        store.ranges.write(
            spark.createDataFrame([(lo, hi)], "kmin bigint, kmax bigint"), batch_id
        )
    dpairs = _batch_pairs(batch_li).localCheckpoint(eager=True)
    store.pairs.write(dpairs, batch_id)

    prev = store.pairs.read(spark, exclude_batch=batch_id)
    if prev is None:
        merged = dpairs.select("pa", "pb",
                               F.lit(0).cast("bigint").alias("w_old"),
                               F.col("w").cast("bigint").alias("w_new"))
    else:
        merged = (
            dpairs.join(prev.withColumnRenamed("w", "wp"), ["pa", "pb"], "left")
            .select(
                "pa", "pb",
                F.coalesce("wp", F.lit(0)).cast("bigint").alias("w_old"),
                (F.coalesce("wp", F.lit(0)) + F.col("w")).cast("bigint")
                .alias("w_new"),
            )
        )
    # edges that crossed the support threshold IN this batch — the only
    # place new triangles can come from (supports are monotone)
    d = (
        merged.filter(
            (F.col("w_old") < BASKET_MIN_SUPPORT)
            & (F.col("w_new") >= BASKET_MIN_SUPPORT)
        )
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )

    # post-batch thresholded adjacency (symmetric view) — D's probes
    # run against it, so triangles whose other edges are ALSO new in
    # this batch are found too; the sorted-triple dedup collapses the
    # multi-counting when 2 or 3 edges of one triangle are in D
    if prev is None:
        all_counts = merged.select("pa", "pb", F.col("w_new").alias("w"))
    else:
        untouched = prev.join(dpairs.select("pa", "pb"), ["pa", "pb"],
                              "left_anti")
        all_counts = merged.select("pa", "pb", F.col("w_new").alias("w")) \
            .unionByName(untouched)
    edges_new = all_counts.filter(F.col("w") >= BASKET_MIN_SUPPORT) \
        .select("pa", "pb")
    adj = edges_new.select(F.col("pa").alias("n"), F.col("pb").alias("m")) \
        .unionAll(edges_new.select(F.col("pb").alias("n"), F.col("pa").alias("m")))
    tri = (
        d.join(adj.withColumnRenamed("n", "pa").withColumnRenamed("m", "x"),
               "pa")
        .filter(F.col("x") != F.col("pb"))
        .join(
            adj.select(F.col("n").alias("pb"), F.col("m").alias("x")),
            ["pb", "x"],
            "left_semi",
        )
        .select(
            F.least(F.least("pa", "pb"), "x").alias("a"),
            (F.col("pa") + F.col("pb") + F.col("x")
             - F.least(F.least("pa", "pb"), "x")
             - F.greatest(F.greatest("pa", "pb"), "x")).alias("b"),
            F.greatest(F.greatest("pa", "pb"), "x").alias("c"),
        )
        .distinct()
    )
    deltas = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dt"))
    )
    store.tri_deltas.write(deltas, batch_id)
    store.mark_committed(batch_id)


def copurchase_triangles(
    spark: SparkSession, store: TriangleStore
) -> DataFrame:
    """≡ ``li_copurchase_triangles`` over the union of ingested order
    batches (tested): degrees from the resolved pair counts, triangle
    counts from the additive per-corner deltas, finalized by the shared
    batch expression."""
    counts = store.pairs.read(spark)
    if counts is None:
        raise ValueError("no batches ingested yet")
    edges = counts.filter(F.col("w") >= BASKET_MIN_SUPPORT).select("pa", "pb")
    per_part = store.tri_deltas.read(spark)
    if per_part is None:
        per_part = spark.createDataFrame([], "part bigint, dt bigint")
    per_part = per_part.withColumnRenamed("dt", "n_triangles")
    return triangle_stats_from(edges, per_part)


def part_pagerank(spark: SparkSession, store: TriangleStore) -> DataFrame:
    """≡ ``li_part_pagerank`` over the union of ingested order batches:
    the store's additive pair counts ARE the batch query's
    (unthresholded) input table, and the power iteration is the shared
    ``pagerank_from_counts`` expression. The corpus-scale work — the
    order-keyed basket self-join — happened incrementally at ingest;
    the iteration runs on the pair-count grain."""
    from .operators.corpus_analytics import pagerank_from_counts

    counts = store.pairs.read(spark)
    if counts is None:
        raise ValueError("no batches ingested yet")
    return pagerank_from_counts(counts)


def part_kcore(spark: SparkSession, store: TriangleStore) -> DataFrame:
    """≡ ``li_part_kcore`` over the union of ingested batches: runtime
    fixpoint peeling (``graph.kcore``) on the store-resolved
    thresholded edges."""
    from .operators.graph import kcore

    counts = store.pairs.read(spark)
    if counts is None:
        raise ValueError("no batches ingested yet")
    edges = counts.filter(F.col("w") >= BASKET_MIN_SUPPORT).select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    )
    return kcore(edges).withColumnRenamed("node", "part")


def part_components(spark: SparkSession, store: TriangleStore) -> DataFrame:
    """≡ ``li_part_components`` over the union of ingested batches:
    star contraction + the shared summary on the store-resolved
    thresholded edges. (For label-grain incremental maintenance — only
    merged components rewritten per batch — use streaming_cc.CCStore;
    this view serves the summary straight off the SAME pair store the
    triangle/PageRank/k-core views share.)"""
    from .operators.graph import components_summary

    counts = store.pairs.read(spark)
    if counts is None:
        raise ValueError("no batches ingested yet")
    pairs = counts.filter(F.col("w") >= BASKET_MIN_SUPPORT).select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    )
    return components_summary(pairs)

