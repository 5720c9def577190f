"""Streaming dual of ``graph.star_components`` / ``li_part_components``:
incremental connected-component label maintenance.

A dedup/affinity cluster table isn't rebuilt from every edge ever seen
when a new drop of pairs arrives. Per batch this module

  1. maps the batch's edge endpoints through the CURRENT label store
     (an unseen node is its own component);
  2. CONTRACTS the batch onto component ids: the distinct
     (comp_u ≠ comp_v) pairs — affected-component grain, never
     corpus grain;
  3. runs the same ``star_components`` contraction on that tiny
     contracted graph to get the old-comp → new-comp relabel map
     (new comp = min of the merged comps = the global component
     minimum, inductively — so incremental labels are IDENTICAL to a
     from-scratch run, not merely isomorphic);
  4. appends rows to a batch_id-partitioned LWW label log: every
     STORED node whose component id changed (all members of merged
     components — that is the honest cost of a merge) plus every
     batch endpoint not yet stored.

Per-batch cost: O(batch edges + members of the components the batch
merges). Batches that only add internal edges to existing components
write nothing for stored members. Replay contract = the Scd2Store
one: rows are immutable per batch partition, state is read as-of
before the in-flight batch (exclude_batch), the ledger short-circuits
committed batches, and a fresh-checkpoint restart against an old
store is refused (LWW would silently invert). Compaction rewrites the
resolved labels under the max committed id via the atomic rename
swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, atomic_rewrite
from .operators.graph import star_components
from .streaming_util import start_foreach_batch_stream


class CCStore(FileBatchLedger):
    """batch_id-partitioned (node, comp) label log, LWW-resolved."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def current_labels(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        df = self.read_partials(spark, self._path("labels"), exclude_batch)
        if df is None:
            return None
        return (
            df.groupBy("node")
            .agg(F.max_by("comp", "batch_id").alias("comp"))
        )

    def compact(self, spark: SparkSession) -> None:
        """Collapse the log to the resolved labels under the max
        committed id (the Scd2Store contract: the snapshot must sit
        exactly at the LWW frontier, and the rewrite must be the
        atomic rename swap, never an in-place overwrite)."""
        cur = self.current_labels(spark)
        if cur is None:
            return
        cid = self.max_committed()
        assert cid is not None, "compact() before any committed batch"
        atomic_rewrite(
            cur.withColumn("batch_id", F.lit(cid).cast("long")),
            self._path("labels"),
            partition_by=["batch_id"],
        )


def cc_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: CCStore, batch_id: int,
    stats: dict | None = None,
) -> None:
    """Fold one batch of (src, dst) edges into the label store. Pass
    ``stats`` to receive the merge contraction's {"rounds": r}
    (rehearsal instrumentation)."""
    if store.committed(batch_id):
        return
    frontier_id = store.max_committed()
    if frontier_id is not None and batch_id <= frontier_id:
        raise ValueError(
            f"batch_id {batch_id} <= committed frontier {frontier_id}: "
            "stream restarted with a fresh checkpoint against an existing "
            "CCStore; point the query at the original checkpointLocation "
            "or start a new store root"
        )
    edges = (
        batch.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = store.current_labels(spark, exclude_batch=batch_id)

    def lab(col: str, out: str) -> DataFrame:
        if cur is None:
            return edges.select(F.col(col).alias("node")).distinct().select(
                "node", F.col("node").alias(out)
            )
        return (
            edges.select(F.col(col).alias("node"))
            .distinct()
            .join(cur, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias(out))
        )

    mapped = (
        edges.join(
            lab("src", "cu").withColumnRenamed("node", "src"), "src"
        ).join(lab("dst", "cv").withColumnRenamed("node", "dst"), "dst")
    ).localCheckpoint(eager=True)
    contracted = (
        mapped.select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # relabel map over the AFFECTED old components only; identity rows
    # (root keeps its id) are dropped — their members need no rewrite
    relabel = (
        star_components(contracted, stats=stats)
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("old_comp"), F.col("comp").alias("new_comp"))
        .localCheckpoint(eager=True)
    )

    # (a) stored nodes whose component id changes — all members of the
    # merged components (broadcast: the relabel map is merge-grain)
    if cur is not None:
        changed = (
            cur.join(
                F.broadcast(relabel), cur.comp == F.col("old_comp")
            ).select("node", F.col("new_comp").alias("comp"))
        )
    else:
        changed = None
    # (b) batch endpoints not yet stored: final label through the map
    ends = (
        mapped.select(F.col("src").alias("node"), F.col("cu").alias("c0"))
        .unionByName(
            mapped.select(F.col("dst").alias("node"), F.col("cv").alias("c0"))
        )
        .groupBy("node")
        .agg(F.min("c0").alias("c0"))
    )
    if cur is not None:
        ends = ends.join(cur.select("node"), "node", "left_anti")
    fresh = (
        ends.join(F.broadcast(relabel), ends.c0 == F.col("old_comp"), "left")
        .select("node", F.coalesce("new_comp", F.col("c0")).alias("comp"))
    )
    out = fresh if changed is None else changed.unionByName(fresh)
    # r10: lazy checkpoint - the write/first agg materializes it
    store.write_partial(
        out.localCheckpoint(eager=False).repartition(1),
        store._path("labels"),
        batch_id,
    )
    store.mark_committed(batch_id)


def start_cc_stream(
    spark: SparkSession,
    edges_dir: str,
    store: CCStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of (src, dst) edge parquet drops and
    maintain component labels incrementally."""
    return start_foreach_batch_stream(
        spark, edges_dir,
        lambda s, df, bid: cc_ingest_batch(s, df, store, bid),
        checkpoint_dir, "cc_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
