"""Streaming dual of ``dq_length_drift_psi``: incremental distribution
-drift monitoring — the audit a pipeline runs on EVERY corpus drop,
not once per full rescan.

The batch operator's state is just a (source, bin) count grid, and
counts are additive across batches — so the streaming form persists
each micro-batch's OWN grid under its batch_id partition (dynamic
overwrite + ledger: a replayed batch rewrites exactly its partition,
ST5) and resolves the accumulated grid by summation at read time.
``psi()`` then runs the identical dense-grid + add-one-smoothing +
ppm-quantized-term math as the batch operator over the summed counts,
so

    psi(after any prefix of batches)
      ≡ dq_length_drift_psi over the union of those batches

(tested, including fresh-checkpoint rerun and a crash-window replay).

Beyond equivalence, the streaming form adds the thing batch cannot do:
``batch_vs_history_psi`` scores ONE incoming batch against the
accumulated pre-batch reference — the admission-time drift gate
("does today's drop look like the corpus?") — using the same math
with the batch's grid as the observed side.

Scale shape per batch: one map-side-combined groupBy(source, bin) over
the batch (the grid is sources × 20 bins — tiny); everything else is
grid-sized. State is the per-batch grids: bins × sources × batches
rows until ``store.grids.compact`` sums them into one partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable

from .operators.quality import psi_bin_col, psi_from_counts


class DriftStore(FileBatchLedger):
    """``grids``: batch_id-partitioned (source, bin, cnt) grids,
    resolved (and compacted) by summation."""

    def __init__(self, root: str):
        self.root = root
        self.grids = PartialsTable(
            os.path.join(root, "grids"),
            lambda df: df.groupBy("source", "bin").agg(
                F.sum("cnt").cast("bigint").alias("cnt")
            ),
        )


def drift_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: DriftStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    grid = (
        batch_docs.select("source", psi_bin_col())
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # r10: lazy checkpoint - the write/first agg materializes it
    store.grids.write(grid.localCheckpoint(eager=False).repartition(1), batch_id)
    store.mark_committed(batch_id)


def psi(spark: SparkSession, store: DriftStore) -> DataFrame:
    """Accumulated per-source PSI vs the whole ingested corpus — equal
    to ``dq_length_drift_psi`` over the union of all batches."""
    counts = store.grids.read(spark)
    if counts is None:
        raise ValueError("no batches ingested yet")
    return psi_from_counts(spark, counts)


def batch_vs_history_psi(
    spark: SparkSession, batch_docs: DataFrame, store: DriftStore
) -> DataFrame:
    """Admission-time gate: PSI of ONE incoming batch's length
    distribution against the accumulated history (all sources pooled
    as the reference). Returns one row per source present in the
    batch. The batch is labeled 'batch:<source>' on the observed side
    so the math (observed source vs pooled reference) is the same
    psi_from_counts call."""
    hist = store.grids.read(spark)
    if hist is None:
        raise ValueError("no history to compare against")
    batch_grid = (
        batch_docs.select("source", psi_bin_col())
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.concat(F.lit("batch:"), "source").alias("source"), "bin", "cnt")
    )
    pooled_hist = hist.groupBy("bin").agg(F.sum("cnt").alias("cnt")).select(
        F.lit("history").alias("source"), "bin", "cnt"
    )
    out = psi_from_counts(spark, batch_grid.unionByName(pooled_hist))
    return out.filter(F.col("source") != "history")

