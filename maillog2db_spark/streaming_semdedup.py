"""Incremental (streaming) semantic dedup against a persisted,
cell-partitioned vector store — the ingest-side dual of the batch
``embed_semdedup`` operator (similarity.semantic_dedup).

A production embedding pipeline admits vectors continuously: each new
vector is assigned to its quantizer cell and LSH bucket with a FROZEN
quantizer (the update_ivf_index contract — retraining centroids would
reshuffle every stored cell), compared by exact cosine against the
stored vectors in its (cell, bucket) block plus lower-id vectors of its
own batch, and a dedup DECISION (kept / dup_of) is emitted before the
vector is written to the store for the next batch to see.

Scale design:
  * The store is per-batch partials (``vecs``, sub-partitioned by
    ``cell``) — a batch reads ONLY its touched cells (partition pruning
    on the read path; touched-cell ids are a bounded-metadata collect,
    ≤ n_cells rows), and writes only its own partial.
  * Per-batch work is O(batch × block occupancy), never O(corpus²):
    cross-history candidates come from a (cell, bucket) equi-join
    against the pruned store slice, in-batch candidates from the
    bounded ``dedup._pairs_within_groups``.
  * Vectors and decisions are written partitioned by ``batch_id`` with
    dynamic overwrite — a replayed batch reads the vectors as-of
    before itself and overwrites its OWN partitions instead of
    appending duplicates, so both are idempotent under crash-replay
    with no read-side dedup needed.
  * The frozen quantizer is a write-once centroid table (a failed
    freeze leaves no rows) plus a thresholds file replaced by rename.
  * Dropped vectors still enter the store: the batch policy drops v iff
    ANY lower-id vector (kept or not) is within the cosine threshold,
    so history must retain every vector. State is O(corpus), exactly
    like the batch operator's input.

Equivalence contract (tested): with monotone vec_ids (ingest-assigned —
arrival order equals id order) and the quantizer frozen from the same
corpus the batch operator trains on, the accumulated streaming
decisions are IDENTICAL to ``semantic_dedup`` run once over the union
of all batches.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable, drop_batch_id, fold_deltas

from .operators import similarity
from .operators.dedup import _pairs_within_groups
from .streaming_util import start_foreach_batch_stream


class VecStore(FileBatchLedger):
    """Cell-partitioned vector partials + frozen quantizer: ``vecs``
    holds the write-once (vec_id, cell, bucket, embedding, nrm) rows,
    the quantizer is a write-once centroid table (``cents``) plus
    ppm-quantized plane thresholds in a JSON file, and ``decisions``
    holds the write-once per-batch (vec_id, cell, kept, dup_of) rows."""

    def __init__(self, root: str):
        self.root = root
        self.vecs = PartialsTable(
            os.path.join(root, "vecs"), drop_batch_id, partition_by=("cell",)
        )
        self.decisions = PartialsTable(os.path.join(root, "decisions"), drop_batch_id)
        self.cents = PartialsTable(os.path.join(root, "quantizer", "cents"), drop_batch_id)
        self.thresholds = Path(root, "quantizer", "thresholds.json")

    # -- quantizer ----------------------------------------------------------

    def freeze_quantizer(self, seed: DataFrame) -> None:
        """Train the coarse quantizer + plane thresholds ONCE from a
        seed corpus and persist both; every subsequent batch assigns
        against this frozen state (cells stay stable, stored partitions
        never need reshuffling). The thresholds file is replaced by a
        rename, so a crash never leaves it truncated."""
        cents = similarity._centroids(seed).withColumn(
            "cent_nrm", similarity._norm(F.col("centroid"))
        )
        self.cents.write(cents.coalesce(1), 0)
        tmp = self.thresholds.with_suffix(".tmp")
        tmp.write_text(json.dumps(similarity.thresholds_from_embeddings(seed)))
        tmp.replace(self.thresholds)

    def quantizer(self, spark: SparkSession) -> tuple[DataFrame, list[float]]:
        return self.cents.read(spark), json.loads(self.thresholds.read_text())

    # -- vector state -------------------------------------------------------

    def read_cells(
        self, spark: SparkSession, cells: list[int], exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Partition-pruned read of the given cells only, as-of before
        ``exclude_batch``; None before the first write."""
        df = self.vecs.read(spark, exclude_batch)
        return None if df is None else df.filter(F.col("cell").isin(cells))


def _assign(batch: DataFrame, cents: DataFrame, thr: list[float]) -> DataFrame:
    """(vec_id, embedding) → (vec_id, cell, bucket, embedding, nrm)
    under the frozen quantizer — the same nearest-cell + mean-centered
    bucket math as the batch operator (identical expression trees, so
    cosines and block keys match bit-for-bit)."""
    vecs = batch.select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    assigned = similarity._nearest_cells(cents, vecs, "vec_id", "embedding", "nrm", 1)
    return assigned.select(
        "vec_id",
        "embedding",
        "nrm",
        "cell",
        similarity._bucket_col(thr).alias("bucket"),
    )


def semdedup_ingest_batch(
    spark: SparkSession,
    batch_vecs: DataFrame,
    store: VecStore,
    batch_id: int,
) -> None:
    """One micro-batch of (vec_id, embedding) through incremental
    semantic dedup: assign under the frozen quantizer, score against
    stored vectors in touched (cell, bucket) blocks plus lower-id
    in-batch vectors, emit decisions, write the batch's vectors."""
    if store.committed(batch_id):
        return

    cents, thr = store.quantizer(spark)
    new = _assign(batch_vecs, F.broadcast(cents), thr).localCheckpoint(eager=True)

    sides = new.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_emb"),
        F.col("nrm").alias("_nrm"),
    )

    # in-batch candidates: bounded expansion on the two block keys
    intra = _pairs_within_groups(
        new.select(F.col("vec_id").alias("doc_id"), "cell", "bucket"),
        ["cell", "bucket"],
    )
    cand = (
        intra.join(sides, intra.doc_a == sides._id)
        .select("doc_a", "doc_b", F.col("_emb").alias("a_emb"), F.col("_nrm").alias("a_nrm"))
        .join(sides, F.col("doc_b") == sides._id)
        .select(
            "doc_a", "doc_b", "a_emb", "a_nrm",
            F.col("_emb").alias("b_emb"), F.col("_nrm").alias("b_nrm"),
        )
    )

    touched = [r["cell"] for r in new.select("cell").distinct().collect()]
    old = store.read_cells(spark, touched, exclude_batch=batch_id)
    if old is not None:
        # monotone ids: stored vectors are always the lower (doc_a) side
        cross = (
            old.alias("o")
            .join(
                new.alias("n"),
                (F.col("o.cell") == F.col("n.cell"))
                & (F.col("o.bucket") == F.col("n.bucket"))
                & (F.col("o.vec_id") < F.col("n.vec_id")),
            )
            .select(
                F.col("o.vec_id").alias("doc_a"),
                F.col("n.vec_id").alias("doc_b"),
                F.col("o.embedding").alias("a_emb"),
                F.col("o.nrm").alias("a_nrm"),
                F.col("n.embedding").alias("b_emb"),
                F.col("n.nrm").alias("b_nrm"),
            )
        )
        cand = cand.unionByName(cross)

    dropped = (
        cand.select(
            "doc_a",
            "doc_b",
            F.round(
                F.try_divide(
                    similarity._dot(F.col("a_emb"), F.col("b_emb")),
                    F.col("a_nrm") * F.col("b_nrm"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= similarity.SEMDEDUP_T)
        .groupBy(F.col("doc_b").alias("vec_id"))
        .agg(F.min("doc_a").alias("dup_of"))
    )

    decisions = (
        new.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )
    store.decisions.write(decisions, batch_id)

    # one file per touched cell
    store.vecs.write(
        new.select("vec_id", "embedding", "nrm", "cell", "bucket").repartition("cell"),
        batch_id,
    )
    store.mark_committed(batch_id)
    fold_deltas(spark, store.vecs, store.committed)


def start_semdedup_stream(
    spark: SparkSession,
    vecs_dir: str,
    store: VecStore,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Follow a directory of embedding parquet drops (vec_id, embedding,
    ...) and run each micro-batch through incremental semantic dedup.
    The store's quantizer must be frozen before starting."""
    return start_foreach_batch_stream(
        spark, vecs_dir, semdedup_ingest_batch, store, checkpoint_dir,
        available_now=available_now,
        select=["vec_id", "embedding"],
    )
