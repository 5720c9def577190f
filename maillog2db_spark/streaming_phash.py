"""Incremental (streaming) perceptual image near-dup against a
persisted pHash signature store — the ingest-side dual of the batch
``mm_phash_neardup`` / ``mm_phash_clusters`` operators, completing the
multimodal pillar's streaming story (text MinHash has
streaming_neardup; embeddings have streaming_semdedup; images get this).

Per image batch:
  1. signatures ride THE shared core (``multimodal.phash_signatures``
     — real pixel path: materialized bytes, area-mean pool, 32-point
     DCT, sign bits), so stream ≡ batch is equality of resolved
     signature tables, not of two hash implementations;
  2. the batch's signatures probe the ACCUMULATED store (plus
     themselves) through the same banded Hamming equi-join the batch
     query runs (``multimodal.phash_pairs_between``, unordered probe:
     a new image collides with stored images on either side of the id
     order) — per-batch candidate mass is the batch's band buckets,
     never corpus²;
  3. discovered pairs append as a write-once batch partition: a pair
     (x, y) is discovered exactly when its LATER member arrives, so
     partitions are disjoint by construction and resolution is a
     concatenation (the dedup on read is belt-and-braces for replay).

Effectively-once: the shared FileBatchLedger protocol — batch-id
partitioned dynamic overwrites + ledger short-circuit; a crash-window
replay recomputes the identical probe because the store read excludes
the batch's own partitions (exclude_batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.multimodal import phash_pairs_between, phash_signatures
from .streaming_util import start_foreach_batch_stream


class PhashStore(FileBatchLedger):
    """batch_id-partitioned state:
    ``sigs``  — (img_id, b0..b3) write-once signature facts;
    ``pairs`` — (img_a, img_b, hamming) write-once discovery facts."""

    def __init__(self, root: str):
        self.root = root

    @property
    def sigs_path(self) -> str:
        return os.path.join(self.root, "sigs")

    @property
    def pairs_path(self) -> str:
        return os.path.join(self.root, "pairs")

    def signatures(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        df = self.read_partials(spark, self.sigs_path, exclude_batch)
        if df is None:
            return None
        return df.select("img_id", "b0", "b1", "b2", "b3")

    def pairs(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        df = self.read_partials(spark, self.pairs_path, exclude_batch)
        if df is None:
            return None
        return df.select("img_a", "img_b", "hamming").dropDuplicates(
            ["img_a", "img_b"]
        )


def phash_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: PhashStore,
    batch_id: int,
) -> None:
    """Fold one document/image batch into the store: sign, probe the
    accumulated signatures, persist new pairs + the batch's own
    signatures."""
    if store.committed(batch_id):
        return
    sigs = phash_signatures(
        batch_docs.select("doc_id", "text")
    ).localCheckpoint(eager=True)
    prior = store.signatures(spark, exclude_batch=batch_id)
    universe = sigs if prior is None else sigs.unionByName(prior)
    new_pairs = phash_pairs_between(sigs, universe, ordered=False,
                                    broadcast_left=True)
    store.write_partial(new_pairs, store.pairs_path, batch_id)
    store.write_partial(sigs, store.sigs_path, batch_id)
    store.mark_committed(batch_id)


def neardup_pairs(spark: SparkSession, store: PhashStore) -> DataFrame:
    """≡ ``mm_phash_neardup`` over the union of ingested batches
    (tested): every pair was discovered exactly when its later member
    arrived, through the same banded join + Hamming threshold."""
    pairs = store.pairs(spark)
    if pairs is None:
        raise ValueError("no batches ingested yet")
    return pairs


def neardup_clusters(spark: SparkSession, store: PhashStore) -> DataFrame:
    """≡ ``mm_phash_clusters`` over the union of ingested batches:
    the shared star-contraction components + keep-min summary, off the
    store-resolved pair graph."""
    from .operators.graph import star_components

    pairs = neardup_pairs(spark, store).select(
        F.col("img_a").alias("src"), F.col("img_b").alias("dst")
    )
    labels = star_components(pairs).withColumnRenamed("node", "img_id")
    return (
        labels.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.min("img_id").alias("keep_img_id"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("img_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .select(
            F.col("comp").alias("cluster_id"),
            "n_images", "keep_img_id", "members",
        )
    )


def start_phash_stream(
    spark: SparkSession,
    docs_dir: str,
    store: PhashStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and maintain the
    perceptual near-dup state incrementally."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: phash_ingest_batch(s, df, store, bid),
        checkpoint_dir, "phash_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
