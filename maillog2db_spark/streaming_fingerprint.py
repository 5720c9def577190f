"""Incremental keyed-fingerprint near-dup — ONE streaming store serving
both remaining perceptual modalities (audio constellations, video frame
bags), the ingest-side dual of ``mm_audio_neardup`` /
``mm_video_phash_neardup``. With ``streaming_neardup`` (MinHash text),
``streaming_semdedup`` (embeddings) and ``streaming_phash`` (images),
every near-dup operator in the engine now has an incremental path.

The common structure both modalities share: an item (sound, video)
arrives WHOLE in one batch, carries a bounded set of fingerprint KEYS
(time-aligned segment constellations; position-free frame hashes), and
two items are near-duplicates when they share >= min_shared keys. Keys
are extracted by THE SAME functions the batch queries use
(``multimodal.audio_segment_keys`` / ``video_frame_keys`` over the
shared fingerprint cores), so stream ≡ batch is equality of resolved
key tables plus an identical threshold.

Per batch: the batch's keys probe the accumulated key store (plus
themselves) through the same fkey equi-join blocking the batch pair
query runs; the shared-key count per candidate pair is complete at
discovery time because items are atomic (a pair's count never grows
later — the whole-orders argument from streaming_triangles, at item
grain where it holds by construction). Discovered pairs append as
write-once batch partitions; resolution is a concatenation.

Effectively-once: FileBatchLedger protocol — batch-id-partitioned
dynamic overwrites + ledger short-circuit; replay recomputes the
identical probe because the store read excludes the batch's own
partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable, drop_batch_id


N_KEY_BUCKETS = 32  # fkey-hash sub-partitioning for serving-path pruning


def _key_bucket() -> "F.Column":
    return F.pmod(F.xxhash64("fkey"), F.lit(N_KEY_BUCKETS)).cast("int")


class KeyedFingerprintStore(FileBatchLedger):
    """(batch_id, fbucket)-partitioned state:
    ``keys``  — (item_id, fkey) write-once fingerprint facts, sub-
                partitioned by fkey hash bucket (the PostingsStore
                term-bucket trick): an ad-hoc ``match_keys`` lookup
                touches only the buckets its probe keys hash into
                (parquet partition pruning), so serving cost tracks
                the probe's key set, not the index;
    ``pairs`` — (item_a, item_b, n_shared) write-once discoveries."""

    def __init__(self, root: str, min_shared: int):
        self.root = root
        self.min_shared = min_shared
        self.keys = PartialsTable(
            os.path.join(root, "keys"), drop_batch_id, partition_by=("fbucket",)
        )
        self.pairs = PartialsTable(
            os.path.join(root, "pairs"),
            lambda df: df.select("item_a", "item_b", "n_shared").dropDuplicates(
                ["item_a", "item_b"]
            ),
        )


def fingerprint_ingest_batch(
    spark: SparkSession, batch_keys: DataFrame,
    store: KeyedFingerprintStore, batch_id: int,
) -> None:
    """Fold one batch of (item_id, fkey) rows — distinct per item,
    whole items only — into the store and discover the pairs this
    batch completes. Pair counts use countDistinct(fkey): an
    in-batch pair meets once per shared key per orientation, so the
    distinct collapses the double count that least/greatest
    canonicalization would otherwise introduce."""
    if store.committed(batch_id):
        return
    keys = batch_keys.select("item_id", "fkey").distinct().localCheckpoint(
        eager=True
    )
    prior = store.keys.read(spark, exclude_batch=batch_id)
    universe = keys if prior is None else keys.unionByName(prior.drop("fbucket"))
    # the batch side is bounded (one wave's keys) — BROADCAST it so the
    # accumulated side streams from its bucketed files without a
    # shuffle (the rehearsal measured the un-hinted sort-merge paying a
    # full store shuffle per wave); past broadcast range, swap to a
    # bucket-aligned shuffle of the batch side only
    a = F.broadcast(keys.select(F.col("item_id").alias("ia"), "fkey"))
    b = universe.select(
        F.col("item_id").alias("ib"), F.col("fkey").alias("fkey_b")
    )
    new_pairs = (
        b.join(a, (a.fkey == b.fkey_b) & (a.ia != b.ib))
        .select(
            F.least("ia", "ib").alias("item_a"),
            F.greatest("ia", "ib").alias("item_b"),
            "fkey",
        )
        .groupBy("item_a", "item_b")
        .agg(F.countDistinct("fkey").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= store.min_shared)
    )
    store.pairs.write(new_pairs, batch_id)
    store.keys.write(
        keys.withColumn("fbucket", _key_bucket())
        # one file per (batch, bucket): without this every write task
        # emits a sliver into every bucket — tasks x 32 files per wave,
        # and the accumulated store's per-wave probe scan becomes
        # file-OPEN-bound (the rehearsal measured 15 s -> 83 s per wave
        # by wave 6 from exactly this; one-file-per-partition keeps the
        # probe scan flat-per-index-byte)
        .repartition("fbucket"),
        batch_id,
    )
    store.mark_committed(batch_id)


def neardup_pairs(
    spark: SparkSession, store: KeyedFingerprintStore
) -> DataFrame:
    """≡ the batch pair query over the union of ingested batches
    (tested for both modalities)."""
    pairs = store.pairs.read(spark)
    if pairs is None:
        raise ValueError("no batches ingested yet")
    return pairs


def audio_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame,
    store: KeyedFingerprintStore, batch_id: int,
) -> None:
    """Audio wrapper: docs → shared fingerprint core → segment keys."""
    from .operators.multimodal import audio_fingerprint_of, audio_segment_keys

    fp = audio_fingerprint_of(batch_docs.select("doc_id", "text"))
    fingerprint_ingest_batch(
        spark, audio_segment_keys(fp), store, batch_id
    )


def video_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame,
    store: KeyedFingerprintStore, batch_id: int,
) -> None:
    """Video wrapper: docs → shared per-frame pHash core → bag keys."""
    from .operators.multimodal import video_frame_keys, video_phash_of

    fp = video_phash_of(batch_docs.select("doc_id", "text"))
    fingerprint_ingest_batch(
        spark, video_frame_keys(fp), store, batch_id
    )


def match_keys(
    spark: SparkSession, store: KeyedFingerprintStore, fkeys: list[str],
    min_shared: int | None = None,
) -> DataFrame:
    """Ad-hoc serving lookup: items in the accumulated index sharing
    >= min_shared of the GIVEN keys (e.g. 'which known sounds does
    this new clip match?') — no index scan: the probe keys hash to
    their fbucket sub-partitions (a bounded set, <= len(fkeys)
    buckets), parquet partition pruning skips every other bucket, and
    the probe side is a broadcast literal. The same contract as the
    streaming-BM25 ``search`` path: serving cost tracks the probe's
    posting mass, not the index size."""
    if min_shared is None:
        min_shared = store.min_shared
    keys = store.keys.read(spark)
    if keys is None:
        raise ValueError("no batches ingested yet")
    probe = spark.createDataFrame(
        [(k,) for k in set(fkeys)], "fkey string"
    ).withColumn("fbucket", _key_bucket())
    buckets = sorted(
        r.fbucket for r in probe.select("fbucket").distinct().collect()
    )  # bounded-metadata collect: <= len(fkeys) ints
    idx = (
        keys.filter(F.col("fbucket").isin(buckets))  # partition-pruned scan
        .join(F.broadcast(probe.select("fkey")), "fkey")
    )
    return (
        idx.groupBy("item_id")
        .agg(F.countDistinct("fkey").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
