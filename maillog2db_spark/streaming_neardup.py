"""Incremental (streaming) MinHash near-duplicate detection against a
persisted signature store — the 100 TB ingest-side dual of the batch
``doc_neardup_pairs`` operator.

A production pipeline does not re-run corpus-wide LSH per day; new
documents are checked incrementally: exact-dup suppressed against the
fingerprints already seen, MinHash-signed, banded, joined against the
PERSISTED band buckets, Jaccard-verified against stored shingle sets,
and finally merged into the store so the next batch sees them. This
module implements exactly that as a foreachBatch pipeline over the same
signature math the batch operator uses (``dedup.rep_base_from_docs`` /
``dedup.minhash_from_rep_base``), which is what makes stream ≡ batch
provable (test_streaming.py::test_streaming_neardup_matches_batch).

Scale design:
  * The store is hash-bucketed parquet on ``fingerprint`` — the
    exact-dup anti-join and the merge touch co-located buckets, and the
    banded view joins on (band, bh), the same blocking key as batch.
  * State per rep: shingle array + 8 minhash values. Shingles are kept
    because VERIFICATION is exact Jaccard (the batch contract); a
    signature-only store would make streaming a weaker estimate.
  * Per-batch work is O(batch × collisions), never O(corpus²); the
    in-batch pair expansion reuses the bounded
    ``dedup._pairs_within_groups`` (cap + salted fallback).
  * Replay safety: a batch-id ledger skips re-delivered batches, and
    the store merge itself dedups by fingerprint — both layers converge
    (``ledger.FileBatchLedger`` markers plus ``ledger.merge_buckets``,
    the ST5 pair every bucketed store shares).

Ordering note: the batch operator's representative for duplicated text
is the corpus-min doc_id; the stream's is the FIRST-ARRIVED doc_id.
They coincide when doc ids are monotone with arrival order (true for
ingest-assigned ids) — the equivalence test relies on this.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, atomic_rewrite, has_rows, merge_buckets, recover

from .operators import dedup
from .streaming_util import start_foreach_batch_stream


class MinHashStore(FileBatchLedger):
    """Bucketed parquet signature state: one row per exact-dedup
    representative — (doc_id, lang, fingerprint, sh, mh0..mhN, part)."""

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets

    @property
    def sigs_path(self) -> str:
        return os.path.join(self.root, "sigs")

    @property
    def pairs_path(self) -> str:
        return os.path.join(self.root, "pairs")

    def exists(self) -> bool:
        return has_rows(self.sigs_path)

    def read_sigs(self, spark: SparkSession) -> DataFrame:
        recover(self.sigs_path)
        return spark.read.parquet(self.sigs_path).drop("part")

    def read_pairs(self, spark: SparkSession) -> DataFrame:
        recover(self.pairs_path)
        if not has_rows(self.pairs_path):
            return spark.createDataFrame(
                [], "doc_a long, doc_b long, jaccard_ppm long"
            )
        return spark.read.parquet(self.pairs_path)

    def compact_pairs(self, spark: SparkSession, n_files: int = 1) -> None:
        """Compact the append-only pairs log. Every micro-batch appends
        its own file-set, so a long-running stream accumulates small
        files (the classic small-files problem — at 100 TB the pairs
        log would be read by downstream clustering jobs whose task
        count tracks FILE count, not data size). Rewrites the log as
        one deduplicated snapshot via write-then-atomic-directory-swap;
        safe between batches — replay skipping is decided by the batch
        ledger, never by the pairs file layout, and a crash mid-swap
        leaves either the old or the new complete directory.
        ``n_files`` sizes the snapshot (default 1 suits test/driver
        scale; size to data volume / 128 MB on a cluster)."""
        if not has_rows(self.pairs_path):
            return
        atomic_rewrite(
            spark.read.parquet(self.pairs_path).distinct(),
            self.pairs_path,
            n_files=n_files,
        )

    def merge_sigs(self, spark: SparkSession, new_sigs: DataFrame) -> None:
        """Merge new rep rows into the touched buckets only (dynamic
        partition overwrite, one file per bucket per merge). Dedup by
        (lang, fingerprint) keeps the merge idempotent under replay;
        min(doc_id) keeps first-arrival as representative."""
        new_b = new_sigs.withColumn(
            "part", F.pmod(F.xxhash64("fingerprint"), F.lit(self.n_buckets)).cast("int")
        )
        first = Window.partitionBy("lang", "fingerprint").orderBy("doc_id")
        merge_buckets(
            spark, self.sigs_path, new_b, "part",
            lambda m: m.withColumn("_rk", F.row_number().over(first))
            .filter(F.col("_rk") == 1).drop("_rk"),
        )


def _sig_cols() -> list[str]:
    return [f"mh{i}" for i in range(dedup.N_HASHES)]


def neardup_ingest_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store: MinHashStore,
    batch_id: int,
) -> None:
    """One micro-batch of (doc_id, lang, text) through the incremental
    near-dup pipeline; verified new pairs append to the pairs store,
    new signatures merge into the signature store."""
    if store.committed(batch_id):
        return
    p = spark.sparkContext.defaultParallelism

    base = dedup.rep_base_from_docs(batch_docs, p)
    sigs = dedup.minhash_from_rep_base(base)
    batch = (
        base.join(sigs.select("fingerprint", "lang", *_sig_cols()),
                  ["lang", "fingerprint"], "inner")
        .localCheckpoint(eager=True)  # reused 4×: anti-join, bands, verify, merge
    )

    if store.exists():
        old = store.read_sigs(spark).localCheckpoint(eager=True)
        # exact-dup suppression vs history: a text already represented
        # never re-enters banding (the batch dual collapses it there)
        fresh = batch.join(
            old.select("lang", "fingerprint"), ["lang", "fingerprint"], "left_anti"
        )
    else:
        old = None
        fresh = batch

    fresh = fresh.localCheckpoint(eager=True)
    fresh_banded = dedup.banded_signatures(fresh.select("doc_id", *_sig_cols()))

    # in-batch candidates: bounded expansion, same as batch
    intra = dedup._pairs_within_groups(fresh_banded, ["band", "bh"])
    sh = fresh.select(F.col("doc_id").alias("_id"), F.col("sh").alias("_sh"))
    cands = (
        intra.join(sh, intra.doc_a == sh._id)
        .select("doc_a", "doc_b", F.col("_sh").alias("a_sh"))
        .join(sh, F.col("doc_b") == sh._id)
        .select("doc_a", "doc_b", "a_sh", F.col("_sh").alias("b_sh"))
    )

    if old is not None:
        old_banded = dedup.banded_signatures(old.select("doc_id", *_sig_cols()))
        cross = (
            fresh_banded.alias("n")
            .join(
                old_banded.alias("o"),
                (F.col("n.band") == F.col("o.band")) & (F.col("n.bh") == F.col("o.bh")),
            )
            .select(
                F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        old_sh = old.select(F.col("doc_id").alias("_id"), F.col("sh").alias("_sh"))
        both_sh = sh.unionByName(old_sh)
        cross_sh = (
            cross.join(both_sh, cross.doc_a == both_sh._id)
            .select("doc_a", "doc_b", F.col("_sh").alias("a_sh"))
            .join(both_sh, F.col("doc_b") == both_sh._id)
            .select("doc_a", "doc_b", "a_sh", F.col("_sh").alias("b_sh"))
        )
        cands = cands.unionByName(cross_sh)

    j, ppm = dedup.jaccard_ppm(F.col("a_sh"), F.col("b_sh"))
    pairs = (
        cands.withColumn("_j", j)
        .filter(F.col("_j") >= dedup.JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", ppm.alias("jaccard_ppm"))
        .distinct()
    )
    recover(store.pairs_path)  # never append beside an interrupted compaction
    pairs.write.mode("append").parquet(store.pairs_path)

    store.merge_sigs(spark, fresh.select(
        "doc_id", "lang", "fingerprint", "sh", *_sig_cols()
    ))
    store.mark_committed(batch_id)


def start_neardup_stream(
    spark: SparkSession,
    docs_dir: str,
    store: MinHashStore,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Follow a directory of document parquet drops (doc_id, lang,
    text, ...) and run each micro-batch through the incremental
    near-dup pipeline."""
    return start_foreach_batch_stream(
        spark, docs_dir, neardup_ingest_batch, store, checkpoint_dir,
        available_now=available_now,
        select=["doc_id", "lang", "text"],
    )
