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
  * The store is two per-batch partials tables (``ledger.PartialsTable``):
    ``sigs``, one row per new exact-dedup representative, and ``pairs``,
    the batch's verified pairs. A batch writes only its own two
    partials and rewrites nothing; the exact-dup anti-join and the
    banded view (joined on (band, bh), the same blocking key as batch)
    read the signatures written before it.
  * State per rep: shingle array + 8 minhash values. Shingles are kept
    because VERIFICATION is exact Jaccard (the batch contract); a
    signature-only store would make streaming a weaker estimate.
  * Per-batch work is O(batch × collisions), never O(corpus²); the
    in-batch pair expansion reuses the bounded
    ``dedup._pairs_within_groups`` (cap + salted fallback).
  * Replay safety: a batch-id ledger skips re-delivered batches; a
    batch replayed after a crash inside its commit window reads the
    signatures as-of before itself (``exclude_batch``) and overwrites
    its own partials, so neither a pair nor a signature is written
    twice (ST5).

Ordering note: the batch operator's representative for duplicated text
is the corpus-min doc_id; the stream's is the FIRST-ARRIVED doc_id.
They coincide when doc ids are monotone with arrival order (true for
ingest-assigned ids) — the equivalence test relies on this.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# atomic_rewrite is not called here; perfbench's traced runs wrap this
# module's attribute by name, so the import stays
from .ledger import (  # noqa: F401
    FileBatchLedger, PartialsTable, atomic_rewrite, drop_batch_id, fold_deltas,
)

from .operators import dedup
from .streaming_util import start_foreach_batch_stream


class MinHashStore(FileBatchLedger):
    """Signature state as partials tables: ``sigs`` holds one row per
    exact-dedup representative — (doc_id, lang, fingerprint, sh,
    mh0..mhN), written once by the batch that first sees it — and
    ``pairs`` the verified (doc_a, doc_b, jaccard_ppm) pairs."""

    def __init__(self, root: str):
        self.root = root
        self.sigs = PartialsTable(os.path.join(root, "sigs"), drop_batch_id)
        self.pairs = PartialsTable(
            os.path.join(root, "pairs"), lambda df: df.drop("batch_id").distinct()
        )

    def read_pairs(self, spark: SparkSession) -> DataFrame:
        df = self.pairs.read(spark)
        if df is None:
            return spark.createDataFrame(
                [], "doc_a long, doc_b long, jaccard_ppm long"
            )
        return df

    def compact_pairs(self, spark: SparkSession) -> None:
        """Fold the committed per-batch pairs partials into one
        deduplicated partition. Every micro-batch writes its own
        file-set, so a long-running stream accumulates small files (at
        100 TB the pairs would be read by downstream clustering jobs
        whose task count tracks FILE count, not data size); safe
        between batches, as every ``PartialsTable.compact``."""
        self.pairs.compact(spark, self.committed)


def _sig_cols() -> list[str]:
    return [f"mh{i}" for i in range(dedup.N_HASHES)]


def neardup_ingest_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store: MinHashStore,
    batch_id: int,
) -> None:
    """One micro-batch of (doc_id, lang, text) through the incremental
    near-dup pipeline; the batch's verified pairs and its new
    signatures are written as its partials."""
    if store.committed(batch_id):
        return
    p = spark.sparkContext.defaultParallelism

    base = dedup.rep_base_from_docs(batch_docs, p)
    sigs = dedup.minhash_from_rep_base(base)
    batch = (
        base.join(sigs.select("fingerprint", "lang", *_sig_cols()),
                  ["lang", "fingerprint"], "inner")
        .localCheckpoint(eager=True)  # reused 4×: anti-join, bands, verify, write
    )

    old = store.sigs.read(spark, exclude_batch=batch_id)
    if old is not None:
        old = old.localCheckpoint(eager=True)
        # exact-dup suppression vs history: a text already represented
        # never re-enters banding (the batch dual collapses it there)
        fresh = batch.join(
            old.select("lang", "fingerprint"), ["lang", "fingerprint"], "left_anti"
        )
    else:
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
    store.pairs.write(pairs, batch_id)
    store.sigs.write(
        fresh.select("doc_id", "lang", "fingerprint", "sh", *_sig_cols()).coalesce(1),
        batch_id,
    )
    store.mark_committed(batch_id)
    fold_deltas(spark, store.sigs, store.committed)


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
