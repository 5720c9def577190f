"""Streaming dual of ``doc_bm25_topk``: incremental inverted-index
maintenance plus ad-hoc search over the accumulated index.

BM25's corpus state is exactly one table — (doc_id, term, tf) — and tf
is additive across batches, so the streaming form persists each
micro-batch's OWN tf partial under its batch_id partition (dynamic
overwrite + ledger: a replayed batch rewrites exactly its partition,
ST5) and resolves the postings by summation at read time. Doc lengths,
document frequencies, corpus stats, and the query-doc term table all
DERIVE from the resolved postings inside the shared scoring core
(``operators.text.bm25_from_tf``), so

    bm25_topk(after any prefix of batches)
      ≡ doc_bm25_topk over the union of those batches

(tested, including fresh-checkpoint rerun and a crash-window replay).

Beyond equivalence, the streaming form adds what batch cannot:
``search(spark, store, text, k)`` — score an AD-HOC query string
against the accumulated index without any corpus rescan: tokenize with
the corpus rule, probe the posting lists of the query's terms, BM25 as
usual. That is the serving path of a search index, and it falls out of
the same shared core with a 1-query qterms table.

Scale shape per batch: one map-side-combined groupBy(doc, term) over
the batch. State is postings × batches rows; the read-time summation
is one (doc, term)-keyed shuffle — the same shuffle the batch operator
pays, but over postings instead of raw text. If batch count ever
dominates, the partials compact by summing into one partition
(the additive-grid pattern shared with streaming_drift/streaming_holt).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.dedup import _TOKENS_SPARK
from .operators.text import BM25_N_QUERIES, BM25_TOP_K, bm25_from_tf
from .streaming_util import start_foreach_batch_stream


N_TERM_BUCKETS = 16  # posting-list sub-partitioning for search pruning


def _term_bucket() -> "F.Column":
    # built lazily: a module-level Column would need an active Spark
    # session at IMPORT time (plain-script imports break otherwise)
    return F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")


class PostingsStore(FileBatchLedger):
    """(batch_id, term_bucket)-partitioned (doc_id, term, tf) partials.

    The term-bucket sub-partitioning is the IVF-index trick applied to
    the inverted index: an ad-hoc ``search`` touches only the buckets
    its query terms hash into (parquet partition pruning — verified
    in-plan), so serving cost tracks the query's posting lists, not
    the index. Full resolutions (``postings`` → bm25_topk) read every
    bucket, unchanged."""

    def __init__(self, root: str):
        self.root = root

    @property
    def path(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def lengths_path(self) -> str:
        return os.path.join(self.root, "lengths")

    def lengths(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Resolved (doc_id, dl) — additive over batches."""
        df = self.read_partials(spark, self.lengths_path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("doc_id").agg(F.sum("dl").cast("bigint").alias("dl"))

    def postings(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Resolved (doc_id, term, tf) postings; ``exclude_batch``
        reads the index as-of before that batch (the replay view)."""
        df = self.read_partials(spark, self.path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("doc_id", "term").agg(
            F.sum("tf").cast("bigint").alias("tf")
        )


def _batch_tf(batch_docs: DataFrame) -> DataFrame:
    return (
        batch_docs.select(
            "doc_id", F.explode(F.expr(_TOKENS_SPARK)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", _term_bucket())
    )


def bm25_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: PostingsStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    # r10: lazy checkpoint - the write/first agg materializes it
    tf = _batch_tf(batch_docs).localCheckpoint(eager=False)
    store.write_partial(tf, store.path, batch_id, partition_by=["term_bucket"])
    # additive (doc_id, dl) side table: the serving path's corpus
    # stats must cover ALL docs, which pruned postings cannot give
    store.write_partial(
        tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl")),
        store.lengths_path,
        batch_id,
    )
    store.mark_committed(batch_id)


def bm25_topk(spark: SparkSession, store: PostingsStore) -> DataFrame:
    """Accumulated retrieval — equal to ``doc_bm25_topk`` over the
    union of all ingested batches (shared core, shared tf shape):
    query docs are doc_id < BM25_N_QUERIES, corpus is the rest."""
    tf = store.postings(spark)
    if tf is None:
        raise ValueError("no batches ingested yet")
    ctf = tf.filter(F.col("doc_id") >= BM25_N_QUERIES)
    qterms = (
        tf.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    return bm25_from_tf(ctf, qterms)


def search(
    spark: SparkSession, store: PostingsStore, text: str, k: int = BM25_TOP_K
) -> DataFrame:
    """Ad-hoc query against the accumulated index — no corpus rescan,
    and no full-index scan either: the query's terms hash to their
    term buckets (a bounded-metadata collect, same contract as the IVF
    probe-cell list) and the postings read PRUNES to exactly those
    parquet partitions. Document frequencies stay exact under pruning
    (a term's full posting list lives in its one bucket); corpus
    stats (n_docs, avgdl) come from the additive lengths side table,
    which pruned postings cannot provide. Scores are identical to the
    unpruned path by construction — pruning changes which rows are
    scanned, never a score (tested)."""
    raw = store.read_partials(spark, store.path)
    dl_all = store.lengths(spark)
    if raw is None or dl_all is None:
        raise ValueError("no batches ingested yet")
    qterms = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.explode(F.expr(_TOKENS_SPARK)).alias("term"))
        .distinct()
        .select(F.lit(-1).cast("bigint").alias("query_id"), "term")
    )
    buckets = [
        r.b for r in qterms.select(_term_bucket().alias("b")).distinct().collect()
    ]
    ctf = (
        raw.filter(F.col("term_bucket").isin(buckets))
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("tf"))
        .filter(F.col("doc_id") >= BM25_N_QUERIES)
    )
    dl = dl_all.filter(F.col("doc_id") >= BM25_N_QUERIES)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from .operators.text import bm25_score_topk

    out = bm25_score_topk(ctf, dl, stats, dfreq, qterms)
    return out.filter(F.col("rank") <= k).select("doc_id", "bm25_ppm", "rank")


def start_bm25_stream(
    spark: SparkSession,
    docs_dir: str,
    store: PostingsStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and maintain the
    postings incrementally."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: bm25_ingest_batch(s, df, store, bid),
        checkpoint_dir, "bm25_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def compact_postings(spark: SparkSession, store: PostingsStore) -> None:
    """Fold committed batch partials into one summed partition
    (``ledger.compact_additive_store`` — atomic, replay-safe, negative
    partition id): index size becomes postings instead of
    postings × batches. The term_bucket sub-partitioning SURVIVES
    compaction (it is the grouping + layout key), so ``search`` prunes
    identically before and after. The lengths side table compacts the
    same way."""
    from .ledger import compact_additive_store

    compact_additive_store(
        spark,
        store.path,
        store.committed,
        lambda df: df.groupBy("term_bucket", "doc_id", "term").agg(
            F.sum("tf").cast("bigint").alias("tf")
        ),
        partition_by=["term_bucket"],
    )
    compact_additive_store(
        spark,
        store.lengths_path,
        store.committed,
        lambda df: df.groupBy("doc_id").agg(
            F.sum("dl").cast("bigint").alias("dl")
        ),
    )
