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
pays, but over postings instead of raw text. Once batch count
dominates, ``store.postings.compact`` and ``store.lengths.compact``
sum the partials into one partition; the term_bucket sub-partitioning
survives compaction (it is part of the reduce's key and the layout),
so ``search`` prunes identically before and after.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable
from .operators.dedup import _TOKENS_SPARK
from .operators.text import BM25_N_QUERIES, BM25_TOP_K, bm25_from_tf


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
        # the reduce keeps term_bucket (a function of term) so a pruned
        # read and the compacted layout both stay bucketed
        self.postings = PartialsTable(
            os.path.join(root, "postings"),
            lambda df: df.groupBy("term_bucket", "doc_id", "term").agg(
                F.sum("tf").cast("bigint").alias("tf")
            ),
            partition_by=("term_bucket",),
        )
        # additive (doc_id, dl) side table: the serving path's corpus
        # stats must cover ALL docs, which pruned postings cannot give
        self.lengths = PartialsTable(
            os.path.join(root, "lengths"),
            lambda df: df.groupBy("doc_id").agg(F.sum("dl").cast("bigint").alias("dl")),
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
    store.postings.write(tf, batch_id)
    store.lengths.write(
        tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl")), batch_id
    )
    store.mark_committed(batch_id)


def bm25_topk(spark: SparkSession, store: PostingsStore) -> DataFrame:
    """Accumulated retrieval — equal to ``doc_bm25_topk`` over the
    union of all ingested batches (shared core, shared tf shape):
    query docs are doc_id < BM25_N_QUERIES, corpus is the rest."""
    tf = store.postings.read(spark)
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
    tf = store.postings.read(spark)
    dl_all = store.lengths.read(spark)
    if tf is None or dl_all is None:
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
    # term_bucket is a grouping key of the reduce, so this filter runs
    # below the aggregate, as a partition filter on the scan
    ctf = (
        tf.filter(F.col("term_bucket").isin(buckets))
        .drop("term_bucket")
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

