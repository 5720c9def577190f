"""Streaming dual of ``doc_retrieval_label_eval``: serve the MRR /
precision@k eval grid incrementally over the accumulated streaming
stores, so ranking-quality drift is monitorable AT INGEST TIME — the
same gate shape as the PSI length-drift and quality-classifier ingest
monitors (streaming_drift.py / streaming_quality.py), applied to the
retrieval stack itself.

Composition, not reimplementation:
  * the lexical rankings resolve from the SAME streaming inverted
    index the BM25 serving path maintains (streaming_bm25.
    PostingsStore — additive tf partials, so the resolved ctf equals
    the batch ctf over the union of ingested document batches);
  * the dense rankings come from a new bounded-state store below:
    exact cosine top-k per eval query, merged per embedding batch
    through the SAME ``cosine_topk`` core the batch query uses. Exact
    top-k IS incrementally maintainable for a fixed query set: every
    member of the global top-k is a member of its own batch's top-k,
    so (stored top-k ∪ batch top-k → re-rank → top-k) never loses a
    true neighbor, and per-(query, doc) cosines are order-independent;
  * the metric arithmetic is ``operators.retrieval.label_eval_grid``
    — the identical expression tree the hash-verified batch query
    runs, parameterized by the store-resolved rankings.

State bounds: the dense store holds queries × HYBRID_TOP_K rows plus
an additive (doc_id, label) side table (doc-grain, the same class as
the postings store's lengths table — labels for docs the LEXICAL side
may retrieve, which the top-k rows alone cannot provide). Per-batch
work is batch_size × n_queries cosines + a bounded merge — never a
corpus rescan.

Contract: the eval query set is FIXED and registered up front
(``register_queries``) — the standard shape for a monitoring harness,
where the judgment set predates the corpus. Corpus batches containing
query-range vec_ids raise rather than silently skewing the eval
(a query vector arriving late could never be scored against corpus
rows already folded into other queries' top-k state).

Effectively-once: the shared FileBatchLedger protocol, and every
table is a ``ledger.PartialsTable``. The top-k table's reduce dedupes
on (query_id, doc_id) and re-ranks, so a batch writes only its own
top-k and a crash-window replay converges; it compacts after each
commit, back to ≤ k rows per query. The label side table is
write-once per batch, and the query set is a write-once table whose
presence (``has_rows``) is the "registered" test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable, drop_batch_id, has_rows
from .operators.retrieval import HYBRID_N_QUERIES, HYBRID_TOP_K, label_eval_grid
from .operators.similarity import _norm, cosine_topk
from .operators.text import bm25_from_tf
from .streaming_bm25 import PostingsStore


class DenseTopKStore(FileBatchLedger):
    """Bounded exact-top-k state for a fixed eval query set:
    ``topk``    — (query_id, doc_id, cosine, d_lab) per-batch top-k
                  partials, reduced to ≤ k rows/query;
    ``queries`` — (query_id, q_emb, q_nrm, q_lab), written once;
    ``labels``  — additive (doc_id, d_lab) per batch (lexical-side
                  relevance lookups need labels for docs outside the
                  dense top-k)."""

    def __init__(self, root: str):
        self.root = root
        self.topk = PartialsTable(
            os.path.join(root, "topk"),
            lambda df: _rank_topk(
                df.drop("batch_id").dropDuplicates(["query_id", "doc_id"])
            ),
        )
        self.queries = PartialsTable(os.path.join(root, "queries"), drop_batch_id)
        self.labels = PartialsTable(
            os.path.join(root, "labels"),
            lambda df: df.select("doc_id", "d_lab").distinct(),
        )

    def register_queries(self, emb_queries: DataFrame) -> None:
        """Persist the eval query set (rows with vec_id <
        HYBRID_N_QUERIES from the embeddings schema). Idempotent:
        a second call on a registered store is a no-op, so a restart
        that re-runs setup cannot clobber in-progress state. A crash
        mid-registration leaves no rows (the write stages its output
        in a hidden directory until it commits), so the next call
        registers again."""
        if has_rows(self.queries.path):
            return
        q = emb_queries.filter(F.col("vec_id") < HYBRID_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
            F.col("label").alias("q_lab"),
        )
        self.queries.write(q.repartition(1), 0)


def _rank_topk(rows: DataFrame) -> DataFrame:
    """(query_id, doc_id, cosine, d_lab) → top-k per query under the
    batch ranker's exact order (6dp cosine desc NULLS LAST, doc_id
    asc). The input is bounded (≤ k rows/query per partial), so the
    single window is the bounded-window exemption, not a global sort."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.asc("doc_id")
    )
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HYBRID_TOP_K)
        .drop("rn")
    )


def dense_ingest_batch(
    spark: SparkSession,
    emb_batch: DataFrame,
    store: DenseTopKStore,
    batch_id: int,
) -> None:
    """Fold one embeddings batch into the per-query exact top-k state.
    Scoring rides ``cosine_topk`` (the hash-verified core) against the
    registered query set; the batch's top-k is written as its partial
    (scores are deterministic per pair, so a replay writes the same
    rows), and after the ledger mark the committed partials fold into
    one ≤ k rows/query partition."""
    if store.committed(batch_id):
        return
    qv = store.queries.read(spark)
    if qv is None:
        raise ValueError(
            "eval query set not registered — call register_queries "
            "before ingesting corpus batches"
        )
    n_query_rows = emb_batch.filter(
        F.col("vec_id") < HYBRID_N_QUERIES
    ).limit(1).count()
    if n_query_rows:
        raise ValueError(
            "corpus batch contains query-range vec_ids — the eval query "
            "set is fixed at register_queries time"
        )
    c = emb_batch.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_nrm"),
    )
    lab = emb_batch.select(
        F.col("vec_id").alias("doc_id"), F.col("label").alias("d_lab")
    )
    batch_top = (
        cosine_topk(qv.select("query_id", "q_emb", "q_nrm"), c, HYBRID_TOP_K)
        .select("query_id", F.col("neighbor_id").alias("doc_id"), "cosine")
        .join(lab, "doc_id")
        .select("query_id", "doc_id", "cosine", "d_lab")
    )
    store.topk.write(batch_top, batch_id)
    store.labels.write(lab, batch_id)
    store.mark_committed(batch_id)
    store.topk.compact(spark, store.committed)


def retrieval_eval(
    spark: SparkSession, postings: PostingsStore, dense: DenseTopKStore
) -> DataFrame:
    """The accumulated eval grid — equal to ``doc_retrieval_label_eval``
    over the union of ingested document/embedding batches (tested).
    Lexical rankings resolve from the postings store at the hybrid
    grain (query docs are doc_id < HYBRID_N_QUERIES, exactly the batch
    split); dense rankings read the bounded top-k state; the grid is
    the shared ``label_eval_grid`` expression."""
    tf = postings.postings.read(spark)
    if tf is None:
        raise ValueError("no document batches ingested yet")
    ctf = tf.filter(F.col("doc_id") >= HYBRID_N_QUERIES)
    qterms = (
        tf.filter(F.col("doc_id") < HYBRID_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    lex = bm25_from_tf(ctf, qterms, top_k=HYBRID_TOP_K).select(
        "query_id", "doc_id", F.col("rank").alias("rank_lex")
    )
    den_state = dense.topk.read(spark)
    labels = dense.labels.read(spark)
    if den_state is None or labels is None:
        raise ValueError("no embedding batches ingested yet")
    # stored state is already ≤ k rows/query; the window just assigns
    # ranks under the batch ranker's exact order
    den = den_state.select(
        "query_id",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.asc("doc_id")
            )
        )
        .alias("rank_den"),
    )
    qlab = dense.queries.read(spark).select("query_id", "q_lab")
    lab = labels.unionByName(
        qlab.select(F.col("query_id").alias("doc_id"),
                    F.col("q_lab").alias("d_lab"))
    )
    return label_eval_grid(spark, lex, den, lab, qlab)
