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

Effectively-once: the shared FileBatchLedger protocol — top-k merges
dedupe on (query_id, doc_id) so a crash-window replay converges, the
label side table is batch_id-partitioned with dynamic overwrite, and
the top-k state rewrites through ``ledger.atomic_rewrite``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable, atomic_rewrite, recover
from .operators.retrieval import HYBRID_N_QUERIES, HYBRID_TOP_K, label_eval_grid
from .operators.similarity import _norm, cosine_topk
from .operators.text import bm25_from_tf
from .streaming_bm25 import PostingsStore


class DenseTopKStore(FileBatchLedger):
    """Bounded exact-top-k state for a fixed eval query set:
    ``topk``    — (query_id, doc_id, cosine, d_lab), ≤ k rows/query;
    ``queries`` — (query_id, q_emb, q_nrm, q_lab), written once;
    ``labels``  — additive (doc_id, d_lab) per batch (lexical-side
                  relevance lookups need labels for docs outside the
                  dense top-k)."""

    def __init__(self, root: str):
        self.root = root
        self.labels = PartialsTable(
            os.path.join(root, "labels"),
            lambda df: df.select("doc_id", "d_lab").distinct(),
        )

    @property
    def topk_path(self) -> str:
        return os.path.join(self.root, "topk")

    @property
    def queries_path(self) -> str:
        return os.path.join(self.root, "queries")

    def register_queries(self, emb_queries: DataFrame) -> None:
        """Persist the eval query set (rows with vec_id <
        HYBRID_N_QUERIES from the embeddings schema). Idempotent:
        a second call on an existing store is a no-op, so a restart
        that re-runs setup cannot clobber in-progress state. The write
        goes through ``ledger.atomic_rewrite`` (temp dir + rename, the
        top-k state's pattern) so a crash mid-registration leaves
        either NO queries directory (re-registration proceeds) or a
        complete one (the no-op guard is sound) — a plain
        ``write.parquet`` could leave a partial directory that trips
        the isdir guard forever."""
        if os.path.isdir(self.queries_path):
            return
        q = emb_queries.filter(F.col("vec_id") < HYBRID_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
            F.col("label").alias("q_lab"),
        )
        atomic_rewrite(q, self.queries_path, n_files=1)

    def queries(self, spark: SparkSession) -> DataFrame:
        recover(self.queries_path)
        if not os.path.isdir(self.queries_path):
            raise ValueError(
                "eval query set not registered — call register_queries "
                "before ingesting corpus batches"
            )
        return spark.read.parquet(self.queries_path)

    def topk(self, spark: SparkSession) -> DataFrame | None:
        recover(self.topk_path)
        if not os.path.isdir(self.topk_path):
            return None
        return spark.read.parquet(self.topk_path)


def _rank_topk(rows: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, cosine, d_lab) → top-k per query under the
    batch ranker's exact order (6dp cosine desc NULLS LAST, doc_id
    asc). The input is bounded (≤ 2k rows/query at merge time), so the
    single window is the bounded-window exemption, not a global sort."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.asc("doc_id")
    )
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
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
    registered query set; the merge unions stored and batch top-k,
    dedupes on (query_id, doc_id) — replay-idempotent, scores are
    deterministic per pair — and re-ranks to k."""
    if store.committed(batch_id):
        return
    qv = store.queries(spark)
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
    prev = store.topk(spark)
    merged = batch_top if prev is None else prev.unionByName(batch_top)
    merged = merged.dropDuplicates(["query_id", "doc_id"])
    atomic_rewrite(_rank_topk(merged, HYBRID_TOP_K), store.topk_path)
    store.labels.write(lab, batch_id)
    store.mark_committed(batch_id)


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
    den_state = dense.topk(spark)
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
    qlab = dense.queries(spark).select("query_id", "q_lab")
    lab = labels.unionByName(
        qlab.select(F.col("query_id").alias("doc_id"),
                    F.col("q_lab").alias("d_lab"))
    )
    return label_eval_grid(spark, lex, den, lab, qlab)
