"""Incremental (streaming) unigram-LM quality scoring against the
persisted vocabulary store — the ingest-side dual of the batch
``doc_unigram_lm_score`` operator (operators/corpus_analytics.py).

A production pipeline does not recount the corpus vocabulary per run:
token counts accumulate incrementally as document batches arrive
(model BUILD is streaming), and scoring is a pass against the
persisted model (model APPLY is a stateless batch/stream join). The
build half is ``streaming_vocab``: its per-batch (source, term) count
partials, summed over sources, are exactly the corpus unigram counts
the batch model is estimated from — the same view ``zipf_fit`` reads —
so there is one vocabulary store, and crash-window replay is its
per-``batch_id`` dynamic overwrite plus the ledger. This module is the
apply half, over the same tokenization and ppm fixed-point math as the
batch query, which is what makes stream-built-model ≡ batch-model
provable
(tests/test_streaming.py::test_streaming_vocab_scoring_matches_batch).

Scoring joins the token stream to the vocab on the token key; at
100 TB AQE turns the Zipf-bounded vocab side into a broadcast, the
same plan the batch query gets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import _TOKENS_SPARK
from .streaming_vocab import VocabStore


def score_against_store(
    spark: SparkSession, docs: DataFrame, store: VocabStore
) -> DataFrame:
    """Score documents under the persisted unigram model — identical
    output contract to the batch query (doc_id, n_tokens, sum_nll_ppm,
    avg_nll_ppm): per-token nll quantized to ppm BEFORE the per-doc
    sum, so the result is order-exact integers. Tokens absent from the
    vocabulary (scoring out-of-corpus docs) are dropped by the inner
    join — callers scoring foreign corpora should ingest them first
    (the batch dual scores the corpus that built the model, so the
    join is total there)."""
    counts = store.counts(spark)
    if counts is None:
        raise ValueError("no batches ingested yet (term counts)")
    vocab = counts.groupBy(F.col("term").alias("tok")).agg(
        F.sum("c").alias("cnt")
    )
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS_SPARK)).alias("tok"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(vocab, "tok")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            F.expr(
                "CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5) AS BIGINT)"
            ).alias("nll_ppm"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_ppm").alias("sum_nll_ppm"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_nll_ppm",
            F.expr("sum_nll_ppm div n_tokens").alias("avg_nll_ppm"),
        )
    )
