"""Streaming bigram-LM store: incremental duals of
``doc_bigram_lm_score`` and ``doc_mink_prob`` plus an admission-time
memorization gate.

One additive store of per-batch bigram/token partials (the
streaming_vocab framing, one model up): the Jelinek–Mercer bigram
model's three count tables are all additive —

  * (prev, tok) bigram counts     — additive
  * (prev) context counts         — derivable: Σ over tok of cbg
  * (tok) unigram counts + total  — additive

so the resolved model over any prefix of batches IS the batch model
over the union of those batches, and the per-doc positional bigram
streams (write-once, batch-partitioned) let the resolver re-score
every ingested document under the CURRENT global model through the
exact shared expression (``corpus_analytics.score_bigrams`` /
``bigram_rollup`` / ``mink_rollup``). Stream ≡ batch is therefore
equality of resolved inputs — the postings-store contract, applied to
the language model.

The admission-time extra — ``batch_mink_stats`` — is what batch cannot
do: score ONE incoming drop's min-k% tail under the model AS-OF BEFORE
that drop (exclude_batch, the DSIR-gate pattern). A drop of text the
accumulated corpus has already seen (boilerplate floods, benchmark
leakage, crawl duplicates) keeps a LOW tail NLL against the pre-drop
model; genuinely novel text scores HIGH. Because an incoming drop can
contain bigrams and tokens the model has never seen, the gate — and
only the gate — applies a documented OOV floor: ONLY when both the
bigram and the unigram count are 0 (interpolated probability exactly
0, ln undefined) is p replaced by 1/(10*(total+1)) — strictly below
the smallest seen-event probability (1-λ)·1/total, so never-seen
events always score a HIGHER NLL than rare-but-seen ones and the
novelty ordering is monotone. Rare-but-seen events are NOT clamped —
they score their true interpolated probability. (The batch twins
never hit the OOV case: their model is built from the same corpus
they score.)

Effectively-once: the shared FileBatchLedger protocol — write-once
batch partitions with dynamic overwrite, ledger short-circuit, and
additive compaction via ``ledger.compact_additive_store``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.corpus_analytics import (
    BIGRAM_LAMBDA,
    bigram_rollup,
    bigrams_of,
    mink_rollup,
    score_bigrams,
)
from .operators.dedup import _TOKENS_SPARK
from .streaming_util import start_foreach_batch_stream


class BigramStore(FileBatchLedger):
    """batch_id-partitioned partials:
    ``bigrams`` — per-doc positional streams (doc_id, pos, prev, tok);
    ``unigrams`` — (tok, cw) additive counts;
    ``tokens`` — per-doc token arrays (doc_id, toks), write-once facts
    (r10) from which the resolver derives ANY n-gram grain — the
    order-5 KN twin reads these so higher-order parity never needs a
    new store shape per order."""

    def __init__(self, root: str):
        self.root = root

    @property
    def bigrams_path(self) -> str:
        return os.path.join(self.root, "bigrams")

    @property
    def unigrams_path(self) -> str:
        return os.path.join(self.root, "unigrams")

    @property
    def tokens_path(self) -> str:
        return os.path.join(self.root, "tokens")

    def doc_bigrams(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        df = self.read_partials(spark, self.bigrams_path, exclude_batch)
        return None if df is None else df.select("doc_id", "pos", "prev", "tok")

    def unigram_counts(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        df = self.read_partials(spark, self.unigrams_path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("tok").agg(F.sum("cw").cast("bigint").alias("cw"))

    def doc_toks(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        df = self.read_partials(spark, self.tokens_path, exclude_batch)
        return None if df is None else df.select("doc_id", "toks")


def _doc_streams(batch_docs: DataFrame):
    base = batch_docs.select("doc_id", F.expr(_TOKENS_SPARK).alias("toks"))
    bg = bigrams_of(base)
    toks = base.select("doc_id", F.explode("toks").alias("tok"))
    return bg, toks


def lm_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: BigramStore, batch_id: int
) -> None:
    """Fold one document batch into the model store: the batch's
    positional bigram streams (write-once) and its unigram count
    partial (additive)."""
    if store.committed(batch_id):
        return
    bg, toks = _doc_streams(batch_docs)
    store.write_partial(bg, store.bigrams_path, batch_id)
    store.write_partial(
        batch_docs.select("doc_id", F.expr(_TOKENS_SPARK).alias("toks")),
        store.tokens_path,
        batch_id,
    )
    store.write_partial(
        toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cw")),
        store.unigrams_path,
        batch_id,
    )
    store.mark_committed(batch_id)


def _resolved_model(spark: SparkSession, store: BigramStore,
                    exclude_batch: int | None = None):
    """(bg, bgc, ctx, vocab, total) over the accumulated batches —
    bigram-derived tables aggregate from the stored streams (additive
    by construction), unigrams from the count partials."""
    bg = store.doc_bigrams(spark, exclude_batch)
    vocab = store.unigram_counts(spark, exclude_batch)
    if bg is None or vocab is None:
        raise ValueError("no batches ingested yet")
    bgc = bg.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cbg"))
    ctx = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("cprev"))
    total = vocab.agg(F.sum("cw").alias("total"))
    return bg, bgc, ctx, vocab, total


def bigram_lm_score(spark: SparkSession, store: BigramStore) -> DataFrame:
    """≡ ``doc_bigram_lm_score`` over the union of ingested batches
    (tested): the shared scoring expression over the resolved model."""
    bg, bgc, ctx, vocab, total = _resolved_model(spark, store)
    return bigram_rollup(score_bigrams(bg, bgc, ctx, vocab, total))


def mink_prob(spark: SparkSession, store: BigramStore) -> DataFrame:
    """≡ ``doc_mink_prob`` over the union of ingested batches."""
    bg, bgc, ctx, vocab, total = _resolved_model(spark, store)
    scored = score_bigrams(bg, bgc, ctx, vocab, total, keep=("doc_id", "pos"))
    return mink_rollup(scored)


def batch_mink_stats(
    spark: SparkSession, batch_docs: DataFrame, store: BigramStore,
    batch_id: int,
) -> DataFrame:
    """The admission gate: the incoming drop's per-doc min-k% tail
    under the model as-of BEFORE ``batch_id`` (identical whether or
    not the batch's own partials are already written — crash-window
    safe). OOV floor documented in the module docstring: p is floored
    at 1/(10*(total+1)) ONLY when both counts are 0, so every NLL
    stays a finite exact ppm integer AND never-seen < rare-seen in
    probability (higher NLL). Low ``mink_avg_nll_ppm`` = the
    accumulated corpus has seen this text before — route to
    dedup/contamination review before admitting.

    Raises if ``batch_id``'s unigram partial was already folded into
    the compacted partition (committed, but its own batch partition is
    gone): ``exclude_batch`` could not hide it and the gate would
    silently score the drop against a model that contains it — the
    compact_unigrams ``keep_latest`` window exists to prevent this."""
    part = os.path.join(store.unigrams_path, f"batch_id={batch_id}")
    if store.committed(batch_id) and not os.path.isdir(part):
        raise ValueError(
            f"batch {batch_id} was compacted away — its as-of-before "
            "model view is unrecoverable; compact with keep_latest "
            "covering the gate lookback"
        )
    prior_bg = store.doc_bigrams(spark, exclude_batch=batch_id)
    vocab = store.unigram_counts(spark, exclude_batch=batch_id)
    if prior_bg is None or vocab is None:
        raise ValueError("no committed batches to score against")
    bgc = prior_bg.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cbg"))
    ctx = prior_bg.groupBy("prev").agg(F.count(F.lit(1)).alias("cprev"))
    total_row = vocab.agg(F.sum("cw")).collect()[0][0]
    total = int(total_row or 0)
    bg, _toks = _doc_streams(batch_docs)
    scored = (
        bg.join(bgc, ["prev", "tok"], "left")
        .join(ctx, "prev", "left")
        .join(vocab.withColumnRenamed("cw", "cw_m"), "tok", "left")
        .select(
            "doc_id", "pos",
            F.expr(
                f"CAST(floor(-ln(CASE WHEN coalesce(cbg, 0) = 0"
                f" AND coalesce(cw_m, 0) = 0"
                f" THEN 1.0 / {10 * (total + 1)}"
                f" ELSE {BIGRAM_LAMBDA} * (CAST(coalesce(cbg, 0) AS DOUBLE)"
                f" / greatest(coalesce(cprev, 0), 1))"
                f" + {1 - BIGRAM_LAMBDA:.1f} * (CAST(coalesce(cw_m, 0) AS DOUBLE)"
                f" / {max(total, 1)}) END) * 1000000 + 0.5) AS BIGINT)"
            ).alias("nll_ppm"),
        )
    )
    return mink_rollup(scored)


def start_lm_stream(
    spark: SparkSession,
    docs_dir: str,
    store: BigramStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and maintain the
    bigram model incrementally."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: lm_ingest_batch(s, df, store, bid),
        checkpoint_dir, "bigram_lm_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def compact_unigrams(
    spark: SparkSession, store: BigramStore, keep_latest: int = 1
) -> None:
    """Fold committed unigram partials into one summed partition (the
    additive-grid pattern); the per-doc bigram streams are write-once
    facts and stay partitioned as ingested.

    ``keep_latest`` (default 1) leaves the most recent N committed
    batches raw so the admission gate's as-of-before view
    (``batch_mink_stats`` with ``exclude_batch``, lookback depth 1)
    survives compaction — folding EVERY batch would make a gate re-run
    for an already-committed batch silently score the drop against a
    model that contains it. ``batch_mink_stats`` raises rather than
    return that wrong answer (the check below is the belt to this
    brace)."""
    from .ledger import compact_additive_store

    compact_additive_store(
        spark,
        store.unigrams_path,
        store.committed,
        lambda df: df.groupBy("tok").agg(
            F.sum("cw").cast("bigint").alias("cw")
        ),
        keep_latest=keep_latest,
    )


def kn_perplexity(spark: SparkSession, store: BigramStore) -> DataFrame:
    """≡ ``doc_kn_perplexity`` over the union of ingested batches
    (tested): the interpolated Kneser-Ney model tables re-derive from
    the resolved bigram streams (type/continuation counts are pure
    aggregates of the accumulated (prev, tok) grain — additive by
    write-once construction), then the shared
    ``corpus_analytics.kn_score_bigrams`` expression scores them.
    Completes the LM family's streaming parity: unigram, JM-bigram,
    min-k%, and KN all serve from one store."""
    from .operators.corpus_analytics import kn_model_tables, kn_score_bigrams

    bg = store.doc_bigrams(spark)
    if bg is None:
        raise ValueError("no batches ingested yet")
    return bigram_rollup(kn_score_bigrams(bg, *kn_model_tables(bg)))


def kn5_perplexity(spark: SparkSession, store: BigramStore) -> DataFrame:
    """≡ ``doc_kn5_perplexity`` over the union of ingested batches
    (tested): the resolved per-doc token arrays ARE the batch query's
    (doc_id, toks) base, so the full order-5 model derivation and the
    shared scoring pipeline (``kn5_model_tables`` /
    ``kn5_score_pgrams``) apply verbatim — stream ≡ batch is equality
    of the resolved token grain into one shared core, at every order
    the cascade supports (r10: the KenLM-order twin, keeping LM-family
    streaming parity complete as the batch family grows)."""
    from .operators.corpus_analytics import (
        _ngram_rollup,
        kn5_model_tables,
        kn5_score_pgrams,
        pgrams_of,
    )

    base = store.doc_toks(spark)
    if base is None:
        raise ValueError("no batches ingested yet")
    tables = kn5_model_tables(base)
    return _ngram_rollup(
        kn5_score_pgrams(pgrams_of(base), *tables), "n_pentagrams"
    )
