"""Streaming vocabulary store: ONE additive store of per-batch token
partials serving FIVE batch equivalences plus an admission-time gate.

The insight shared with streaming_drift/streaming_holt/streaming_bm25:
a whole family of corpus-audit operators read nothing but additive or
min-mergeable token statistics —

  * ``doc_source_kl``            — (source, term) counts: additive
  * ``doc_vocab_growth``         — per-term FIRST doc: min-mergeable;
                                   per-doc token counts: write-once
  * ``doc_source_temperature_mix`` — per-source doc counts: additive
  * ``doc_zipf_fit``             — corpus (tok, freq): the same term
                                   partials summed across sources
  * ``doc_unigram_lm_score``     — the same summed counts, scored by
                                   ``streaming_quality.score_against_store``

so one store of per-batch partials, resolved at read time, re-creates
each operator's exact input, and the shared cores
(``source_kl_from_counts``, ``vocab_growth_from``,
``temperature_mix_from_counts``) make stream ≡ batch equality of
INPUTS rather than of parallel implementations. Each is tested against
its batch twin, including fresh-checkpoint rerun and crash-window
replay (dynamic partition overwrite + ledger, ST5).

The admission-time extra — ``batch_oov_rate`` — is what batch cannot
do: score ONE incoming drop's vocabulary novelty against everything
ingested so far (per source: how many of the batch's distinct terms
the accumulated vocabulary has never seen). A spike means a domain /
language / encoding shift arriving in that drop; near-zero on a
mature corpus is the expected Heaps-tail regime.

Scale shape per batch: one map-side-combined groupBy(source, term)
and one doc-grain projection over the batch. State is
vocabulary × batches + docs rows; read-time resolution is one
term-keyed and one doc-keyed shuffle — the same shuffles the batch
operators pay. Partials compact by re-aggregating into one partition
if batch count ever dominates (the additive-grid pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.dedup import _TOKENS_SPARK
from .operators.corpus_analytics import source_kl_from_counts
from .operators.sampling import temperature_mix_from_counts
from .operators.text import vocab_growth_from
from .streaming_util import start_foreach_batch_stream


class VocabStore(FileBatchLedger):
    """batch_id-partitioned term partials + doc stats, one ledger."""

    def __init__(self, root: str):
        self.root = root

    @property
    def term_path(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def doc_path(self) -> str:
        return os.path.join(self.root, "doc_stats")

    def counts(self, spark, exclude_batch: int | None = None) -> DataFrame | None:
        """Resolved (source, term, c) — additive over batches."""
        df = self.read_partials(spark, self.term_path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("source", "term").agg(
            F.sum("c").cast("bigint").alias("c")
        )

    def term_first(self, spark, exclude_batch: int | None = None) -> DataFrame | None:
        """Resolved (term, first_doc) — min-merge over batches."""
        df = self.read_partials(spark, self.term_path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("term").agg(F.min("first_doc").alias("first_doc"))

    def doc_stats(self, spark, exclude_batch: int | None = None) -> DataFrame | None:
        """Resolved (doc_id, source, n_tokens) — write-once per doc."""
        df = self.read_partials(spark, self.doc_path, exclude_batch)
        if df is None:
            return None
        return df.select("doc_id", "source", "n_tokens")


def vocab_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: VocabStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    toks = batch_docs.select(
        "doc_id", "source", F.explode(F.expr(_TOKENS_SPARK)).alias("term")
    )
    term_stats = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("first_doc")
    )
    doc_stats = batch_docs.select(
        "doc_id",
        "source",
        F.size(F.coalesce(F.expr(_TOKENS_SPARK), F.expr("array()")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    store.write_partial(term_stats.localCheckpoint(eager=True), store.term_path, batch_id)
    store.write_partial(doc_stats.localCheckpoint(eager=True), store.doc_path, batch_id)
    store.mark_committed(batch_id)


def _require(x, what: str):
    if x is None:
        raise ValueError(f"no batches ingested yet ({what})")
    return x


def source_kl(spark: SparkSession, store: VocabStore) -> DataFrame:
    """≡ ``doc_source_kl`` over the union of all ingested batches."""
    counts = _require(store.counts(spark), "term counts")
    sources = _require(store.doc_stats(spark), "doc stats").select(
        "source"
    ).distinct()
    return source_kl_from_counts(counts, sources)


def vocab_growth(spark: SparkSession, store: VocabStore) -> DataFrame:
    """≡ ``doc_vocab_growth`` over the union of all ingested batches."""
    ds = _require(store.doc_stats(spark), "doc stats").select(
        "doc_id", "n_tokens"
    )
    tf = _require(store.term_first(spark), "term firsts")
    return vocab_growth_from(ds, tf)


def zipf_fit(spark: SparkSession, store: VocabStore) -> DataFrame:
    """≡ ``doc_zipf_fit`` over the union of all ingested batches: the
    corpus-wide (tok, freq) table the fit needs is one more additive
    view of the same term partials (summed across sources), feeding
    the shared ``zipf_fit_from`` core."""
    from .operators.text import zipf_fit_from

    counts = _require(store.counts(spark), "term counts")
    words = counts.groupBy(F.col("term").alias("tok")).agg(
        F.sum("c").cast("bigint").alias("freq")
    )
    return zipf_fit_from(words)


def temperature_mix(spark: SparkSession, store: VocabStore) -> DataFrame:
    """≡ ``doc_source_temperature_mix`` over all ingested batches."""
    per_src = (
        _require(store.doc_stats(spark), "doc stats")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return temperature_mix_from_counts(per_src)


def batch_oov_rate(
    spark: SparkSession, batch_docs: DataFrame, store: VocabStore
) -> DataFrame:
    """Admission-time novelty gate: per source in the incoming batch,
    the share of its DISTINCT terms the accumulated vocabulary has
    never seen (left-anti against the resolved term set). Near zero on
    in-distribution drops; a spike is a domain/language/encoding shift
    arriving in that drop."""
    known = _require(store.term_first(spark), "term firsts").select("term")
    bterms = (
        batch_docs.select(
            "source", F.explode(F.expr(_TOKENS_SPARK)).alias("term")
        )
        .distinct()
    )
    unseen = bterms.join(known, "term", "left_anti")
    tot = bterms.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    new = unseen.groupBy("source").agg(F.count(F.lit(1)).alias("n_unseen"))
    return (
        tot.join(new, "source", "left")
        .select(
            "source",
            "n_terms",
            F.coalesce("n_unseen", F.lit(0)).cast("bigint").alias("n_unseen"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("CAST(n_unseen * 1000000 div n_terms AS BIGINT)"),
        )
    )


def start_vocab_stream(
    spark: SparkSession,
    docs_dir: str,
    store: VocabStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and maintain the
    vocabulary partials incrementally."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: vocab_ingest_batch(s, df, store, bid),
        checkpoint_dir, "vocab_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def compact_store(spark: SparkSession, store: VocabStore) -> None:
    """Fold committed batch partials of BOTH tables into one partition
    each (``ledger.compact_additive_store`` — atomic, replay-safe,
    negative partition id): term state becomes vocabulary-sized
    (counts summed, first occurrences min-merged), doc stats collapse
    their partition fan-out (write-once rows, folded by passthrough).
    Every view and the OOV gate are unchanged by construction."""
    from .ledger import compact_additive_store

    compact_additive_store(
        spark,
        store.term_path,
        store.committed,
        lambda df: df.groupBy("source", "term").agg(
            F.sum("c").cast("bigint").alias("c"),
            F.min("first_doc").alias("first_doc"),
        ),
    )
    compact_additive_store(
        spark,
        store.doc_path,
        store.committed,
        lambda df: df.select("doc_id", "source", "n_tokens"),
    )
