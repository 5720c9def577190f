"""Streaming DSIR: an additive hashed-bigram feature store serving an
exact batch twin of ``doc_dsir_weights`` plus the admission-time gate
batch cannot express — scoring an incoming drop's importance under the
model accumulated BEFORE it arrived.

Same state doctrine as streaming_vocab / streaming_drift /
streaming_bm25 (additive or write-once partials under ``batch_id=``
partitions, ledger-gated, read-time resolution, compaction via the
shared atomic-rename fold):

  * ``feats``  — per-doc hashed-bigram bucket counts
    (doc_id, source, bucket, k): WRITE-ONCE rows (a doc appears in one
    batch), which also makes them trivially additive across batches.
  * ``docs``   — (doc_id, source): write-once, carries the docs with
    no bigrams so the zero-filled left join matches batch exactly.

The model (bucket, ct, cr) is NOT stored — it re-aggregates from the
resolved feature grain at read time, bounded by DSIR_BUCKETS rows, so
stream ≡ batch is equality of INPUTS into the shared cores
(``dsir_model`` / ``dsir_score``), not two implementations agreeing.

Admission semantics: ``batch_weight_stats`` scores a drop against the
store as-of BEFORE the drop itself (exclude_batch) — the importance
twin of streaming_vocab's OOV gate: OOV asks "have we seen these
words", this asks "does this drop look like the target domain". A
falling per-source mean on successive drops is drift away from the
target distribution arriving at admission time, before mixing.

Scale shape per batch: one map-side-combined groupBy((doc, bucket))
over the batch and one doc-grain projection; state is feature rows ×
1 (write-once) + docs; read-time model resolution is one bounded
aggregate. Reference: the engine's north-star extension surface
(SURVEY §2.9); the reference program (maillog2db.go:180-280) has no
analytics surface at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.corpus_analytics import (
    dsir_bucket_counts,
    dsir_bucket_occurrences,
    dsir_model,
    dsir_score,
)
from .streaming_util import start_foreach_batch_stream


class DsirStore(FileBatchLedger):
    """batch_id-partitioned hashed-bigram feature partials + doc ids."""

    def __init__(self, root: str):
        self.root = root

    @property
    def feats_path(self) -> str:
        return os.path.join(self.root, "feats")

    @property
    def docs_path(self) -> str:
        return os.path.join(self.root, "docs")

    def feats(self, spark, exclude_batch: int | None = None) -> DataFrame | None:
        """Resolved (doc_id, source, bucket, k) — write-once rows,
        summed across partitions for additivity under replay folds."""
        df = self.read_partials(spark, self.feats_path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("doc_id", "source", "bucket").agg(
            F.sum("k").cast("bigint").alias("k")
        )

    def docs(self, spark, exclude_batch: int | None = None) -> DataFrame | None:
        df = self.read_partials(spark, self.docs_path, exclude_batch)
        if df is None:
            return None
        return df.select("doc_id", "source").distinct()


def dsir_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: DsirStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    feats = dsir_bucket_counts(batch_docs.select("doc_id", "source", "text"))
    docs = batch_docs.select("doc_id", "source")
    # r10: lazy checkpoints - the write/first agg materializes them
    store.write_partial(feats.localCheckpoint(eager=False), store.feats_path, batch_id)
    store.write_partial(docs.localCheckpoint(eager=False), store.docs_path, batch_id)
    store.mark_committed(batch_id)


def _require(x, what: str):
    if x is None:
        raise ValueError(f"no batches ingested yet ({what})")
    return x


def corpus_weights(spark: SparkSession, store: DsirStore) -> DataFrame:
    """≡ ``doc_dsir_weights`` over the union of all ingested batches:
    resolved feature grain + resolved doc set through the same cores."""
    feats = _require(store.feats(spark), "features")
    docs = _require(store.docs(spark), "docs")
    return dsir_score(feats, dsir_model(feats), docs)


def batch_weight_stats(
    spark: SparkSession,
    batch_docs: DataFrame,
    store: DsirStore,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Admission-time importance gate: score an incoming drop against
    the ACCUMULATED model (as-of before the drop, if its batch id is
    passed), and summarize per source — n docs, mean weight_ppm (an
    exact integer ratio is avoided: negative sums truncate differently
    cross-engine, so the mean ships as (sum, n))."""
    model = dsir_model(_require(store.feats(spark, exclude_batch), "features"))
    # occurrence grain for the drop being scored (sum(k·w) ≡ sum(w) in
    # exact integers) — the counted grain is only for what the store
    # PERSISTS; the drop itself needs no (doc, bucket) shuffle
    scored = dsir_score(
        dsir_bucket_occurrences(batch_docs.select("doc_id", "source", "text")),
        model,
        batch_docs.select("doc_id", "source"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("n_bigrams"),
        F.sum("weight_ppm").alias("sum_weight_ppm"),
    )


def start_dsir_stream(
    spark: SparkSession,
    docs_dir: str,
    store: DsirStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and maintain the
    DSIR feature partials incrementally."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: dsir_ingest_batch(s, df, store, bid),
        checkpoint_dir, "dsir_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def compact_store(spark: SparkSession, store: DsirStore) -> None:
    """Fold committed batch partitions into one (shared atomic-rename
    additive fold): features sum by their write-once key, doc ids pass
    through distinct. Every read path is unchanged by construction."""
    from .ledger import compact_additive_store

    compact_additive_store(
        spark,
        store.feats_path,
        store.committed,
        lambda df: df.groupBy("doc_id", "source", "bucket").agg(
            F.sum("k").cast("bigint").alias("k")
        ),
    )
    compact_additive_store(
        spark,
        store.docs_path,
        store.committed,
        lambda df: df.select("doc_id", "source").distinct(),
    )
