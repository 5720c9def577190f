"""Streaming dual of ``doc_span_scrub``: incremental duplicate-span
removal against a persisted first-writer shingle store.

A production corpus doesn't re-scrub from scratch per day: new
document batches are cleaned against the shingle attributions
accumulated so far. Per batch this module

  1. derives positional shingle occurrences for the batch (the SAME
     expression as the batch operator — corpus_analytics.
     positional_shingles);
  2. resolves each shingle's effective first writer as
     min(stored first, batch-local first) — with doc_id-monotone
     batches (ingest-assigned ids, the same ordering contract as
     streaming_neardup / streaming_admission) this equals the batch
     operator's global min over all documents seen so far;
  3. rebuilds the scrubbed text (shared rebuild_scrubbed) and writes
     it PARTITIONED BY batch_id with dynamic overwrite — a replayed
     batch rewrites its own partition, never duplicates;
  4. min-merges the batch's shingle attributions into the bucketed
     store (src_batch provenance: a replayed batch reads the store as
     it was before its crashed attempt — stores.BucketedMinStore).

Per-batch cost is O(batch shingles + touched buckets) — the scrubbed
history is never re-read, and the store grows with DISTINCT shingles,
not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.corpus_analytics import (
    coverage_from_dup_occurrences,
    positional_shingles,
    rebuild_scrubbed,
)
from .operators.dedup import _TOKENS_SPARK
from .stores import BucketedMinStore
from .streaming_util import start_foreach_batch_stream


class ScrubStore(BucketedMinStore):
    """Persisted scrub state: bucketed (shingle → first doc_id) store
    plus the batch-partitioned scrubbed output."""

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets

    def read_first_writers(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        return self._read_keys(spark, "shingles", exclude_batch)

    def read_scrubbed(self, spark: SparkSession) -> DataFrame | None:
        df = self.read_partials(spark, self._path("scrubbed"))
        return None if df is None else df.drop("batch_id")


def scrub_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: ScrubStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    p = spark.sparkContext.defaultParallelism
    t = (
        batch.repartition(p, "doc_id")
        .select("doc_id", F.expr(_TOKENS_SPARK).alias("toks"))
        # the token arrays feed three consumers (occurrences, rebuild,
        # store merge) — materialize the interpreted tokenize once
        .localCheckpoint(eager=True)
    )
    occ = positional_shingles(t)
    batch_first = occ.groupBy("shingle").agg(F.min("doc_id").alias("bfirst"))
    stored = store.read_first_writers(spark, exclude_batch=batch_id)
    if stored is None:
        eff = batch_first.select("shingle", F.col("bfirst").alias("first_doc"))
    else:
        eff = (
            batch_first.join(
                stored.withColumnRenamed("doc_id", "sfirst"), "shingle", "left"
            )
            .select(
                "shingle",
                F.least(F.col("bfirst"), F.coalesce("sfirst", F.col("bfirst"))).alias(
                    "first_doc"
                ),
            )
        )
    dup = occ.join(eff, "shingle").filter(F.col("first_doc") < F.col("doc_id"))
    out = rebuild_scrubbed(t, coverage_from_dup_occurrences(dup))
    store._write_batch_rows(out, "scrubbed", batch_id)
    store._merge_min(
        spark,
        "shingles",
        "shingle",
        batch_first.select("shingle", F.col("bfirst").alias("doc_id")),
        batch_id,
    )
    store.mark_committed(batch_id)


def start_scrub_stream(
    spark: SparkSession,
    docs_dir: str,
    store: ScrubStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and scrub each
    micro-batch against the accumulated shingle attributions."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: scrub_ingest_batch(s, df, store, bid),
        checkpoint_dir, "span_scrub_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
