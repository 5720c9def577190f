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
  4. writes the batch's shingle attributions as its first-writer
     partial (``ledger.first_writer``); a replayed batch reads the
     store as-of before itself, so its crashed attempt's residue is
     invisible.

Per-batch cost is O(batch shingles + stored shingles) — the scrubbed
history is never re-read, and the folded store (``compact``) grows
with DISTINCT shingles, not corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.corpus_analytics import (
    coverage_from_dup_occurrences,
    positional_shingles,
    rebuild_scrubbed,
)
from .ledger import FileBatchLedger, PartialsTable, drop_batch_id, first_writer
from .operators.dedup import _TOKENS_SPARK


class ScrubStore(FileBatchLedger):
    """Persisted scrub state: the (shingle → first doc_id) first-writer
    partials plus the batch-partitioned scrubbed output."""

    def __init__(self, root: str):
        self.root = root
        self.shingles = PartialsTable(os.path.join(root, "shingles"), first_writer("shingle"))
        self.scrubbed = PartialsTable(os.path.join(root, "scrubbed"), drop_batch_id)


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
    stored = store.shingles.read(spark, exclude_batch=batch_id)
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
    store.scrubbed.write(out.repartition(1), batch_id)
    store.shingles.write(
        batch_first.select("shingle", F.col("bfirst").alias("doc_id")), batch_id
    )
    store.mark_committed(batch_id)
