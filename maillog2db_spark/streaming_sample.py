"""Streaming dual of ``doc_weighted_sample``: an incremental weighted
reservoir.

Weighted top-k under a total order is a MERGEABLE monoid:
``topk(A ∪ B) = topk(topk(A) ∪ topk(B))`` — so the persisted state is
just the current k-row reservoir. Each micro-batch contributes its own
top-k (a per-batch TakeOrderedAndProject over batch rows only), and
the merge re-ranks the union of ≤ 2k rows. Per-batch cost is
O(batch + k) no matter how large the corpus already is, and the
reservoir after any prefix of batches equals the batch operator run
over that prefix — exactly the "sample N docs by token mass from an
ever-growing corpus" maintenance job.

Replay safety (ST5) goes through the ledger: the reservoir is a
``PartialsTable`` whose reduce drops duplicate doc_ids and re-ranks
the union, each batch writes only its own top-k as its partial (it
reads nothing back), and the ledger mark comes last. A replay of an
uncommitted batch rewrites its own partial; keys are content-derived
(sampling.weighted_key — no RNG stream), so the rewrite is the same
rows. After the mark the table compacts, so the state stays k rows.

The reference has no sampling surface at all; this extends the
engine's streaming discipline (idempotent merges, bounded state) to
the LLM-pipeline sampling family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable
from .operators.sampling import SAMPLE_K, weighted_key

_COLS = ["doc_id", "source", "n_chars", "wkey"]


def _topk(df: DataFrame) -> DataFrame:
    return df.orderBy(F.desc("wkey"), F.asc("doc_id")).limit(SAMPLE_K)


class ReservoirStore(FileBatchLedger):
    """k-row weighted reservoir: per-batch top-k partials, reduced to
    the top-k of their union. State is O(k) once compacted — the one
    store in the engine whose size is constant by contract."""

    def __init__(self, root: str):
        self.root = root
        self.reservoir = PartialsTable(
            os.path.join(root, "reservoir"),
            lambda df: _topk(df.drop("batch_id").dropDuplicates(["doc_id"])),
        )

    def sample(self, spark: SparkSession) -> DataFrame | None:
        """The current sample, batch-operator schema (no key column)."""
        r = self.reservoir.read(spark)
        return None if r is None else r.select("doc_id", "source", "n_chars")


def reservoir_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: ReservoirStore,
    batch_id: int,
) -> None:
    """One monoid step: write the batch's top-k as its partial, mark
    the batch, then fold the committed partials into one k-row
    partition."""
    if store.committed(batch_id):
        return
    weighted = batch.select(
        "doc_id", "source", "n_chars",
        weighted_key(F.col("doc_id"), F.col("n_chars")).alias("wkey"),
    )
    store.reservoir.write(_topk(weighted).select(*_COLS), batch_id)
    store.mark_committed(batch_id)
    store.reservoir.compact(spark, store.committed)
