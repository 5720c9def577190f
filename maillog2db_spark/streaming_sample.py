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

Replay safety (ST5) needs no ledger here: the merge is idempotent by
construction. Re-delivered rows carry the same content-derived key
(sampling.weighted_key — no RNG stream), the union is deduped on
doc_id before re-ranking, and re-ranking a set with itself is the
identity. A crash anywhere between write and checkpoint commit
converges on replay.

The reference has no sampling surface at all; this extends the
engine's streaming discipline (idempotent merges, bounded state) to
the LLM-pipeline sampling family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import atomic_rewrite, recover
from .operators.sampling import SAMPLE_K, weighted_key

_COLS = ["doc_id", "source", "n_chars", "wkey"]


class ReservoirStore:
    """k-row parquet reservoir with atomic replace. State is O(k) —
    the one store in the engine whose size is constant by contract."""

    def __init__(self, root: str, k: int = SAMPLE_K):
        self.root = root
        self.k = k

    @property
    def path(self) -> str:
        return os.path.join(self.root, "reservoir")

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    def read(self, spark: SparkSession) -> DataFrame | None:
        recover(self.path)
        return spark.read.parquet(self.path) if self.exists() else None

    def sample(self, spark: SparkSession) -> DataFrame | None:
        """The current sample, batch-operator schema (no key column)."""
        r = self.read(spark)
        return None if r is None else r.select("doc_id", "source", "n_chars")

    def write(self, df: DataFrame) -> None:
        # k rows, one file; a reader (or a crash) never sees a
        # half-written reservoir
        atomic_rewrite(df, self.path)


def _topk(df: DataFrame, k: int) -> DataFrame:
    return df.orderBy(F.desc("wkey"), F.asc("doc_id")).limit(k)


def reservoir_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: ReservoirStore,
    batch_id: int,
) -> None:
    """One monoid merge: batch → batch top-k → union with stored
    reservoir → dedup by doc_id → re-top-k → atomic replace.
    ``batch_id`` is unused: the merge is idempotent without a ledger
    (module docstring)."""
    new = _topk(
        batch.select(
            "doc_id",
            "source",
            "n_chars",
            weighted_key(F.col("doc_id"), F.col("n_chars")).alias("wkey"),
        ),
        store.k,
    )
    old = store.read(spark)
    merged = new if old is None else new.unionByName(old)
    store.write(_topk(merged.dropDuplicates(["doc_id"]), store.k).select(*_COLS))
