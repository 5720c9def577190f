"""First-writer (key → min doc_id) stores for incremental
(foreachBatch) operators: hash-bucketed parquet with replay-safe
provenance.

Every streaming dual that needs first-writer state (admission's
fingerprints/shingles, the span-scrub and span-gate stores) runs the
SAME protocol — src_batch provenance so a replayed batch can read the
store as it was before its own crashed attempt, and a min(struct)
reduce that keeps the merge idempotent. The bucketed merge itself is
``ledger.merge_buckets`` and the batch-commit marker is
``ledger.FileBatchLedger``; this module adds only the reduce and the
as-of read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, has_rows, merge_buckets


class BucketedMinStore(FileBatchLedger):
    """Base: requires ``self.root`` and ``self.n_buckets``."""

    root: str
    n_buckets: int

    def _merge_min(
        self,
        spark: SparkSession,
        name: str,
        key: str,
        new_rows: DataFrame,
        batch_id: int,
    ) -> None:
        """Merge (key, doc_id) rows keeping min doc_id per key; touches
        only the buckets the new keys hash into. Rows carry the batch
        id that contributed them (``src_batch``) so a REPLAYED batch
        can read the store as it was before its own crashed attempt —
        without the filter, a replayed batch would see its own residue
        (e.g. the fingerprint anti-join would suppress its every doc).
        Min-dedup (struct min: doc_id, then earliest batch) keeps the
        merge itself idempotent."""
        new_b = new_rows.withColumn(
            "part", F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")
        ).withColumn("src_batch", F.lit(batch_id).cast("long"))
        merge_buckets(
            spark, os.path.join(self.root, name), new_b, "part",
            lambda m: m.groupBy("part", key)
            .agg(F.min(F.struct("doc_id", "src_batch")).alias("_s"))
            .select("part", key, F.col("_s.doc_id").alias("doc_id"),
                    F.col("_s.src_batch").alias("src_batch")),
        )

    def _read_keys(
        self, spark: SparkSession, name: str, exclude_batch: int | None = None
    ) -> DataFrame | None:
        path = os.path.join(self.root, name)
        if not has_rows(path):
            return None
        df = spark.read.parquet(path)
        if exclude_batch is not None:
            df = df.filter(F.col("src_batch") != exclude_batch)
        return df.drop("part", "src_batch")
