"""Shared persisted-store machinery for incremental (foreachBatch)
operators: hash-bucketed (key → min doc_id) parquet stores with
replay-safe provenance, plus batch-id-partitioned artifact writes.

Extracted from the admission funnel so every streaming dual that needs
first-writer state (admission's fingerprints/shingles, the span-scrub
store) runs the SAME protocol — src_batch provenance so a replayed
batch can read the store as it was before its own crashed attempt,
min-dedup idempotent merges, dynamic-partition overwrites that touch
only the batch's buckets. The batch-commit marker comes from
FileBatchLedger (ledger.py), the single ST5 implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, has_rows


class BucketedMinStore(FileBatchLedger):
    """Base: requires ``self.root`` and ``self.n_buckets``."""

    root: str
    n_buckets: int

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

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
        if has_rows(self._path(name)):
            touched = [r["part"] for r in new_b.select("part").distinct().collect()]
            old = spark.read.parquet(self._path(name)).filter(
                F.col("part").isin(touched)
            )
            merged = old.unionByName(new_b)
        else:
            merged = new_b
        (
            merged.groupBy("part", key)
            .agg(F.min(F.struct("doc_id", "src_batch")).alias("_s"))
            .select("part", key, F.col("_s.doc_id").alias("doc_id"),
                    F.col("_s.src_batch").alias("src_batch"))
            .repartition("part")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part")
            .parquet(self._path(name))
        )

    def _read_keys(
        self, spark: SparkSession, name: str, exclude_batch: int | None = None
    ) -> DataFrame | None:
        if not has_rows(self._path(name)):
            return None
        df = spark.read.parquet(self._path(name))
        if exclude_batch is not None:
            df = df.filter(F.col("src_batch") != exclude_batch)
        return df.drop("part", "src_batch")

    def _write_batch_rows(self, df: DataFrame, name: str, batch_id: int) -> None:
        self.write_partial(df.repartition(1), self._path(name), batch_id)
