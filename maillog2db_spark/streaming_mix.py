"""Streaming duals of ``doc_stratified_sample`` and ``doc_source_mix``
— the last two batch-only members of the sampling family.

Both operators are PURE per-row functions of content-derived hashes
(`sampling.strata_keep_predicate` / `sampling.mix_copies_col` — the
exact expressions the batch operators use, imported so the two paths
cannot drift). That purity is what makes the streaming form exact
rather than approximate: a document's membership / copy count does not
depend on what else has arrived, so

    accumulated stream output over any prefix of batches
      ≡ the batch operator over the union of those batches

with NO state store at all — the only persisted artifact is the output
itself, written PARTITIONED BY batch_id with dynamic-partition
overwrite (a replayed batch rewrites exactly its own partition) behind
the usual batch-id ledger (ST5). A crash anywhere between the write
and the ledger mark replays into byte-identical partitions.

This completes the sampling surface's streaming story alongside the
weighted reservoir (`streaming_sample`, bounded-state mergeable top-k)
and the admission funnel (`streaming_admission`): stateless membership
ops need only idempotent partitioned appends; the rates/weights and
membership hashes are identical across batch, stream, and the DuckDB
oracle.

Scale shape per batch: zero shuffles — both transforms are single
codegen'd map stages over the batch, and the write is
batch-partitioned. Work is O(batch), state is zero.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger

from .operators.sampling import mix_copies_col, strata_keep_predicate
from .streaming_util import start_foreach_batch_stream


class SampleMixStore(FileBatchLedger):
    """batch_id-partitioned outputs for the two stateless samplers."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def stratified(self, spark: SparkSession) -> DataFrame | None:
        """Accumulated stratified sample — batch-operator schema."""
        df = self.read_partials(spark, self._path("stratified"))
        return None if df is None else df.drop("batch_id")

    def mixed(self, spark: SparkSession) -> DataFrame | None:
        """Accumulated mixed corpus — batch-operator schema."""
        df = self.read_partials(spark, self._path("mixed"))
        return None if df is None else df.drop("batch_id")


def sample_mix_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: SampleMixStore, batch_id: int
) -> None:
    """One micro-batch through both stateless samplers: apply the
    shared membership predicate / copy-count expression, write each
    output under the batch's own partition."""
    if store.committed(batch_id):
        return
    d = batch_docs.select("doc_id", "lang", "source").localCheckpoint(eager=True)
    store.write_partial(
        d.filter(strata_keep_predicate())
        .select("doc_id", "lang", "source")
        .repartition(1),
        store._path("stratified"),
        batch_id,
    )
    mixed = (
        d.withColumn("n_copies", mix_copies_col())
        .select(
            "doc_id",
            "source",
            F.explode(
                F.when(F.col("n_copies") >= 1, F.expr("sequence(1, n_copies)"))
                .otherwise(F.expr("array()"))
            ).alias("copy_id_i"),
        )
        .select("doc_id", "source", F.col("copy_id_i").cast("bigint").alias("copy_id"))
    )
    store.write_partial(mixed.repartition(1), store._path("mixed"), batch_id)
    store.mark_committed(batch_id)


def start_sample_mix_stream(
    spark: SparkSession,
    docs_dir: str,
    store: SampleMixStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and maintain the
    stratified sample + mixed corpus incrementally."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: sample_mix_ingest_batch(s, df, store, bid),
        checkpoint_dir, "sample_mix_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
