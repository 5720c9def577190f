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

from .ledger import FileBatchLedger, PartialsTable, drop_batch_id

from .operators.sampling import mix_copies_col, strata_keep_predicate


class SampleMixStore(FileBatchLedger):
    """batch_id-partitioned outputs for the two stateless samplers,
    each read back in the batch operator's schema:
    ``stratified`` — (doc_id, lang, source) the accumulated sample;
    ``mixed``      — (doc_id, source, copy_id) the accumulated mix."""

    def __init__(self, root: str):
        self.root = root
        self.stratified = PartialsTable(os.path.join(root, "stratified"), drop_batch_id)
        self.mixed = PartialsTable(os.path.join(root, "mixed"), drop_batch_id)


def sample_mix_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: SampleMixStore, batch_id: int
) -> None:
    """One micro-batch through both stateless samplers: apply the
    shared membership predicate / copy-count expression, write each
    output under the batch's own partition."""
    if store.committed(batch_id):
        return
    d = batch_docs.select("doc_id", "lang", "source").localCheckpoint(eager=True)
    store.stratified.write(
        d.filter(strata_keep_predicate())
        .select("doc_id", "lang", "source")
        .repartition(1),
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
    store.mixed.write(mixed.repartition(1), batch_id)
    store.mark_committed(batch_id)
