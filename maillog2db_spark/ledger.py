"""Filesystem batch-commit ledger and the one batch-partials write shape
shared by every persisted streaming store (ST5 effectively-once).

One marker file per committed batch id under ``<root>/_ledger``; a
replayed ``foreachBatch`` delivery checks ``committed()`` first and
skips work it already finished. The marker is written LAST, after all
of the batch's state merges — so a crash anywhere inside the commit
window replays the batch, and each store's merges are themselves
idempotent, making replay converge.

The write shape most stores persist is per-batch PARTIALS:

  * ``FileBatchLedger.write_partial(df, path, batch_id, partition_by)``
    tags every row with ``batch_id`` and dynamically overwrites the
    ``batch_id`` partition (sub-partitioned by ``partition_by`` when a
    store prunes on more columns at read time) — a replayed batch
    rewrites exactly its own partition, never anyone else's;
  * ``FileBatchLedger.read_partials(spark, path, exclude_batch)`` reads
    them back, or None before the first write; ``exclude_batch`` gives
    the as-of view before that batch, so a replayed admission gate does
    not see its own crashed attempt's residue;
  * ``has_rows(path)`` is the "store has data" test: the directory
    holds a non-hidden entry (Spark's ``_SUCCESS`` and ``.crc`` files
    do not count).

The helper sets no file count: a store that wants one file per batch
partition (small per-batch grids and verdict tables) passes
``df.repartition(1)`` itself; the others keep the plan's partitioning.

Stores resolve partials at read time by aggregating across batch
partitions, ``compact_additive_store`` folds committed partitions into
one when batch count dominates, and ``atomic_rewrite`` is the
crash-safe whole-directory swap the last-writer-wins stores use.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def has_rows(path: str) -> bool:
    """True when ``path`` is a directory with a non-hidden entry."""
    return os.path.isdir(path) and any(
        not e.startswith(("_", ".")) for e in os.listdir(path)
    )


class FileBatchLedger:
    """Mixin: requires a ``self.root`` directory attribute."""

    root: str

    def _ledger(self, batch_id: int) -> str:
        return os.path.join(self.root, "_ledger", str(batch_id))

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(self._ledger(batch_id))

    def mark_committed(self, batch_id: int) -> None:
        os.makedirs(os.path.dirname(self._ledger(batch_id)), exist_ok=True)
        with open(self._ledger(batch_id), "w"):
            pass

    def max_committed(self) -> int | None:
        """Largest committed batch id, or None before any commit —
        the internally-derived version compaction rewrites under."""
        d = os.path.join(self.root, "_ledger")
        if not os.path.isdir(d):
            return None
        ids = [int(e) for e in os.listdir(d) if e.isdigit()]
        return max(ids) if ids else None

    @staticmethod
    def write_partial(
        df: DataFrame, path: str, batch_id: int, partition_by=()
    ) -> None:
        """Write ``df`` as batch ``batch_id``'s partition of ``path``,
        replacing only that partition (dynamic overwrite)."""
        (
            df.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", *partition_by)
            .parquet(path)
        )

    @staticmethod
    def read_partials(
        spark: SparkSession, path: str, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Every batch's partials under ``path`` (None before the first
        write); ``exclude_batch`` reads the state as-of before it."""
        if not has_rows(path):
            return None
        df = spark.read.parquet(path)
        if exclude_batch is not None:
            df = df.filter(F.col("batch_id") != exclude_batch)
        return df


def atomic_rewrite(df, path: str, partition_by: list[str] | None = None,
                   n_files: int = 1, repartition_by_cols: bool = True) -> None:
    """Rewrite a store directory from a DataFrame that READS that same
    directory, crash-safely: materialize to a sibling temp dir first,
    then swap via two ``os.rename`` calls. A static in-place overwrite
    of a directory the plan is reading loses the only durable copy if
    the job dies between Spark clearing the target and committing the
    new files (localCheckpoint blocks are session-local, so they don't
    survive the crash either) — after the swap pattern a crash at any
    point leaves either the complete old or the complete new directory
    (plus at worst a stale ``_old``/``_rewriting`` sibling the next
    rewrite clears). Single-filesystem rename is atomic on POSIX; on an
    object store this maps to the same commit-by-rename contract the
    cloud committers provide."""
    tmp = path + "_rewriting"
    old = path + "_old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    # repartition_by_cols=False keeps the plan's own partitioning under
    # a partitionBy writer: repartitioning BY the partition column
    # collapses each value to ONE task and one file — fine for the
    # small LWW stores, but the store-compaction rehearsal measured a
    # 14M-row compacted partition landing in a single parquet file,
    # making post-compaction reads SLOWER (one task) than the
    # 120-partition fan-out it replaced
    w = (
        (df.repartition(*partition_by) if repartition_by_cols else df)
        if partition_by
        else df.coalesce(n_files)
    ).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


COMPACTED_BATCH_ID = -1  # negative: can never collide with a stream batch id


def compact_additive_store(
    spark, path: str, is_committed, aggregate,
    partition_by: list[str] | None = None,
    keep_latest: int = 0,
) -> None:
    """Compact a batch_id-partitioned ADDITIVE store (the
    streaming_drift / streaming_holt / streaming_bm25 / streaming_vocab
    state shape): fold every COMMITTED batch partition — plus any
    previous compaction output (batch_id < 0) — into one aggregated
    partition under ``COMPACTED_BATCH_ID``, preserving uncommitted
    partitions raw. State size becomes keys + in-flight batches instead
    of keys × batches, and every read-time resolution (which already
    aggregates across partitions) is unchanged by construction.

    Replay safety, spelled out:
      * committed batches stay in the ledger, so a checkpoint replay
        SKIPS them — their rows living in the compacted partition
        instead of their own is invisible to the ingest path;
      * an in-flight batch (wrote data, crashed before the ledger
        mark) is NOT folded — its partition survives raw, and the
        re-ingest's dynamic overwrite replaces exactly that partition;
      * the compaction id is negative, so no future stream batch's
        dynamic overwrite can ever clobber the compacted partition
        (the SCD2 id-collision lesson, enforced structurally here);
      * the rewrite itself goes through ``atomic_rewrite`` — a crash
        leaves the complete old or complete new directory.

    The one thing compaction trades away is the per-batch as-of view
    (``exclude_batch``) for batches already folded — callers that need
    an as-of lookback (admission gates) must compact only batches
    older than their window: pass ``keep_latest=N`` and the N highest
    COMMITTED batch ids stay raw (their partitions survive unfolded),
    so any gate whose lookback is at most N batches deep can still
    reconstruct its as-of-before view after compaction. ``aggregate``
    receives a DataFrame WITH the batch_id column and must return the
    folded rows WITHOUT it.
    """
    df = spark.read.parquet(path)
    ids = [r.batch_id for r in df.select("batch_id").distinct().collect()]
    committed_ids = sorted(i for i in ids if i >= 0 and is_committed(i))
    kept = set(committed_ids[-keep_latest:]) if keep_latest > 0 else set()
    raw_ids = [
        i for i in ids if i >= 0 and (not is_committed(i) or i in kept)
    ]
    foldable = df.filter(~F.col("batch_id").isin(raw_ids)) if raw_ids else df
    compacted = aggregate(foldable).withColumn(
        "batch_id", F.lit(COMPACTED_BATCH_ID).cast("long")
    )
    out = compacted
    if raw_ids:
        out = out.unionByName(df.filter(F.col("batch_id").isin(raw_ids)))
    # repartition_by_cols=False: the compacted value is ONE partition —
    # repartitioning by it would funnel the whole folded state through
    # one task into one file (measured: post-compaction reads slower
    # than the fan-out they replaced); the aggregate's own hash
    # partitioning writes parallel, splittable files instead.
    # partition_by extends the layout with sub-partition columns a
    # store prunes on at read time (e.g. the postings term buckets).
    atomic_rewrite(
        out,
        path,
        partition_by=["batch_id"] + (partition_by or []),
        repartition_by_cols=False,
    )
