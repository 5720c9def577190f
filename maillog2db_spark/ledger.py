"""Filesystem batch-commit ledger plus the two state disciplines shared
by every persisted streaming store (ST5 effectively-once): per-batch
partials and the whole-directory ``atomic_rewrite``.

One marker file per committed batch id under ``<root>/_ledger``; a
replayed ``foreachBatch`` delivery checks ``committed()`` first and
skips work it already finished. The marker is written LAST, after all
of the batch's state merges — so a crash anywhere inside the commit
window replays the batch, and each store's merges are themselves
idempotent, making replay converge. ``committed``,
``mark_committed`` and ``max_committed`` take an optional trailing
scope path: ``committed(batch_id, ns, table)`` checks
``<root>/_ledger/<ns>/<table>/<batch_id>`` — the four-table store
keys its markers by checkpoint identity (batch ids restart at 0 under
a fresh checkpoint) and by table (each table commits on its own).

The first discipline is per-batch PARTIALS, and a store declares
each partials table ONCE, as a
``PartialsTable(path, reduce, partition_by=())``. Every store reads,
writes and compacts its partials through that declaration:

  * ``write(df, batch_id)`` tags every row with ``batch_id`` and
    dynamically overwrites the ``batch_id`` partition (sub-partitioned
    by ``partition_by`` when a reader prunes on more columns) — a
    replayed batch rewrites exactly its own partition, never anyone
    else's;
  * ``read(spark, exclude_batch)`` is ``reduce`` over every batch's
    partials, or None before the first write; ``exclude_batch`` gives
    the as-of view before that batch, so a replayed gate does not see
    its own crashed attempt's residue;
  * ``compact(spark, is_committed)`` is ``compact_additive_store`` with
    the same ``reduce``: the committed partitions fold into one under
    ``COMPACTED_BATCH_ID``, a negative id that ranks below every stream
    batch, so a last-writer-wins reduce (``max_by(..., batch_id)``)
    still lets every later batch win, and no stream batch can
    overwrite the compacted partition.

A write-once table's reduce is ``drop_batch_id``. A first-writer
table's (key → smallest ``doc_id``) is ``first_writer(key)``: its
as-of read drops the excluded batch before the min, so a replayed
batch sees exactly the earlier batches' writers. A table whose reader
selects batches itself (a latest snapshot, a per-batch range check)
declares ``keep_batch_id`` and is never compacted. ``has_rows(path)``
is the "store has data" test: the directory holds a non-hidden entry
(Spark's ``_SUCCESS`` and ``.crc`` files do not count). The write sets
no file count: a store that wants one file per batch partition passes
``df.repartition(1)`` itself. ``write`` and ``read`` run on
``FileBatchLedger.write_partial`` and ``read_partials``; a reader that
needs one table's unreduced partials calls ``read_partials`` on the
table's ``path``. Every read and write of a partials table runs
``recover`` first, so a compaction a crash interrupted never reads as
an empty store.

The second discipline, ``atomic_rewrite``, is the crash-safe
whole-directory swap: every compaction runs through it, and so do the
stores whose state is one last-writer-wins directory (dense top-k, the
reservoir, vacuumed clicks). ``recover(path)`` finishes or undoes a
swap a crash interrupted (it promotes a committed ``_rewriting``
copy, else restores ``_old``, and only then removes the siblings);
``atomic_rewrite`` runs it first too.

``fold_deltas`` is the four-table store's compaction policy: each
table is a ``PartialsTable`` scoped by namespace (one delta per
(``batch_id``, ``ns``) partition plus a snapshot partition), folded by
the table's ``compact`` once the committed deltas' bytes reach the
snapshot's, or ``MAX_DELTAS`` of them wait. ``partial_sizes`` lists
the partitions on the driver and the fold reads them with the store's
schema, so a tail micro-batch's compaction runs no listing or footer
job. Namespaces are ordered by ``epoch(ns)``, a number each namespace
gets when it first writes: a store's newer run always orders after
its older ones, whatever their batch ids.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def has_rows(path: str) -> bool:
    """True when ``path`` is a directory with a non-hidden entry."""
    return os.path.isdir(path) and any(
        not e.startswith(("_", ".")) for e in os.listdir(path)
    )


class FileBatchLedger:
    """Mixin: requires a ``self.root`` directory attribute."""

    root: str

    def _ledger(self, batch_id: int, *scope: str) -> str:
        return os.path.join(self.root, "_ledger", *scope, str(batch_id))

    def committed(self, batch_id: int, *scope: str) -> bool:
        return os.path.exists(self._ledger(batch_id, *scope))

    def mark_committed(self, batch_id: int, *scope: str) -> None:
        p = self._ledger(batch_id, *scope)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w"):
            pass

    def max_committed(self, *scope: str) -> int | None:
        """Largest committed batch id under ``scope`` (the same trailing
        path ``committed`` takes), or None before any commit — the
        internally-derived version compaction rewrites under."""
        d = os.path.join(self.root, "_ledger", *scope)
        if not os.path.isdir(d):
            return None
        ids = [int(e) for e in os.listdir(d) if e.isdigit()]
        return max(ids) if ids else None

    def epoch(self, ns: str) -> int:
        """Namespace ``ns``'s epoch, assigned on its first call: 1 + the
        largest epoch recorded under ``<root>/_ledger`` (in a file
        ``epoch`` beside the namespace's table directories). Orders a
        store's namespaces by first write, whatever their batch ids."""
        p = Path(self.root, "_ledger", ns, "epoch")
        if not p.exists():
            known = Path(self.root, "_ledger").glob("*/epoch")
            p.parent.mkdir(parents=True, exist_ok=True)
            tmp = p.with_suffix(".tmp")
            tmp.write_text(str(1 + max((int(q.read_text()) for q in known), default=0)))
            tmp.replace(p)
        return int(p.read_text())

    @staticmethod
    def write_partial(
        df: DataFrame, path: str, batch_id: int, partition_by=()
    ) -> None:
        """Write ``df`` as batch ``batch_id``'s partition of ``path``,
        replacing only that partition (dynamic overwrite). The id is
        tagged as a string literal, which generated code takes by
        reference, so each batch reuses the previous batch's compiled
        write stage (a long literal is inlined into the code); the
        directory name, and so the column read back, is the same."""
        recover(path)
        overwrite_partitions(
            df.withColumn("batch_id", F.lit(str(batch_id))),
            path, "batch_id", *partition_by,
        )

    @staticmethod
    def read_partials(
        spark: SparkSession, path: str, exclude_batch: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame | None:
        """Every batch's partials under ``path`` (None before the first
        write); ``exclude_batch`` reads the state as-of before it. A
        given ``schema`` (partition columns included) replaces the
        footer job that would infer it. An interrupted compaction is
        recovered first."""
        recover(path)
        if not has_rows(path):
            return None
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
        if exclude_batch is not None:
            df = df.filter(F.col("batch_id") != exclude_batch)
        return df


def drop_batch_id(df: DataFrame) -> DataFrame:
    """The reduce of a write-once table: every batch's rows as written."""
    return df.drop("batch_id")


def first_writer(key: str) -> Callable[[DataFrame], DataFrame]:
    """The reduce of a first-writer table of (``key``, ``doc_id``) rows:
    the smallest ``doc_id`` per key."""
    return lambda df: df.groupBy(key).agg(F.min("doc_id").alias("doc_id"))


def keep_batch_id(df: DataFrame) -> DataFrame:
    """The reduce of a table whose reader selects batches itself: every
    batch's rows with their ``batch_id``. Such a table is not
    compacted (compaction would fold the ids it selects by)."""
    return df


@dataclass(frozen=True)
class PartialsTable:
    """A per-batch partials table and the one ``reduce`` that resolves
    it, for both its read and its compaction.

    ``reduce`` maps any union of the table's partials — partition
    columns included, the compacted partition too — to the resolved
    rows, without ``batch_id`` (and ``scope``) unless it is
    ``keep_batch_id``; folding committed partials with it and reducing
    again must equal reducing them all.
    ``partition_by`` sub-partitions each batch's partial by columns a
    reader prunes on, and ``reduce`` keeps them. ``scope`` names a
    column that identifies a partial together with its batch id (the
    four-table store's ledger namespace); its commit test is then
    ``is_committed(batch_id, scope_value)``. ``keep_latest`` is the
    table's compaction default (see ``compact_additive_store``)."""

    path: str
    reduce: Callable[[DataFrame], DataFrame]
    partition_by: tuple[str, ...] = ()
    scope: str | None = None
    keep_latest: int = 0

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Write ``df`` as batch ``batch_id``'s partial, replacing only it."""
        scope = (self.scope,) if self.scope else ()
        FileBatchLedger.write_partial(df, self.path, batch_id, scope + self.partition_by)

    def read(
        self, spark: SparkSession, exclude_batch: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame | None:
        """The resolved table, or None before the first write;
        ``exclude_batch`` reads it as-of before that batch."""
        df = FileBatchLedger.read_partials(spark, self.path, exclude_batch, schema)
        return None if df is None else self.reduce(df)

    def compact(
        self, spark: SparkSession, is_committed, keep_latest: int | None = None,
        schema: StructType | None = None,
    ) -> None:
        """Fold the committed partials into one partition with ``reduce``
        (``compact_additive_store``); ``read`` is unchanged."""
        compact_additive_store(
            spark, self.path, is_committed, self.reduce, list(self.partition_by),
            self.keep_latest if keep_latest is None else keep_latest, schema, self.scope,
        )


def overwrite_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Write ``df`` under ``path`` partitioned by ``cols``, replacing
    only the partitions ``df`` holds (dynamic overwrite)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


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
    (plus at worst a ``_old``/``_rewriting`` sibling, which ``recover``
    resolves before the next read or rewrite). Single-filesystem rename
    is atomic on POSIX; on an object store this maps to the same
    commit-by-rename contract the cloud committers provide."""
    tmp, old = recover(path)
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


def recover(path: str) -> tuple[str, str]:
    """Finish or undo an ``atomic_rewrite`` of ``path`` that a crash
    interrupted, and return its (``_rewriting``, ``_old``) sibling
    paths. A crash between the swap's two renames leaves no ``path``:
    the new copy is promoted when its write committed (``_SUCCESS``),
    else the old copy is restored. Only then are the siblings removed
    — removing them first would destroy both complete copies."""
    tmp, old = path + "_rewriting", path + "_old"
    if not os.path.isdir(path):
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, path)
        elif os.path.isdir(old):
            os.rename(old, path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return tmp, old


def partial_sizes(path: str) -> dict[tuple[str, ...], int]:
    """Data bytes per leaf partition directory of ``path``, keyed by its
    partition values in directory order — ``("3", "ns0")`` for
    ``batch_id=3/ns=ns0`` — listed on the driver (no Spark job)."""
    out = {}
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if "=" in d and not d.startswith(("_", "."))]
        data = [f for f in files if not f.startswith(("_", "."))]
        if data and dirpath != path:
            rel = os.path.relpath(dirpath, path).split(os.sep)
            key = tuple(unquote(d.split("=", 1)[1]) for d in rel)
            out[key] = sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)
    return out


COMPACTED_BATCH_ID = -1  # negative: can never collide with a stream batch id


def compact_additive_store(
    spark, path: str, is_committed, aggregate,
    partition_by: list[str] | None = None,
    keep_latest: int = 0,
    schema: StructType | None = None,
    scope: str | None = None,
) -> None:
    """Compact a batch_id-partitioned store whose read-time resolution
    is associative (every ``PartialsTable.compact``, the four-table
    store's deltas through ``fold_deltas`` included): fold every COMMITTED batch
    partition — plus any previous compaction output (batch_id < 0) —
    into one aggregated partition under ``COMPACTED_BATCH_ID``,
    preserving uncommitted partitions raw. State size becomes keys +
    in-flight batches instead of keys × batches, and every read-time
    resolution (which already aggregates across partitions) is
    unchanged by construction.

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

    ``scope`` names a sub-partition column that identifies a partial
    together with its batch id (the four-table store's ledger
    namespace): the commit test is then ``is_committed(batch_id,
    scope_value)`` and the compacted partition's scope is null. A given
    ``schema`` (partition columns included) replaces the footer job
    that would infer it; the partitions are listed on the driver.
    A store with no partials is left as it is.
    """
    recover(path)
    if not has_rows(path):
        return
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    cols = ["batch_id"] + ([scope] if scope else [])
    units = sorted({k[:len(cols)] for k in partial_sizes(path)}, key=lambda k: int(k[0]))
    done = [k for k in units if int(k[0]) >= 0 and is_committed(int(k[0]), *k[1:])]
    kept = set(done[-keep_latest:]) if keep_latest > 0 else set()
    is_raw = F.lit(False)
    for k in units:
        if int(k[0]) >= 0 and (k not in done or k in kept):
            match = F.col("batch_id") == int(k[0])
            if scope:
                match = match & (F.col(scope) == k[1])
            is_raw = is_raw | match
    compacted = aggregate(df.filter(~is_raw)).withColumn(
        "batch_id", F.lit(COMPACTED_BATCH_ID).cast("long")
    )
    if scope:
        compacted = compacted.withColumn(scope, F.lit(None).cast("string"))
    # repartition_by_cols=False: the compacted value is ONE partition —
    # repartitioning by it would funnel the whole folded state through
    # one task into one file (measured: post-compaction reads slower
    # than the fan-out they replaced); the aggregate's own hash
    # partitioning writes parallel, splittable files instead.
    # partition_by extends the layout with sub-partition columns a
    # store prunes on at read time (e.g. the postings term buckets).
    atomic_rewrite(
        compacted.unionByName(df.filter(is_raw)),
        path,
        partition_by=cols + (partition_by or []),
        repartition_by_cols=False,
    )


# A delta store folds once its committed deltas hold as many bytes as
# its snapshot, or once this many committed deltas wait, whichever
# comes first: a bound on the files a read opens, fixed by the layout.
MAX_DELTAS = 16


def fold_deltas(
    spark: SparkSession, table: PartialsTable, schema: StructType, is_committed,
) -> bool:
    """Fold the committed per-batch deltas of a delta store into its
    snapshot; True when it folded.

    ``table`` holds one delta per (``batch_id``, ``table.scope``)
    partition plus a snapshot partition (``COMPACTED_BATCH_ID``, null
    scope); its ``reduce`` must be associative and idempotent. The fold
    is ``table.compact``. It runs when the committed deltas' bytes
    reach the snapshot's, or when ``MAX_DELTAS`` of them wait, and
    never over a lone delta. Deciding lists the partitions on the
    driver and runs no Spark job; folding reads with ``schema``, so it
    runs no footer or listing job."""
    recover(table.path)
    sizes = partial_sizes(table.path)
    snapshot = sum(n for k, n in sizes.items() if int(k[0]) < 0)
    done = [k for k in sizes if int(k[0]) >= 0 and is_committed(int(k[0]), k[1])]
    if len(done) + (snapshot > 0) < 2 or (
        sum(sizes[k] for k in done) < snapshot and len(done) < MAX_DELTAS
    ):
        return False
    table.compact(spark, is_committed, schema=schema)
    return True
