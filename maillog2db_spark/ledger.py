"""Filesystem batch-commit ledger plus the one state discipline shared
by every persisted streaming store (ST5 effectively-once): per-batch
partials.

One marker file per committed batch id under ``<root>/_ledger``; a
replayed ``foreachBatch`` delivery checks ``committed()`` first and
skips work it already finished. The marker is written LAST, after all
of the batch's state merges — so a crash anywhere inside the commit
window replays the batch, and each store's merges are themselves
idempotent, making replay converge; the marker and its directory are
fsynced. ``committed``, ``mark_committed`` and ``max_committed`` take
an optional trailing scope path: ``committed(batch_id, ns)`` checks
``<root>/_ledger/<ns>/<batch_id>`` — the four-table store keys its one
marker per batch by checkpoint identity (batch ids restart at 0 under
a fresh checkpoint).

A store declares each of its tables ONCE, as a
``PartialsTable(path, reduce, partition_by=())``, and reads, writes
and compacts it through that declaration:

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
declares ``keep_batch_id`` and is never compacted. A top-k table's
reduce re-ranks the union of its partials (top-k is a mergeable
monoid), so a batch writes only its own top-k and reads nothing back;
compacting after each commit keeps the state at k rows. Frozen state
(a model, a registered query set) is a ``drop_batch_id`` table written
once, as batch 0. ``has_rows(path)`` is the "store has data" test,
and so the "frozen" test: the directory holds a non-hidden entry
(Spark's ``_SUCCESS`` and ``.crc`` files do not count), and a
dynamic-overwrite write keeps its output in a hidden
``.spark-staging`` directory until the partition is renamed in, so a
failed or crashed write never reads as written. The write sets no file count: a store that wants one file
per batch partition passes ``df.repartition(1)`` itself. ``write``
and ``read`` run on ``FileBatchLedger.write_partial`` and
``read_partials``; a reader that needs one table's unreduced partials
calls ``read_partials`` on the table's ``path``. ``drop_partials``
deletes partitions no reader reads again (the attribution clicks
behind their window) on the driver, with no rewrite.

Compaction rewrites a store directory through ``atomic_rewrite``, the
crash-safe swap (temp directory, completion marker, two renames);
``recover(path)`` finishes or undoes a swap a crash interrupted. Every
read and write of a partials table runs it first, and so does
``atomic_rewrite``, so an interrupted compaction never reads as an
empty store.

``fold_deltas`` is the one compaction rule: a store calls it after
each batch's mark, and it folds once ``MAX_DELTAS`` committed partials
wait, so a read opens at most ``MAX_DELTAS`` + 1 batch partitions. The
four-table store passes its own fold (line deltas into four
snapshots). Namespaces are ordered by ``epoch(ns)``, a number each
namespace gets when it first writes: a store's newer run always orders
after its older ones, whatever their batch ids.
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
        """Write the batch's marker and fsync it and its directory, so a
        commit the caller saw return survives a machine crash."""
        p = self._ledger(batch_id, *scope)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            os.fsync(f.fileno())
        d = os.open(os.path.dirname(p), os.O_RDONLY)
        try:
            os.fsync(d)
        finally:
            os.close(d)

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
        ``epoch`` beside the namespace's batch markers). Orders a
        store's namespaces by first write, whatever their batch ids."""
        p = Path(self.root, "_ledger", ns, "epoch")
        if not p.exists():
            p.parent.mkdir(parents=True, exist_ok=True)
            tmp = p.with_suffix(".tmp")
            tmp.write_text(str(1 + max(self.epochs().values(), default=0)))
            tmp.replace(p)
        return int(p.read_text())

    def epochs(self) -> dict[str, int]:
        """Every namespace's epoch, by namespace."""
        return {q.parent.name: int(q.read_text())
                for q in Path(self.root, "_ledger").glob("*/epoch")}

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
    ``is_committed(batch_id, scope_value)``, and its store folds it
    (``fold_deltas``), not ``compact``. ``keep_latest`` is the
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

    def compact(self, spark: SparkSession, is_committed, keep_latest: int | None = None) -> None:
        """Fold the committed partials into one partition with ``reduce``
        (``compact_additive_store``); ``read`` is unchanged."""
        compact_additive_store(
            spark, self.path, is_committed, self.reduce, list(self.partition_by),
            self.keep_latest if keep_latest is None else keep_latest,
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


def atomic_rewrite(path: str, write: Callable[[str], None]) -> None:
    """Rewrite a store directory from plans that READ that same
    directory, crash-safely: ``write(tmp)`` materializes the new copy
    in a sibling temp dir (in as many write jobs as it likes), a
    ``_SUCCESS`` marker then records it complete, and two ``os.rename``
    calls swap it in. An in-place overwrite of a directory the plan
    reads loses the only durable copy if the job dies between Spark
    clearing the target and committing the new files; after the swap a
    crash at any point leaves the complete old or the complete new
    directory (plus at worst a ``_old``/``_rewriting`` sibling, which
    ``recover`` resolves). Single-filesystem rename is atomic on POSIX;
    on an object store this maps to the cloud committers'
    commit-by-rename contract."""
    tmp, old = recover(path)
    write(tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def recover(path: str) -> tuple[str, str]:
    """Finish or undo an ``atomic_rewrite`` of ``path`` that a crash
    interrupted, and return its (``_rewriting``, ``_old``) sibling
    paths. A crash between the swap's two renames leaves no ``path``:
    the new copy is promoted when it is complete (``_SUCCESS``),
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


def _leaf_partitions(path: str):
    """(directory, partition values, data bytes) of every leaf
    partition directory of ``path`` that holds data files."""
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if "=" in d and not d.startswith(("_", "."))]
        data = [f for f in files if not f.startswith(("_", "."))]
        if data and dirpath != path:
            rel = os.path.relpath(dirpath, path).split(os.sep)
            key = tuple(unquote(d.split("=", 1)[1]) for d in rel)
            yield dirpath, key, sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)


def partial_sizes(path: str) -> dict[tuple[str, ...], int]:
    """Data bytes per leaf partition directory of ``path``, keyed by its
    partition values in directory order — ``("3", "ns0")`` for
    ``batch_id=3/ns=ns0`` — listed on the driver (no Spark job)."""
    return {key: n for _, key, n in _leaf_partitions(path)}


def drop_partials(path: str, dead: Callable[[tuple[str, ...]], bool]) -> None:
    """Delete every leaf partition of ``path`` whose ``partial_sizes``
    key is ``dead``, then each parent directory that holds nothing
    else — listed and deleted on the driver (no Spark job). A crash
    part-way leaves only ``dead`` partitions, which the next call
    deletes; a reader that never reads them sees no difference."""
    for leaf, key, _ in list(_leaf_partitions(path)):
        if dead(key):
            shutil.rmtree(leaf)
            rel = os.path.relpath(leaf, path).split(os.sep)
            for n in range(len(rel) - 1, 0, -1):
                parent = os.path.join(path, *rel[:n])
                if has_rows(parent):
                    break
                shutil.rmtree(parent)


COMPACTED_BATCH_ID = -1  # negative: can never collide with a stream batch id


def compact_additive_store(
    spark, path: str, is_committed, aggregate,
    partition_by: list[str] | None = None,
    keep_latest: int = 0,
) -> None:
    """Compact a batch_id-partitioned store whose read-time resolution
    is associative (every ``PartialsTable.compact``): fold every COMMITTED batch
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
    folded rows WITHOUT it. A store with no partials is left as it is.
    """
    recover(path)
    if not has_rows(path):
        return
    df = spark.read.parquet(path)
    ids = sorted({int(k[0]) for k in partial_sizes(path)})
    done = [b for b in ids if b >= 0 and is_committed(b)]
    kept = set(done[-keep_latest:]) if keep_latest > 0 else set()
    raw = [b for b in ids if b >= 0 and (b not in done or b in kept)]
    is_raw = F.col("batch_id").isin(raw) if raw else F.lit(False)
    compacted = aggregate(df.filter(~is_raw)).withColumn(
        "batch_id", F.lit(COMPACTED_BATCH_ID).cast("long")
    )
    # partition_by adds sub-partition columns a store prunes on (e.g.
    # the postings term buckets). The write keeps the plan's own
    # partitioning: repartitioning BY the partition columns once put a
    # 14M-row compacted partition in one file.
    out = compacted.unionByName(df.filter(is_raw))
    atomic_rewrite(path, lambda tmp: out.write.mode("overwrite")
                   .partitionBy("batch_id", *(partition_by or [])).parquet(tmp))


# A per-batch partials table folds once this many committed partials
# wait beside its compacted partition: a bound on the partitions a read
# opens, fixed by the layout.
MAX_DELTAS = 16


def fold_deltas(
    spark: SparkSession, table: PartialsTable, is_committed,
    fold: Callable[[], None] | None = None,
) -> bool:
    """The one compaction rule of a per-batch partials table: once
    ``MAX_DELTAS`` committed partials wait (the compacted partition and
    uncommitted partials do not count), run ``fold`` (default
    ``table.compact``); True when it folded. Deciding lists the
    partitions on the driver and runs no Spark job."""
    n = 2 if table.scope else 1
    waiting = {k[:n] for k in partial_sizes(table.path)
               if int(k[0]) >= 0 and is_committed(int(k[0]), *k[1:n])}
    if len(waiting) < MAX_DELTAS:
        return False
    if fold is None:
        table.compact(spark, is_committed)
    else:
        fold()
    return True
