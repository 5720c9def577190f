"""Streaming dual of ``ev_changepoint_cusum``: incremental rate-shift
monitoring — the changepoint chart a pipeline refreshes on every event
drop instead of rescanning history.

The CUSUM recursion is sequential over DAYS, but its input — the daily
event counts — is additive across batches (the streaming_holt framing,
day grain instead of month grain). The store persists each
micro-batch's own (day, n_events) partial under its batch_id partition
(dynamic overwrite + ledger, ST5), resolves the daily table by
summation at read time, and runs the IDENTICAL shared closed-form
windows (``operators.windows.cusum_from_daily``):

    cusum(after any prefix of batches)
      ≡ ev_changepoint_cusum over the union of those batches

(tested, including fresh-checkpoint rerun and crash-window replay).
Late rows for a PAST day are handled by construction — they only add
counts to that day's sum, and the chart recomputes from the resolved
grid, so there is no frozen-state staleness. Note the phase-I
reference mean is the earliest quarter of OBSERVED days, so it too
re-resolves as the horizon grows — exactly the batch semantics.

Beyond equivalence, the streaming form adds the admission-time view:
``alarm_state()`` — whether the chart is currently in alarm (the
latest day's flags), the signal an ingest controller would gate on.

Scale shape per batch: one map-side-combined groupBy(day) over the
batch; state is days × batches rows (calendar-bounded × batch count),
compactable via ``ledger.compact_additive_store`` since the resolve
is a plain sum. The chart itself runs on the <= date-span daily grid.

Reference parity note: the reference engine (maillog2db.go) has no
event-analytics surface; this module belongs to the engine's
training-data-pipeline extension mandate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.windows import cusum_from_daily
from .streaming_util import start_foreach_batch_stream


class CusumStore(FileBatchLedger):
    """batch_id-partitioned (day, n_events) partial counts."""

    def __init__(self, root: str):
        self.root = root

    @property
    def path(self) -> str:
        return os.path.join(self.root, "daily")

    def daily(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Resolved (day, n_events) grid; ``exclude_batch`` reads the
        state as-of before that batch (the replay view)."""
        df = self.read_partials(spark, self.path, exclude_batch)
        if df is None:
            return None
        return df.groupBy("day").agg(
            F.sum("n_events").cast("bigint").alias("n_events")
        )


def cusum_ingest_batch(
    spark: SparkSession, batch_events: DataFrame, store: CusumStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    partial = batch_events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # r10: lazy checkpoint - the write/first agg materializes it
    store.write_partial(
        partial.localCheckpoint(eager=False).repartition(1), store.path, batch_id
    )
    store.mark_committed(batch_id)


def cusum(spark: SparkSession, store: CusumStore) -> DataFrame:
    """≡ ``ev_changepoint_cusum`` over the union of all ingested
    batches (shared closed-form windows, shared input shape)."""
    daily = store.daily(spark)
    if daily is None:
        raise ValueError("no batches ingested yet (daily counts)")
    return cusum_from_daily(daily)


def alarm_state(spark: SparkSession, store: CusumStore):
    """(last_day, shift_up, shift_down) of the latest chart row — the
    admission-time signal an ingest controller gates on."""
    last = (
        cusum(spark, store).orderBy(F.col("day").desc()).limit(1).collect()[0]
    )
    return last.day, bool(last.shift_up), bool(last.shift_down)


def start_cusum_stream(
    spark: SparkSession,
    events_dir: str,
    store: CusumStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of event parquet drops and maintain the
    daily-count partials incrementally."""
    return start_foreach_batch_stream(
        spark, events_dir,
        lambda s, df, bid: cusum_ingest_batch(s, df, store, bid),
        checkpoint_dir, "cusum_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def compact_daily(spark: SparkSession, store: CusumStore) -> None:
    """Fold committed batch partials into one summed partition
    (``ledger.compact_additive_store`` — atomic, replay-safe, negative
    partition id): state becomes days instead of days × batches."""
    from .ledger import compact_additive_store

    compact_additive_store(
        spark,
        store.path,
        store.committed,
        lambda df: df.groupBy("day").agg(
            F.sum("n_events").cast("bigint").alias("n_events")
        ),
    )
