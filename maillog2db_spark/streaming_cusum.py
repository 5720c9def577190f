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
batch; state is days × batches rows (calendar-bounded × batch count)
until ``store.daily.compact`` folds them, since the resolve is a
plain sum. The chart itself runs on the <= date-span daily grid.

Reference parity note: the reference engine (maillog2db.go) has no
event-analytics surface; this module belongs to the engine's
training-data-pipeline extension mandate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable
from .operators.windows import cusum_from_daily


class CusumStore(FileBatchLedger):
    """``daily``: batch_id-partitioned (day, n_events) partial counts,
    resolved (and compacted) by summation."""

    def __init__(self, root: str):
        self.root = root
        self.daily = PartialsTable(
            os.path.join(root, "daily"),
            lambda df: df.groupBy("day").agg(
                F.sum("n_events").cast("bigint").alias("n_events")
            ),
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
    store.daily.write(partial.localCheckpoint(eager=False).repartition(1), batch_id)
    store.mark_committed(batch_id)


def cusum(spark: SparkSession, store: CusumStore) -> DataFrame:
    """≡ ``ev_changepoint_cusum`` over the union of all ingested
    batches (shared closed-form windows, shared input shape)."""
    daily = store.daily.read(spark)
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

