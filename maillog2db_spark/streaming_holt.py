"""Streaming dual of ``ord_revenue_holt``: incremental trend-aware
revenue nowcasting — the forecast a pipeline refreshes on every order
drop instead of rescanning history.

Holt's recursion is sequential over MONTHS, but its input — the
monthly cents totals — is additive across batches. So the streaming
form persists each micro-batch's OWN (month, rev_cents) partial under
its batch_id partition (dynamic overwrite + ledger: a replayed batch
rewrites exactly its partition, ST5), resolves the monthly table by
summation at read time, and runs the IDENTICAL shared fold
(``operators.windows.holt_from_monthly``) over it:

    holt(after any prefix of batches)
      ≡ ord_revenue_holt over the union of those batches

(tested, including fresh-checkpoint rerun and a crash-window replay).
Late rows for a PAST month are handled by construction — they only
add cents to that month's sum, and the fold recomputes from the
resolved table, so there is no frozen-state staleness to invalidate.

Beyond equivalence, the streaming form adds the thing batch cannot:
``nowcast()`` — the one-step-ahead forecast level+trend from the
latest fitted state, i.e. "next month's expected revenue given
everything ingested so far".

Scale shape per batch: one map-side-combined groupBy(month) over the
batch; state is months × batches rows (calendar-bounded × batch
count) until ``store.monthly.compact`` sums them into one partition.
The fold itself is array arithmetic over the ≤ date-span-months
resolved table — bounded, never data-proportional.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable
from .operators.windows import holt_from_monthly


class HoltStore(FileBatchLedger):
    """``monthly``: batch_id-partitioned (month, rev_cents) partial
    sums, resolved (and compacted) by summation."""

    def __init__(self, root: str):
        self.root = root
        self.monthly = PartialsTable(
            os.path.join(root, "monthly"),
            lambda df: df.groupBy("month").agg(
                F.sum("rev_cents").cast("bigint").alias("rev_cents")
            ),
        )


def holt_ingest_batch(
    spark: SparkSession, batch_orders: DataFrame, store: HoltStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    partial = batch_orders.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents")
    )
    # r10: lazy checkpoint - the write/first agg materializes it
    store.monthly.write(partial.localCheckpoint(eager=False).repartition(1), batch_id)
    store.mark_committed(batch_id)


def holt(spark: SparkSession, store: HoltStore) -> DataFrame:
    """Accumulated Holt fit — equal to ``ord_revenue_holt`` over the
    union of all ingested batches (shared fold, shared input shape)."""
    monthly = store.monthly.read(spark)
    if monthly is None:
        raise ValueError("no batches ingested yet")
    return holt_from_monthly(monthly)


def nowcast(spark: SparkSession, store: HoltStore) -> tuple[str, int]:
    """One-step-ahead forecast: (last_fitted_month, forecast_ppm) where
    forecast = level + trend of the final fitted state — the streaming
    query batch can't answer without a rescan. ppm of dollars, same
    grid as the fit columns."""
    last = holt(spark, store).orderBy(F.col("month").desc()).limit(1).collect()[0]
    return last.month, int(last.level_ppm + last.trend_ppm)


def seasonal(spark: SparkSession, store: HoltStore) -> DataFrame:
    """Seasonal decomposition over the accumulated monthly store —
    equal to ``ord_seasonal_index`` over the union of all ingested
    batches (shared ``seasonal_from_monthly`` core; the additive
    monthly partials resolve first, so late backfills of an existing
    month flow into the MA like a batch rerun would)."""
    from .operators.windows import seasonal_from_monthly

    monthly = store.monthly.read(spark)
    if monthly is None:
        raise ValueError("no batches ingested yet")
    return seasonal_from_monthly(monthly)
