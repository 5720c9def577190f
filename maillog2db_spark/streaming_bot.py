"""Streaming dual of ``ev_bot_score``: incremental bot/automation
scoring — the traffic-cleaning flag a pipeline refreshes on every
event drop instead of rescanning history.

The batch operator's per-user statistics are GAP MOMENTS
(n, Σgap, Σgap², fast-count), and gaps partition exactly into
within-batch gaps plus ONE boundary gap per consecutive batch pair
per user. So the store persists each micro-batch's own per-user
partial — within-batch moments plus the batch's first/last event
timestamp — under its batch_id partition (dynamic overwrite + ledger,
ST5), and resolution merges moments and injects the boundary gaps
with a window over the PARTIALS table (user × batches grain, never
event grain):

    bot_score(after any prefix of batches)
      ≡ ev_bot_score over the union of those batches

through the shared ``operators.windows.bot_score_from`` core (tested,
including fresh-checkpoint rerun and crash-window replay).

Contract — time-ordered batches, ENFORCED: the decomposition is only
exact if batches arrive in event-time order (a batch interleaving its
events between two committed batches' events would need gaps the
store can no longer see). Ingest therefore raises when an incoming
batch's earliest event precedes the latest committed event (ties are
fine: equal-timestamp events contribute zero gaps in every ordering,
so tie-splits across batches leave the gap multiset unchanged — the
same argument as the batch op's (ts, event_id) tie-break). The check
is two 1-row aggregates; a replayed crash-window batch excludes its
own written partition from the check (the triangles-store pattern).

Beyond equivalence, the streaming form adds what batch cannot:
``flagged_in_batch`` — which of THIS drop's users the accumulated
profile now flags, at admission time.

Scale shape per batch: one user-keyed shuffle over the batch (the
within-batch lag window + rollup share the exchange) and one 1-row
max-timestamp probe of the store. State is users × batches rows
until ``store.gap_partials.compact`` folds committed batches into ONE
merged partial per user — the gap-moment merge is associative over
time-adjacent partials (moments add + one boundary gap per adjacent
pair; endpoints compose), so the fold is exact and the store's only
unbounded-growth axis closes.

Reference parity note: the reference engine (maillog2db.go) has no
event-analytics surface; this module belongs to the engine's
training-data-pipeline extension mandate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger, PartialsTable
from .operators.windows import BOT_FAST_GAP_S, bot_score_from


def _fold(df: DataFrame) -> DataFrame:
    """Merge any time-prefix of gap partials into ONE partial per user:
    the gap-moment merge is ASSOCIATIVE over time-adjacent partials —
    moments add, one boundary gap (a window over the partials, user ×
    batches grain) joins each adjacent pair, and the endpoints compose
    as (left.first, right.last) — so the folded row is itself a valid
    partial, and a later fold injects the single remaining boundary
    (compacted.last -> next batch.first) through the ordinary batch_id
    window (the compacted id is negative, so it sorts first)."""
    z = F.lit(0).cast("bigint")
    sums = df.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("n_gaps").alias("w_gaps"),
        F.sum("sg").alias("w_sg"),
        F.sum("sgg").alias("w_sgg"),
        F.sum("n_fast").alias("w_fast"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )
    boundary = (
        df.select(
            "user_id",
            F.expr(
                "CAST((first_us - lag(last_us) OVER "
                "(PARTITION BY user_id ORDER BY batch_id)) div 1000000"
                " AS BIGINT)"
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("b_gaps"),
            F.sum("gap_s").alias("b_sg"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("b_sgg"),
            F.sum(
                F.when(F.col("gap_s") < BOT_FAST_GAP_S, 1).otherwise(0)
            ).alias("b_fast"),
        )
    )
    # within-batch moments are NULL for 1-event batches (sum over no
    # gaps); totals must treat them as 0 once ANY gap exists
    return sums.join(boundary, "user_id", "left").select(
        "user_id",
        "n_events",
        (F.col("w_gaps") + F.coalesce("b_gaps", z)).alias("n_gaps"),
        (F.coalesce("w_sg", z) + F.coalesce("b_sg", z)).alias("sg"),
        (F.coalesce("w_sgg", z) + F.coalesce("b_sgg", z)).alias("sgg"),
        (F.coalesce("w_fast", z) + F.coalesce("b_fast", z)).alias("n_fast"),
        "first_us",
        "last_us",
    )


class BotStore(FileBatchLedger):
    """``gap_partials``: batch_id-partitioned per-user gap-moment
    partials, resolved (and compacted) by ``_fold``. Compaction keeps
    in-flight batches raw (their crash-window re-ingest still
    overwrites exactly their partition), and ``keep_latest`` the
    newest N committed ones — the foldable set is always a time-PREFIX,
    which is what makes the boundary fold exact. The time-ordered check
    reads max(last_us) over ALL partials, compacted included."""

    def __init__(self, root: str):
        self.root = root
        self.gap_partials = PartialsTable(os.path.join(root, "gap_partials"), _fold)


def _batch_partial(batch_events: DataFrame) -> DataFrame:
    """Per-user within-batch gap moments + the batch's first/last
    event microsecond per user (one user-keyed shuffle)."""
    rows = batch_events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.expr(
            "CAST((unix_micros(ts) - lag(unix_micros(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id)) div 1000000"
            " AS BIGINT)"
        ).alias("gap_s"),
    )
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_s").alias("n_gaps"),
        F.sum("gap_s").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
        F.sum(
            F.when(F.col("gap_s") < BOT_FAST_GAP_S, 1).otherwise(0)
        ).alias("n_fast"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
    )


def bot_ingest_batch(
    spark: SparkSession, batch_events: DataFrame, store: BotStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    partial = _batch_partial(batch_events).localCheckpoint(eager=False)  # r10: lazy - the write/first agg materializes it
    # time-ordered-batches contract (see module doc): earliest incoming
    # event must not precede the latest committed event; the replaying
    # batch's own crash-window partition is excluded
    committed = store.read_partials(spark, store.gap_partials.path, exclude_batch=batch_id)
    if committed is not None:
        prev_max = committed.agg(F.max("last_us")).collect()[0][0]
        batch_min = partial.agg(F.min("first_us")).collect()[0][0]
        if (
            prev_max is not None
            and batch_min is not None
            and batch_min < prev_max
        ):
            raise ValueError(
                "time-ordered-batches contract violated: batch "
                f"{batch_id} starts at {batch_min} us, before the "
                f"latest committed event at {prev_max} us — gaps "
                "spanning an interleaved batch are unrecoverable"
            )
    store.gap_partials.write(partial.repartition(1), batch_id)
    store.mark_committed(batch_id)


def _resolved_moments(spark: SparkSession, store: BotStore) -> DataFrame:
    """Per-user total gap moments = Σ within-batch partials + the
    boundary gaps between time-consecutive batches of that user."""
    p = store.gap_partials.read(spark)
    if p is None:
        raise ValueError("no batches ingested yet (gap partials)")
    return p.drop("first_us", "last_us")


def bot_score(spark: SparkSession, store: BotStore) -> DataFrame:
    """≡ ``ev_bot_score`` over the union of all ingested batches
    (shared scoring core over the merged moments)."""
    return bot_score_from(_resolved_moments(spark, store))


def flagged_in_batch(
    spark: SparkSession, batch_events: DataFrame, store: BotStore
) -> DataFrame:
    """Admission-time view: the incoming drop's users whose
    ACCUMULATED profile is currently flagged — the batch can be
    quarantined before its content enters a corpus."""
    users = batch_events.select("user_id").distinct()
    return bot_score(spark, store).join(users, "user_id").filter(
        F.col("is_bot")
    )

