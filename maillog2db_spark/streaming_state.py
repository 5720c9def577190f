"""Streaming-native per-key state: queueid assembly as a stateful
operator (SURVEY §2.7 ST4, the fidelity-upgrade path).

The foreachBatch path (streaming.py) keeps message state in the sink
table itself — closest to the reference, which keeps state in MySQL
(maillog2db.go:332-393). This module is the alternative where state
lives in Spark's state store: ``applyInPandasWithState`` keyed on
queueid, each event type overwriting only its own field group,
last-writer-wins by an explicit ordering column. Update-mode output
emits the merged row for every queueid touched in a trigger.

State TTL: the reference grows state forever (ST2). Pass a
``ttl_minutes`` to bound it (processing-time timeout — expired queueids
are dropped, their final row emitted); ``None`` replicates the
reference's unbounded behavior.

Scale: state is per-queueid (a short struct), partitioned by the
groupBy key across executors and checkpointed via the state store
(RocksDB in production) — bounded memory per executor, linear scan per
trigger, no shuffle beyond the keyed exchange.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("message_queueid", StringType()),
        StructField("message_timestamp", TimestampType()),
        StructField("message_mailhost", StringType()),
        StructField("message_from", StringType()),
        StructField("message_size", StringType()),
        StructField("message_nrcpt", StringType()),
        StructField("message_statusext", StringType()),
        StructField("message_client", StringType()),
        StructField("message_id", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("message_timestamp", TimestampType()),
        StructField("message_mailhost", StringType()),
        StructField("message_from", StringType()),
        StructField("message_size", StringType()),
        StructField("message_nrcpt", StringType()),
        StructField("message_statusext", StringType()),
        StructField("message_client", StringType()),
        StructField("message_id", StringType()),
        StructField("qmgr_seq", LongType()),
        StructField("smtpd_seq", LongType()),
        StructField("cleanup_seq", LongType()),
    ]
)

_EMPTY = (None,) * 8 + (-1, -1, -1)


def _assemble(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Fold this trigger's events for one queueid into the group state.

    Replicates recordMessageEntry / recordMessageClientEntry /
    recordMessageMessageIdEntry (maillog2db.go:332-393): each event type
    overwrites its own field group iff its ordering value exceeds the
    group's stored one.
    """
    if state.hasTimedOut:
        row = state.get if state.exists else _EMPTY
        state.remove()
        yield pd.DataFrame([(key[0],) + tuple(row[:8])], columns=OUTPUT_SCHEMA.names)
        return

    s = list(state.get) if state.exists else list(_EMPTY)
    for pdf in pdfs:
        for r in pdf.sort_values("seq").itertuples(index=False):
            seq = int(r.seq)
            if r.entry_type == "qmgr" and seq > s[8]:
                # slots: ts, mailhost, from, size, nrcpt, statusext
                s[0], s[1], s[2] = r.ts, r.mailhost, r.from_raw
                s[3], s[4], s[5] = r.size_raw, r.nrcpt_raw, r.statusext_raw
                s[8] = seq
            elif r.entry_type == "smtpd" and seq > s[9]:
                s[6] = r.client_raw
                s[9] = seq
            elif r.entry_type == "cleanup" and seq > s[10]:
                s[7] = r.message_id_raw
                s[10] = seq
    state.update(tuple(s))
    yield pd.DataFrame([(key[0],) + tuple(s[:8])], columns=OUTPUT_SCHEMA.names)


def messages_stateful(
    events: DataFrame, ttl_minutes: int | None = None
) -> DataFrame:
    """events = tables.message_events(parsed) (batch or streaming).
    Returns the continuously-merged messages stream (update semantics:
    one row per touched queueid per trigger)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if ttl_minutes is not None and not state.hasTimedOut:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield from _assemble(key, pdfs, state)

    return events.groupBy("queueid").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )
