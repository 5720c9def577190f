"""The four reference tables as set-oriented, shuffle-based Spark plans.

The reference maintains each table with a per-line SELECT-then-upsert
loop (maillog2db.go:283-442) — O(n²) full-table-scan dedup, safe only
because it is single-threaded. Here each table is ONE declarative plan:

  logs        append + exact-dup suppression over all 5 payload cols
              (maillog2db.go:283-306)        → dropDuplicates
  clients     entity tracking keyed (client, rdns, addr); lastseen
              refreshed per re-occurrence (maillog2db.go:308-330)
              → groupBy + max_by(ts, seq)
  messages    one row per queueid, per-event-type last-writer-wins
              (maillog2db.go:332-393)        → groupBy + max_by per field
  deliveries  append + exact-dup suppression over all 9 payload cols
              (maillog2db.go:395-442)        → dropDuplicates

Ordering: the reference relies on strict in-file order (single thread)
for last-writer-wins. Spark has no intra-partition arrival order, so
every builder takes the explicit ``seq`` total-order column produced by
``parsing.parse_lines`` and resolves "last" as ``max_by(value, seq)`` —
deterministic and scale-safe (SURVEY §2.7 ST6, the one silent-corruption
risk in a naive translation).

Scale notes: each builder is a single hash-aggregate / hash-distinct on
its natural key — one shuffle, map-side partial aggregation, no windows,
no driver-side loops. At 100 TB the shuffle keys (queueid, client
triple, full-row hash) are high-cardinality and un-skewed by nature;
AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import parsing

LOG_PAYLOAD_COLS = ["log_timestamp", "log_mailhost", "log_process", "log_processid", "log_message"]
DELIVERY_PAYLOAD_COLS = [
    "delivery_timestamp",
    "delivery_queueid",
    "delivery_to",
    "delivery_relay",
    "delivery_delay",
    "delivery_delays",
    "delivery_dsn",
    "delivery_status",
    "delivery_statusext",
]

# each table's natural key: the exact-dup key of logs and deliveries,
# the entity key of clients and messages (the reference's upsert
# WHERE-conjunction columns)
TABLE_KEYS: dict[str, list[str]] = {
    "logs": LOG_PAYLOAD_COLS,
    "clients": ["client", "client_rdns", "client_addr"],
    "messages": ["message_queueid"],
    "deliveries": DELIVERY_PAYLOAD_COLS,
}


def _last_by_seq(col: str, when=None):
    """Last-writer-wins: value at the max seq (optionally among rows
    matching ``when``). max_by ignores rows whose ordering expr is NULL,
    so gating the *ordering* side implements "last among type X"."""
    order = F.col("seq") if when is None else F.when(when, F.col("seq"))
    return F.max_by(F.col(col), order)


def build_logs(parsed: DataFrame) -> DataFrame:
    """Raw-log table: every admitted line, exact duplicates suppressed
    across all five payload columns (timestamps at different seconds are
    distinct rows — history preserved). Reference: maillog2db.go:283-306."""
    return (
        parsed.select(
            F.col("ts").alias("log_timestamp"),
            F.col("mailhost").alias("log_mailhost"),
            F.col("process").alias("log_process"),
            F.col("pid").alias("log_processid"),
            F.col("message").alias("log_message"),
        )
        .dropDuplicates(LOG_PAYLOAD_COLS)
    )


def build_clients(parsed: DataFrame) -> DataFrame:
    """Connecting-clients table keyed (client, client_rdns, client_addr);
    ``client_lastseen`` is the log timestamp of the latest occurrence in
    file order (the reference overwrites it on every re-occurrence,
    maillog2db.go:308-330 — under in-order processing that is the value
    from the max-seq row, NOT max(ts); replicated exactly via max_by)."""
    return build_clients_with_seq(parsed).drop("_lastseen_seq")


def build_clients_with_seq(parsed: DataFrame) -> DataFrame:
    """build_clients plus ``_lastseen_seq``, the seq of the row
    ``client_lastseen`` came from, which the streaming merge orders
    ``client_lastseen`` by across micro-batches."""
    smtpd = parsing.extract_smtpd(parsed)
    return (
        smtpd.groupBy(
            F.col("client_full").alias("client"),
            "client_rdns",
            "client_addr",
        )
        .agg(
            _last_by_seq("ts").alias("client_lastseen"),
            F.min("ts").alias("client_firstseen"),  # derived extra (not in reference payload)
            F.count(F.lit(1)).alias("client_seen_count"),  # derived extra
            F.max("seq").alias("_lastseen_seq"),
        )
    )


def build_messages(parsed: DataFrame) -> DataFrame:
    """Per-queueid message state — incremental full-outer merge of the
    smtpd / qmgr / cleanup event streams, each event type overwriting
    only its own field group, last writer (by seq) wins per group
    (maillog2db.go:332-393):

      qmgr    → message_timestamp, message_mailhost, message_from,
                message_size, message_nrcpt, message_statusext
      smtpd   → message_client (the RAW client string, suffix preserved —
                maillog2db.go:213)
      cleanup → message_id
    """
    return build_messages_with_seqs(parsed).drop("_qmgr_seq", "_smtpd_seq", "_cleanup_seq")


def message_events(parsed: DataFrame) -> DataFrame:
    """Per-row message-event projection (the shared input of the batch
    groupBy merge and the streaming stateful merge): smtpd/qmgr/cleanup
    rows with their per-type extracted fields, NULL outside their type."""
    m = F.col("message")
    et = F.col("entry_type")
    is_qmgr = et == parsing.ENTRY_QMGR
    is_smtpd = et == parsing.ENTRY_SMTPD
    is_cleanup = et == parsing.ENTRY_CLEANUP
    # per-group extracts (r11 A/B): the parsing.regex_groups single-pass
    # form measured ~60% slower here 3/3 interleaved pairings — these
    # 2-5-group patterns are cheap enough that the replace/split
    # machinery costs more than the matches it saves (the rewrite pays
    # only for the 8-group SMTP_RE, see parsing.extract_smtp)
    return parsed.filter(
        et.isin(parsing.ENTRY_SMTPD, parsing.ENTRY_QMGR, parsing.ENTRY_CLEANUP)
    ).select(
        "seq",
        "ts",
        "mailhost",
        "entry_type",
        F.when(is_smtpd, F.regexp_extract(m, parsing.SMTPD_RE, 1))
        .when(is_qmgr, F.regexp_extract(m, parsing.QMGR_RE, 1))
        .otherwise(F.regexp_extract(m, parsing.CLEANUP_RE, 1))
        .alias("queueid"),
        F.when(is_smtpd, F.regexp_extract(m, parsing.SMTPD_RE, 2)).alias("client_raw"),
        F.when(is_qmgr, F.regexp_extract(m, parsing.QMGR_RE, 2)).alias("from_raw"),
        F.when(is_qmgr, F.regexp_extract(m, parsing.QMGR_RE, 3)).alias("size_raw"),
        F.when(is_qmgr, F.regexp_extract(m, parsing.QMGR_RE, 4)).alias("nrcpt_raw"),
        F.when(is_qmgr, F.regexp_extract(m, parsing.QMGR_RE, 5)).alias("statusext_raw"),
        F.when(is_cleanup, F.regexp_extract(m, parsing.CLEANUP_RE, 2)).alias("message_id_raw"),
    )


def build_messages_with_seqs(parsed: DataFrame) -> DataFrame:
    """build_messages plus the per-event-type max seq columns
    (_qmgr_seq/_smtpd_seq/_cleanup_seq) the streaming merge needs to
    decide which side wins per field group across micro-batches."""
    et = F.col("entry_type")
    is_qmgr = et == parsing.ENTRY_QMGR
    is_smtpd = et == parsing.ENTRY_SMTPD
    is_cleanup = et == parsing.ENTRY_CLEANUP
    ml = message_events(parsed)
    return ml.groupBy(F.col("queueid").alias("message_queueid")).agg(
        _last_by_seq("ts", is_qmgr).alias("message_timestamp"),
        _last_by_seq("mailhost", is_qmgr).alias("message_mailhost"),
        _last_by_seq("from_raw", is_qmgr).alias("message_from"),
        _last_by_seq("size_raw", is_qmgr).alias("message_size"),
        _last_by_seq("nrcpt_raw", is_qmgr).alias("message_nrcpt"),
        _last_by_seq("statusext_raw", is_qmgr).alias("message_statusext"),
        _last_by_seq("client_raw", is_smtpd).alias("message_client"),
        _last_by_seq("message_id_raw", is_cleanup).alias("message_id"),
        F.max(F.when(is_qmgr, F.col("seq"))).alias("_qmgr_seq"),
        F.max(F.when(is_smtpd, F.col("seq"))).alias("_smtpd_seq"),
        F.max(F.when(is_cleanup, F.col("seq"))).alias("_cleanup_seq"),
    )


def build_deliveries(parsed: DataFrame) -> DataFrame:
    """Delivery-attempts table: one row per distinct attempt (dedup over
    all nine payload columns — retries at later timestamps remain
    distinct rows). Reference: maillog2db.go:395-442."""
    smtp = parsing.extract_smtp(parsed)
    return (
        smtp.select(
            F.col("ts").alias("delivery_timestamp"),
            F.col("queueid").alias("delivery_queueid"),
            F.col("to").alias("delivery_to"),
            F.col("relay").alias("delivery_relay"),
            F.col("delay").alias("delivery_delay"),
            F.col("delays").alias("delivery_delays"),
            F.col("dsn").alias("delivery_dsn"),
            F.col("status").alias("delivery_status"),
            F.col("statusext").alias("delivery_statusext"),
        )
        .dropDuplicates(DELIVERY_PAYLOAD_COLS)
    )


def with_delivery_typed_columns(deliveries: DataFrame) -> DataFrame:
    """Derived typed columns alongside (never replacing) the reference's
    raw strings (SURVEY §1.2): numeric delay, delays split to an array."""
    return deliveries.select(
        "*",
        F.col("delivery_delay").try_cast("double").alias("delivery_delay_sec"),
        F.transform(
            F.split(F.col("delivery_delays"), "/"),
            lambda x: x.try_cast("double"),
        ).alias("delivery_delays_arr"),
    )


def with_message_typed_columns(messages: DataFrame) -> DataFrame:
    return messages.select(
        "*",
        F.col("message_size").try_cast("bigint").alias("message_size_long"),
        F.col("message_nrcpt").try_cast("int").alias("message_nrcpt_int"),
    )
