"""Structured Streaming ingest: the reference's tail→classify→upsert loop.

The reference tails one maillog forever (maillog2db.go:168,180) and
upserts each line into four MySQL tables. Spark's file source is
file-granular, not append-granular (SURVEY §2.1 S1), so the streaming
contract here is the standard production shape: logrotate (or a shipper)
drops lexically-named files into a directory; ``readStream.text`` picks
each up exactly once (checkpointed — S3), and ``foreachBatch`` merges the
micro-batch into a parquet-backed state store with the exact same
builders the batch path uses (pipeline.py) — batch ≡ streaming by
construction.

Delivery guarantee (ST5): checkpointing makes the source exactly-once,
and so is the sink. Each table's batch delta is keyed by (ledger
namespace, batch id) — the namespace is the checkpoint's identity, the
query id Spark writes once to ``<checkpoint>/metadata``, as batch ids
restart at 0 under a fresh checkpoint; a checkpoint deleted and
recreated at the same path is a new namespace, so its batches are not
mistaken for the old run's — and a per-table ledger mark
(``FileBatchLedger`` markers at
``<root>/_ledger/<ns>/<table>/<batch_id>``) skips re-delivered batches.
A crash between a table's delta and its mark replays the batch, whose
dynamic overwrite replaces exactly that delta: no column over-counts,
the summed clients.client_seen_count included. This is the
Spark-native equivalent of the reference's replay-from-start +
app-level dedup (maillog2db.go:168,283-306; README.md:28).

Ordering (ST6): the reference relies on strict in-file order for
last-writer-wins. Here each row's ordering key is the struct

    (epoch, batch_id, monotonically_increasing_id())

so later micro-batches always win, and within a batch the id preserves
(partition, offset) order. The epoch (``FileBatchLedger.epoch``) is
the namespace's number in the order namespaces first wrote to the
store: after a checkpoint reset the new run's batch 0 wins over the
old run's batch 5. With the documented rotate-into-directory
contract (one file per trigger via ``maxFilesPerTrigger=1``, files
arriving in rotation order) this reproduces the reference's in-file
order exactly. The key has no packing bound: batch ids are longs, and
the id within a batch holds 2^31 partitions.

Scale design: each table is a ``ledger.PartialsTable`` holding one
delta per micro-batch (``batch_id=<b>/ns=<ns>``, written once, never
read back by the merge) plus a snapshot (``batch_id=-1``). Its one
reduce (``TABLE_REDUCES``) serves both ``read`` and the fold:
dropDuplicates for logs/deliveries, max_by group aggregates for
clients/messages, summed seen_count. After its mark each table runs
``ledger.fold_deltas``, which folds the committed deltas into the
snapshot once their bytes reach the snapshot's (or ``MAX_DELTAS`` of
them wait), and never for a lone first delta. A steady batch therefore
costs O(batch), and the fold's O(state) rewrite runs at exponentially
spaced batches until the delta cap sets its period. (On a real
cluster the same logic is a Delta table's log and checkpoints; plain
parquet keeps this repo dependency-free.)

Measured regime (SCALING.md, "Streaming ingest"): at 500 lines/s the
bucketed merge this replaced rewrote 64 of 64 buckets in all four
tables per batch; a delta batch writes one directory per table, and
the benchmark's steady batch costs 15.7 instead of 29.0 CPU-s.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from . import io, parsing, tables
from .ledger import FileBatchLedger, PartialsTable, fold_deltas

TABLE_KEYS: dict[str, list[str]] = {
    "logs": tables.LOG_PAYLOAD_COLS,
    "clients": ["client", "client_rdns", "client_addr"],
    "messages": ["message_queueid"],
    "deliveries": tables.DELIVERY_PAYLOAD_COLS,
}

# messages field groups: each event type overwrites only its own fields
# (maillog2db.go:332-393); the winner per group is the side with the
# larger per-group seq.
MESSAGE_GROUPS: dict[str, list[str]] = {
    "_qmgr_seq": [
        "message_timestamp",
        "message_mailhost",
        "message_from",
        "message_size",
        "message_nrcpt",
        "message_statusext",
    ],
    "_smtpd_seq": ["message_client"],
    "_cleanup_seq": ["message_id"],
}


def _dedup(table: str):
    """logs / deliveries: exact duplicates of the payload key collapse."""
    return lambda df: df.dropDuplicates(TABLE_KEYS[table]).drop("batch_id", "ns")


def _clients(df: DataFrame) -> DataFrame:
    """lastseen from the max-seq side, firstseen min, seen_count summed."""
    return df.groupBy(*TABLE_KEYS["clients"]).agg(
        F.max_by("client_lastseen", "_lastseen_seq").alias("client_lastseen"),
        F.min("client_firstseen").alias("client_firstseen"),
        F.sum("client_seen_count").alias("client_seen_count"),
        F.max("_lastseen_seq").alias("_lastseen_seq"),
    )


def _messages(df: DataFrame) -> DataFrame:
    """Each field group from the side with the larger group seq."""
    aggs = []
    for seq_col, cols in MESSAGE_GROUPS.items():
        aggs += [F.max_by(c, seq_col).alias(c) for c in cols]
        aggs.append(F.max(seq_col).alias(seq_col))
    # restore the canonical column order
    return df.groupBy("message_queueid").agg(*aggs).select(
        "message_queueid", *[c for cols in MESSAGE_GROUPS.values() for c in cols],
        *MESSAGE_GROUPS,
    )


# Each table's reduce resolves any union of its deltas and snapshot.
# All are associative and idempotent but the summed client_seen_count,
# which the per-(ns, batch_id) delta keeps exactly-once.
TABLE_REDUCES = {
    "logs": _dedup("logs"),
    "clients": _clients,
    "messages": _messages,
    "deliveries": _dedup("deliveries"),
}

@dataclass
class ParquetStateStore(FileBatchLedger):
    """Parquet canonical store for the four tables: per table, one delta
    per (checkpoint namespace, batch id) plus a snapshot, resolved on
    read and folded by ``ledger.fold_deltas``. Its batch markers are
    scoped by namespace and table: ``committed(batch_id, ns, table)``."""

    root: str
    tables: dict = field(init=False, repr=False, compare=False)
    _schemas: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def __post_init__(self):
        self.tables = {t: PartialsTable(self.path(t), reduce, scope="ns")
                       for t, reduce in TABLE_REDUCES.items()}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Full state table (no internal columns)."""
        if not self._schemas:  # the builders' output over an empty batch
            empty = spark.createDataFrame(
                [], "value string, seq struct<epoch:long,batch_id:long,row:long>")
            self._schemas.update((t, delta_schema(d)) for t, d in table_deltas(
                parsing.parse_lines(empty, seq_col="seq")).items())
        schema = self._schemas[table]
        t = self.tables[table]
        df = t.read(spark, schema=schema)
        if df is None:
            df = t.reduce(spark.createDataFrame([], schema))
        return df.drop(*MESSAGE_GROUPS, "_lastseen_seq")

    def compact(self, spark: SparkSession, table: str, schema: StructType) -> bool:
        """Fold the table's committed deltas into its snapshot when
        ``ledger.fold_deltas``'s rule says so; True when it folded."""
        return fold_deltas(spark, self.tables[table], schema,
                           lambda b, scope: self.committed(b, scope, table))

    def _merge(self, table: str, new: DataFrame, batch_id: int, ns: str) -> None:
        """Write ``new`` as the table's delta for (``ns``, ``batch_id``),
        replacing only that delta; nothing is read back."""
        self.tables[table].write(new.withColumn("ns", F.lit(ns)), batch_id)

    # --- per-table merges --------------------------------------------------

    def merge_append_dedup(self, spark: SparkSession, table: str, new: DataFrame,
                           batch_id: int, ns: str = "default") -> None:
        """logs / deliveries: append with exact-duplicate suppression
        (maillog2db.go:283-306, :395-442) — dropDuplicates over the full
        payload key on read."""
        self._merge(table, new, batch_id, ns)

    def merge_clients(self, spark: SparkSession, new_agg: DataFrame,
                      batch_id: int, ns: str = "default") -> None:
        """clients: entity tracking with freshness (maillog2db.go:308-330).
        Read re-aggregates per key: lastseen from the max-seq side,
        firstseen min, seen_count summed."""
        self._merge("clients", new_agg, batch_id, ns)

    def merge_messages(self, spark: SparkSession, new_agg: DataFrame,
                       batch_id: int, ns: str = "default") -> None:
        """messages: per-queueid keyed merge, each event-type field group
        independently last-writer-wins across batches on read
        (maillog2db.go:332-393)."""
        self._merge("messages", new_agg, batch_id, ns)


def delta_schema(delta: DataFrame) -> StructType:
    """A table delta's stored schema: its columns plus the partition
    columns ``write_partial`` adds."""
    return StructType(delta.schema.fields).add("batch_id", "long").add("ns", "string")


def table_deltas(parsed: DataFrame) -> dict[str, DataFrame]:
    """The four tables' deltas for one parsed micro-batch, built with the
    batch builders (tables.py); their seq columns keep the batch's
    (batch_id, row id) ordering key."""
    smtpd = parsing.extract_smtpd(parsed)
    return {
        "logs": tables.build_logs(parsed),
        "deliveries": tables.build_deliveries(parsed),
        "clients": smtpd.groupBy(
            F.col("client_full").alias("client"), "client_rdns", "client_addr"
        ).agg(
            F.max_by("ts", "seq").alias("client_lastseen"),
            F.min("ts").alias("client_firstseen"),
            F.count(F.lit(1)).alias("client_seen_count"),
            F.max("seq").alias("_lastseen_seq"),
        ),
        "messages": tables.build_messages_with_seqs(parsed),
    }


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: ParquetStateStore,
    year: int = 2024,
    strict_day: bool = True,
    ledger_ns: str = "default",
    jdbc_mirror: dict | None = None,
) -> None:
    """One micro-batch of raw lines → one delta per table, then each
    table's mark and its compaction check (``ParquetStateStore.compact``).

    Reuses the exact batch builders (``table_deltas``); the ordering key
    is the struct (epoch, batch_id, monotonically_increasing_id()), so
    later batches, and every batch of a later namespace, win
    last-writer-wins, replicating arrival order (ST6).

    ``jdbc_mirror`` = {"url", "user", "password"} additionally ships each
    batch's table deltas to the MySQL mirror via staged bulk upsert
    (sinks.foreach_batch_jdbc_merge) — the reference's exact external
    surface, one server-side statement per table per batch instead of
    2-4 round trips per line.
    """
    spark = batch_df.sparkSession
    # timestamp parsing is session-timezone-dependent; self-apply the
    # correctness conf so batch ≡ streaming holds in any caller session
    io.ensure_session_conf(spark)
    lines = batch_df.withColumn("seq", F.struct(
        F.lit(store.epoch(ledger_ns)).cast("long").alias("epoch"),
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.monotonically_increasing_id().alias("row"),
    ))
    # the tail source delivers a micro-batch as ONE partition (a single
    # byte range), which would run the whole regex parse on one core —
    # spread it AFTER seq assignment (seq encodes arrival order from the
    # source partitioning; repartition afterwards only moves rows, their
    # seq travels with them). Measured 7.4k → >10k lines/s on the sf0.1
    # single-file tail benchmark; no-op when the JVM file source already
    # split the batch.
    p = spark.sparkContext.defaultParallelism
    if batch_df.rdd.getNumPartitions() < p:
        lines = lines.repartition(p)
    parsed = parsing.parse_lines(
        lines, seq_col="seq", year=year, strict_day=strict_day
    ).persist()
    deltas = table_deltas(parsed)
    merge = {
        "logs": lambda d: store.merge_append_dedup(spark, "logs", d, batch_id, ledger_ns),
        "deliveries": lambda d: store.merge_append_dedup(
            spark, "deliveries", d, batch_id, ledger_ns),
        "clients": lambda d: store.merge_clients(spark, d, batch_id, ledger_ns),
        "messages": lambda d: store.merge_messages(spark, d, batch_id, ledger_ns),
    }
    pending = [t for t in merge if not store.committed(batch_id, ledger_ns, t)]
    # a batch without one admitted line writes nothing
    empty = bool(pending) and parsed.isEmpty()

    def run(t: str) -> None:
        if t in pending:
            if not empty:
                merge[t](deltas[t])
                if jdbc_mirror is not None:
                    from . import sinks

                    sinks.foreach_batch_jdbc_merge(
                        jdbc_mirror["url"], jdbc_mirror["user"], jdbc_mirror["password"], t
                    )(deltas[t].drop(*MESSAGE_GROUPS, "_lastseen_seq", "client_firstseen",
                                     "client_seen_count"), batch_id)
            store.mark_committed(batch_id, ledger_ns, t)
        store.compact(spark, t, delta_schema(deltas[t]))

    try:
        # the four tables touch disjoint paths and share only the
        # persisted `parsed` input — merge them CONCURRENTLY (Spark
        # schedules jobs from multiple submitter threads), which
        # overlaps the many small per-table jobs that dominate small
        # micro-batches (measured ~2x on the per-file-trigger path)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(merge)) as ex:
            futures = {t: ex.submit(run, t) for t in merge}
            errors = {}
            for t, fut in futures.items():
                try:
                    fut.result()
                except Exception as e:  # only the tables that succeeded are marked
                    errors[t] = e
            if errors:
                raise next(iter(errors.values()))
    finally:
        parsed.unpersist()


def read_stream_lines(
    spark: SparkSession,
    log_dir: str,
    max_files_per_trigger: int | None = None,
    tail_file: bool = False,
) -> DataFrame:
    """S1: the tailing source, Spark-shaped — a text file stream over the
    rotate-into-directory drop zone. ``maxFilesPerTrigger=1`` gives the
    reference's strict file order; rotation (S2) is native (each rotated
    file is a new file). Backpressure (ST7) via the same option.

    ``tail_file=True`` instead follows a SINGLE growing file at append
    granularity via the custom `maillog` Python data source
    (sources.MaillogTailReader) — the reference's exact tail contract
    (follow appends, replay-from-start after truncation,
    maillog2db.go:168) for deployments without a rotate-into-directory
    hop."""
    if tail_file:
        from . import sources

        sources.register(spark)
        return spark.readStream.format("maillog").load(log_dir)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(log_dir)


def checkpoint_id(checkpoint_dir: str) -> str:
    """The query id Spark writes to ``<checkpoint>/metadata`` when the
    checkpoint is created; it persists across restarts from it."""
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return json.loads(f.readline())["id"]


def start_ingest(
    spark: SparkSession,
    log_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    year: int = 2024,
    strict_day: bool = True,
    available_now: bool = False,
    processing_time: str | None = None,
    jdbc_mirror: dict | None = None,
    tail_file: bool = False,
) -> StreamingQuery:
    """The whole reference program as one streaming query.

    ``available_now=True`` = backfill/replay-from-start then stop (S3);
    default continuous mode follows the directory forever (ST1).
    ``jdbc_mirror`` = {"url","user","password"} mirrors each batch's
    deltas to the reference's MySQL tables (S4/S5).
    ``tail_file=True`` follows a single growing file at append
    granularity (the reference's exact tail contract) via the custom
    maillog source instead of the rotate-into-directory file stream.
    """
    store = ParquetStateStore(store_dir)
    # one file per trigger: strict file order and the ST7 bound
    lines = read_stream_lines(spark, log_dir, 1, tail_file=tail_file)
    writer = (
        lines.writeStream.foreachBatch(
            # ledger namespace = checkpoint identity (batch ids are scoped to it)
            lambda df, bid: merge_batch(
                df, bid, store, year=year, strict_day=strict_day,
                ledger_ns=checkpoint_id(checkpoint_dir), jdbc_mirror=jdbc_mirror,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName("maillog_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


# --- streaming-native alternatives (SURVEY §2.7 ST3) -----------------------


def streaming_tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    extra_keys: list[str] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """ST3: streaming tumbling-window aggregation with a watermark for
    late data — the streaming dual of the batch event-window operators
    (operators/windows.py). State for a window closes once the watermark
    passes its end, so state is bounded by (watermark horizon / window)
    regardless of stream length. ``slide`` < window turns this into the
    SLIDING dual (operators/windows.sliding_hourly): each event lands in
    window/slide epoch-aligned windows, multiplying state by the same
    factor — the watermark bound still holds per window."""
    keys = [
        F.window(F.col(ts_col), window, slide or window).alias("win")
    ] + [F.col(k) for k in (extra_keys or [])]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(k) for k in (extra_keys or [])],
            "n_events",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST3: streaming sessionization via ``session_window`` — sessions
    close when the watermark passes (last event + gap). The streaming
    dual of operators/windows.sessionize's batch lag/cumsum approach."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    window_sec: int = 300,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: right-side events landing within
    (0, window_sec] after a left-side event for the same key — the
    streaming dual of operators/temporal.event_pairs_within_window.

    Both sides carry watermarks and the join condition bounds r_ts to a
    range of l_ts, which is exactly what Structured Streaming needs to
    GC join state: a buffered left row is dropped once the right
    watermark passes l_ts + window_sec (state is bounded by watermark
    horizon × arrival rate, not stream length). The batch operator
    solves the same problem with coarse-bucket decomposition; here the
    range condition is the native state-cleanup contract, so no
    bucketing is needed.

    how="leftOuter" additionally emits unmatched left rows (gap_us
    NULL) — but only once the right watermark passes l_ts + window_sec,
    i.e. once Spark can PROVE no match can still arrive. Same state
    bound as the inner join; the outer rows just ride the state-expiry
    path instead of being dropped.
    """
    l = left.select(
        F.col("event_id").alias("left_event_id"),
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("event_id").alias("right_event_id"),
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_sec} SECONDS")),
        how,
    ).select(
        "left_event_id",
        "right_event_id",
        F.col("l_key").alias(key),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a stream against a bounded dimension
    (J2's streaming dual — e.g. delivery lines against the accumulated
    messages table, or events against a user dim).

    Stream-static joins are STATELESS in Structured Streaming: each
    micro-batch joins against the static side as-of that batch, so
    nothing accumulates in the state store and no watermark is needed.
    The static side is broadcast (a dimension at 100 TB fact scale is
    still small); pass broadcast_dim=False if the dimension itself is
    huge — Spark then plans a shuffled join per micro-batch, where the
    static side's exchange is reused across batches.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=key, how="left")
