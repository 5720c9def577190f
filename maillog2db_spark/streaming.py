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

Delivery guarantee (ST5): checkpointing makes the source exactly-once;
the sink is made effectively-once by (a) idempotent merges — dedup for
logs/deliveries, max_by for messages/clients — plus (b) a per-table
batch-id ledger that skips re-delivered batches (``FileBatchLedger``
markers at ``<root>/_ledger/<ns>/<table>/<batch_id>``; protects the one
non-idempotent aggregate, clients.client_seen_count). This is the
Spark-native equivalent of the reference's replay-from-start +
app-level dedup (maillog2db.go:168,283-306; README.md:28). Residual
at-least-once window: a crash BETWEEN a table's write and its ledger
mark re-applies that one batch for that table on recovery — harmless
for every reference column; only the derived seen_count can over-count
by that batch (an atomic commit protocol, i.e. Delta's txn log, closes
this in production).

Ordering (ST6): the reference relies on strict in-file order for
last-writer-wins. Here each row gets

    seq = (batch_id << 48) | monotonically_increasing_id()

so later micro-batches always win, and within a batch the id preserves
(partition, offset) order. With the documented rotate-into-directory
contract (one file per trigger via ``maxFilesPerTrigger=1``, files
arriving in rotation order) this reproduces the reference's in-file
order exactly. Bounds: < 2^15 partitions per batch and < 2^15 batches
per checkpoint lifetime before bit fields collide (``merge_batch``
raises instead of corrupting the order). The batch bound counts
micro-batches, not files: under the CLI's default trigger, which
starts the next batch as soon as one ends, a tail at 2.6 s per batch
reaches 2^15 batches in about one day. Widening the encoding to a
struct key lifts it.

Scale design: the state store is hash-bucketed on each table's natural
key (``part = pmod(xxhash64(key), n_buckets)``) and every table merge
is ``ledger.merge_buckets`` with the table's own reduce (dropDuplicates
for logs/deliveries, max_by group aggregates for clients/messages). A
micro-batch merge touches ONLY the buckets its rows hash into: read
prunes to those partitions (Spark partition pruning on the ``part``
column), and the write uses dynamic partition overwrite to rewrite only
those buckets, one file each. Merge cost per batch is O(batch +
touched-bucket state), independent of total history size — the
property that lets this run against 100 TB of accumulated state. (On a
real cluster the same logic is one Delta ``MERGE INTO``; plain parquet
keeps this repo dependency-free.)

Measured regime: the bound helps only when a batch touches few
buckets. A tail at 500 lines/s delivers batches of thousands of lines
whose keys spread over every bucket: each batch touches 64 of 64
buckets in all four tables and so rewrites the whole store, and its
cost is O(batch + total state) plus a fixed cost per merge. That fixed
cost holds no work that repeats unchanged between batches: the session
caches the merges' generated classes and lists the bucket directories
on the driver (session.py), and ``merge_buckets`` reads the old
buckets with the batch's schema instead of inferring it. On a 4-vCPU
VM a steady 3,000-line batch into 64 buckets costs 9-12 s of driver
JVM CPU in 28 jobs and 188 tasks (SCALING.md, "Streaming ingest").
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import io, parsing, tables
from .ledger import FileBatchLedger, has_rows, merge_buckets

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


@dataclass
class ParquetStateStore(FileBatchLedger):
    """Hash-bucketed parquet canonical store for the four tables. Its
    batch markers are scoped by checkpoint namespace and table:
    ``committed(batch_id, ns, table)``."""

    root: str
    n_buckets: int = 64

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, spark: SparkSession, table: str) -> bool:
        return has_rows(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Full state table (no internal columns)."""
        return spark.read.parquet(self.path(table)).drop(
            "part", *self._internal_cols(table)
        )

    def _internal_cols(self, table: str) -> list[str]:
        if table == "messages":
            return list(MESSAGE_GROUPS)
        if table == "clients":
            return ["_lastseen_seq"]
        return []

    def _merge(self, spark: SparkSession, table: str, new: DataFrame, reduce) -> None:
        """Bucket ``new`` on the table's natural key and merge it into
        the touched buckets (ledger.merge_buckets)."""
        key = TABLE_KEYS[table]
        new = new.withColumn(
            "part", F.pmod(F.xxhash64(*key), F.lit(self.n_buckets)).cast("int")
        )
        merge_buckets(spark, self.path(table), new, "part", reduce)

    # --- per-table merges --------------------------------------------------

    def merge_append_dedup(self, spark: SparkSession, table: str, new: DataFrame) -> None:
        """logs / deliveries: append with exact-duplicate suppression
        (maillog2db.go:283-306, :395-442) — union touched buckets with the
        batch, dropDuplicates over the full payload key."""
        key = TABLE_KEYS[table]
        self._merge(spark, table, new, lambda m: m.dropDuplicates(key))

    def merge_clients(self, spark: SparkSession, new_agg: DataFrame) -> None:
        """clients: entity tracking with freshness (maillog2db.go:308-330).
        Re-aggregate union of old+new per key: lastseen from the max-seq
        side, firstseen min, seen_count summed."""
        self._merge(spark, "clients", new_agg, lambda m: m.groupBy(
            "part", "client", "client_rdns", "client_addr"
        ).agg(
            F.max_by("client_lastseen", "_lastseen_seq").alias("client_lastseen"),
            F.min("client_firstseen").alias("client_firstseen"),
            F.sum("client_seen_count").alias("client_seen_count"),
            F.max("_lastseen_seq").alias("_lastseen_seq"),
        ))

    def merge_messages(self, spark: SparkSession, new_agg: DataFrame) -> None:
        """messages: per-queueid keyed merge, each event-type field group
        independently last-writer-wins across batches (maillog2db.go:332-393)."""
        aggs = []
        for seq_col, cols in MESSAGE_GROUPS.items():
            aggs += [F.max_by(c, seq_col).alias(c) for c in cols]
            aggs.append(F.max(seq_col).alias(seq_col))
        # restore the canonical column order
        ordered = ["part", "message_queueid"] + [
            c for cols in MESSAGE_GROUPS.values() for c in cols
        ] + list(MESSAGE_GROUPS)
        self._merge(spark, "messages", new_agg, lambda m: m.groupBy(
            "part", "message_queueid"
        ).agg(*aggs).select(*ordered))


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: ParquetStateStore,
    year: int = 2024,
    strict_day: bool = True,
    ledger_ns: str = "default",
    jdbc_mirror: dict | None = None,
) -> None:
    """One micro-batch of raw lines → merged into all four tables.

    Reuses the exact batch builders (tables.py); per-batch seq is
    (batch_id << 48) | monotonically_increasing_id() so later batches
    win last-writer-wins, replicating arrival order (ST6).

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
    # seq = (batch_id << 48) | mono_id. mono_id packs the partition id
    # at bit 33, so ≥2^15 partitions would silently bleed into the
    # batch field and corrupt cross-batch last-writer-wins ordering;
    # likewise batch_id ≥ 2^15 would overflow the long. ENFORCED, not
    # just documented (a silent ordering corruption is the worst
    # possible failure mode for an ordering key).
    n_parts = batch_df.rdd.getNumPartitions()
    if n_parts >= (1 << 15) or batch_id >= (1 << 15):
        raise ValueError(
            f"seq packing bounds exceeded: partitions={n_parts} (max 32767), "
            f"batch_id={batch_id} (max 32767) — repartition the micro-batch "
            "below 2^15 partitions or widen the seq encoding"
        )
    lines = batch_df.withColumn(
        "seq",
        (F.lit(int(batch_id)).cast("long") * F.lit(1 << 48) + F.monotonically_increasing_id()),
    )
    # the tail source delivers a micro-batch as ONE partition (a single
    # byte range), which would run the whole regex parse on one core —
    # spread it AFTER seq assignment (seq encodes arrival order from the
    # source partitioning; repartition afterwards only moves rows, their
    # seq travels with them). Measured 7.4k → >10k lines/s on the sf0.1
    # single-file tail benchmark; no-op when the JVM file source already
    # split the batch.
    p = spark.sparkContext.defaultParallelism
    if n_parts < p:
        lines = lines.repartition(p)
    parsed = parsing.parse_lines(
        lines, seq_col="seq", year=year, strict_day=strict_day
    ).persist()

    def mirror(table: str, batch_delta: DataFrame) -> None:
        if jdbc_mirror is not None:
            from . import sinks

            sinks.foreach_batch_jdbc_merge(
                jdbc_mirror["url"], jdbc_mirror["user"], jdbc_mirror["password"], table
            )(batch_delta, batch_id)

    def do_logs() -> None:
        logs_new = tables.build_logs(parsed)
        store.merge_append_dedup(spark, "logs", logs_new)
        mirror("logs", logs_new)

    def do_deliveries() -> None:
        deliveries_new = tables.build_deliveries(parsed)
        store.merge_append_dedup(spark, "deliveries", deliveries_new)
        mirror("deliveries", deliveries_new)

    def do_clients() -> None:
        smtpd = parsing.extract_smtpd(parsed)
        new_clients = smtpd.groupBy(
            F.col("client_full").alias("client"), "client_rdns", "client_addr"
        ).agg(
            F.max_by("ts", "seq").alias("client_lastseen"),
            F.min("ts").alias("client_firstseen"),
            F.count(F.lit(1)).alias("client_seen_count"),
            F.max("seq").alias("_lastseen_seq"),
        )
        store.merge_clients(spark, new_clients)
        mirror(
            "clients",
            new_clients.drop("_lastseen_seq", "client_firstseen", "client_seen_count"),
        )

    def do_messages() -> None:
        msgs_new = tables.build_messages_with_seqs(parsed)
        store.merge_messages(spark, msgs_new)
        mirror("messages", msgs_new.drop("_qmgr_seq", "_smtpd_seq", "_cleanup_seq"))

    work = {"logs": do_logs, "deliveries": do_deliveries,
            "clients": do_clients, "messages": do_messages}
    pending = [t for t in work if not store.committed(batch_id, ledger_ns, t)]
    try:
        # the four tables touch disjoint paths and share only the
        # persisted `parsed` input — merge them CONCURRENTLY (Spark
        # schedules jobs from multiple submitter threads), which
        # overlaps the many small per-table jobs that dominate small
        # micro-batches (measured ~2x on the per-file-trigger path)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(work)) as ex:
            futures = {t: ex.submit(work[t]) for t in pending}
            errors = {}
            for t, fut in futures.items():
                try:
                    fut.result()
                    store.mark_committed(batch_id, ledger_ns, t)
                except Exception as e:  # mark only the tables that succeeded
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


def start_ingest(
    spark: SparkSession,
    log_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    year: int = 2024,
    strict_day: bool = True,
    n_buckets: int = 64,
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
    store = ParquetStateStore(store_dir, n_buckets=n_buckets)
    # ledger namespace = checkpoint identity (batch ids are scoped to it)
    ns = hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]
    # one file per trigger: strict file order and the ST7 bound
    lines = read_stream_lines(spark, log_dir, 1, tail_file=tail_file)
    writer = (
        lines.writeStream.foreachBatch(
            lambda df, bid: merge_batch(
                df, bid, store, year=year, strict_day=strict_day, ledger_ns=ns,
                jdbc_mirror=jdbc_mirror,
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
