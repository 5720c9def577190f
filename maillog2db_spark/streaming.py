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
and so is the sink. Each micro-batch writes ONE delta, its admitted
parsed lines, keyed by (ledger namespace, batch id), then ONE fsynced
ledger mark at ``<root>/_ledger/<ns>/<batch_id>`` that skips
re-delivered batches. The namespace is the checkpoint's identity, the
query id Spark writes once to ``<checkpoint>/metadata``: batch ids
restart at 0 under a fresh checkpoint, and a checkpoint recreated at
the same path is a new namespace. A crash between the delta and its
mark replays the batch, whose dynamic overwrite replaces exactly that
delta: no column over-counts, the summed clients.client_seen_count
included — the Spark-native equivalent of the reference's
replay-from-start + app-level dedup (maillog2db.go:168,283-306;
README.md:28).

Ordering (ST6): the reference relies on strict in-file order for
last-writer-wins. Here each row's ordering key is the struct

    (epoch, batch_id, monotonically_increasing_id())

so later micro-batches always win, and within a batch the id preserves
(partition, offset) order. The epoch (``FileBatchLedger.epoch``)
numbers namespaces by first write: after a checkpoint reset the new
run's batch 0 wins over the old run's batch 5. A delta stores only the
row id and the struct is assembled on read from its partition columns,
so a batch's plan carries no batch-specific literal to compile. With
the rotate-into-directory contract (one file per trigger, files in
rotation order) this reproduces the reference's in-file order. The key
has no packing bound.

Scale design: the store is one directory, ``<root>/state``: the
``lines`` ``ledger.PartialsTable`` (one line delta per (``batch_id``,
``ns``) partition, never read back by the merge) plus one snapshot per
table. A table reads as its reduce (``TABLE_REDUCES``) over its
snapshot and its batch builder (tables.py) over the waiting deltas.
After its mark a batch runs ``ledger.fold_deltas``: once ``MAX_DELTAS``
committed deltas wait, the fold rewrites the whole store — four
snapshots plus any uncommitted deltas — in one ``ledger.atomic_rewrite``,
so a crash leaves the old or the new store. A steady batch costs one
parse and one write (2 Spark jobs, no compile; SCALING.md, "Streaming
ingest"), and the O(state) fold runs every ``MAX_DELTAS`` batches. (On a
real cluster the same logic is a Delta table's log and checkpoints;
plain parquet keeps this repo dependency-free.)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from . import io, parsing, tables
from .ledger import (
    FileBatchLedger, PartialsTable, atomic_rewrite, fold_deltas, partial_sizes, recover,
)
from .tables import TABLE_KEYS

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

# the parsed-line columns a line delta keeps beside its row id: the
# builders' input (parsing.parse_lines without seq and ts_raw)
LINE_COLUMNS = ["ts", "mailhost", "process", "pid", "message", "entry_type"]


def _dedup(table: str):
    """logs / deliveries: exact duplicates of the payload key collapse."""
    return lambda df: df.dropDuplicates(TABLE_KEYS[table])


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


# Each table's reduce resolves any union of its snapshot and builder
# output: associative, and idempotent but for the summed
# client_seen_count, which the per-(ns, batch_id) delta keeps exact.
TABLE_REDUCES = {
    "logs": _dedup("logs"),
    "clients": _clients,
    "messages": _messages,
    "deliveries": _dedup("deliveries"),
}


def table_delta(parsed: DataFrame, table: str) -> DataFrame:
    """One table's rows over parsed lines, by its batch builder (tables.py)."""
    build = {"logs": "build_logs", "clients": "build_clients_with_seq",
             "messages": "build_messages_with_seqs", "deliveries": "build_deliveries"}
    return getattr(tables, build[table])(parsed)


def line_delta(parsed: DataFrame) -> DataFrame:
    """The stored form of parsed lines: the seq column as the row id."""
    return parsed.select(F.col("seq").alias("row"), *LINE_COLUMNS)


class ParquetStateStore(FileBatchLedger):
    """Parquet canonical store for the four tables in one directory,
    ``state``: the ``lines`` table of line deltas, one per (checkpoint
    namespace, batch id), and a snapshot per table, resolved on read
    and folded by ``ledger.fold_deltas``. Its batch markers are scoped
    by namespace: ``committed(batch_id, ns)``."""

    def __init__(self, root: str):
        self.root = root
        self.state = os.path.join(root, "state")
        # the reduce only assembles seq: the store's own fold, not
        # PartialsTable.compact, folds the deltas
        self.lines = PartialsTable(os.path.join(self.state, "lines"), self._parsed,
                                   scope="ns")
        self._line_schema = None

    def path(self, table: str) -> str:
        """The table's snapshot directory."""
        return os.path.join(self.state, table)

    def _parsed(self, deltas: DataFrame) -> DataFrame:
        """Line deltas → parsed lines, seq = (epoch of ns, batch_id, row)."""
        epoch = F.lit(None).cast("long")
        for ns, e in self.epochs().items():
            epoch = F.when(F.col("ns") == ns, F.lit(e).cast("long")).otherwise(epoch)
        return deltas.select(F.struct(epoch.alias("epoch"), "batch_id", "row").alias("seq"),
                             *LINE_COLUMNS)

    def _schema(self, spark: SparkSession) -> StructType:
        """A line delta's stored schema, partition columns included."""
        if self._line_schema is None:
            empty = spark.createDataFrame([], "row long, value string")
            self._line_schema = StructType(line_delta(parsing.parse_lines(
                empty, seq_col="row")).schema.fields).add("batch_id", "long").add("ns", "string")
        return self._line_schema

    def _resolve(self, spark: SparkSession, table: str, new: DataFrame) -> DataFrame:
        """The table's reduce over its snapshot and ``new``, its
        builder's rows."""
        if os.path.isdir(self.path(table)):
            new = spark.read.schema(new.schema).parquet(self.path(table)).unionByName(new)
        return TABLE_REDUCES[table](new)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Full state table (no internal columns)."""
        recover(self.state)
        schema = self._schema(spark)
        parsed = self.lines.read(spark, schema=schema)
        if parsed is None:
            parsed = self._parsed(spark.createDataFrame([], schema))
        return self._resolve(spark, table, table_delta(parsed, table)).drop(
            *MESSAGE_GROUPS, "_lastseen_seq")

    def write(self, parsed: DataFrame, batch_id: int, ns: str) -> None:
        """Write ``parsed`` as the line delta of (``ns``, ``batch_id``),
        replacing only that delta; nothing is read back."""
        recover(self.state)
        self.lines.write(line_delta(parsed).withColumn("ns", F.lit(ns)), batch_id)

    def compact(self, spark: SparkSession) -> bool:
        """Fold the committed line deltas into the snapshots when
        ``ledger.fold_deltas``'s count rule says so; True when it
        folded."""
        return fold_deltas(spark, self.lines, self.committed, lambda: self._fold(spark))

    def _fold(self, spark: SparkSession) -> None:
        """Rewrite the whole store in one ``atomic_rewrite``: one write
        job per table's snapshot (the merge steps below), each the
        reduce over the old snapshot and the builder over the committed
        deltas, then the uncommitted deltas as they are."""
        deltas = spark.read.schema(self._schema(spark)).parquet(self.lines.path)
        raw = [k for k in partial_sizes(self.lines.path) if not self.committed(int(k[0]), k[1])]
        is_raw = F.lit(False)
        for b, ns in raw:
            is_raw = is_raw | ((F.col("batch_id") == int(b)) & (F.col("ns") == ns))
        parsed = self._parsed(deltas.filter(~is_raw))

        def write(tmp: str) -> None:
            self.merge_append_dedup(spark, "logs", table_delta(parsed, "logs"), tmp)
            self.merge_clients(spark, table_delta(parsed, "clients"), tmp)
            self.merge_messages(spark, table_delta(parsed, "messages"), tmp)
            self.merge_append_dedup(spark, "deliveries", table_delta(parsed, "deliveries"), tmp)
            if raw:
                deltas.filter(is_raw).write.partitionBy("batch_id", "ns").parquet(
                    os.path.join(tmp, "lines"))

        atomic_rewrite(self.state, write)

    def merge_append_dedup(self, spark: SparkSession, table: str, new: DataFrame,
                           out: str) -> None:
        """Fold step, and the one for logs / deliveries: write the
        table's snapshot under ``out`` (append with exact-duplicate
        suppression, maillog2db.go:283-306, :395-442)."""
        self._resolve(spark, table, new).write.parquet(os.path.join(out, table))

    def merge_clients(self, spark: SparkSession, new_agg: DataFrame, out: str) -> None:
        """clients' fold step (entity freshness, maillog2db.go:308-330)."""
        self._resolve(spark, "clients", new_agg).write.parquet(os.path.join(out, "clients"))

    def merge_messages(self, spark: SparkSession, new_agg: DataFrame, out: str) -> None:
        """messages' fold step (per-group last writer, maillog2db.go:332-393)."""
        self._resolve(spark, "messages", new_agg).write.parquet(os.path.join(out, "messages"))


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: ParquetStateStore,
    year: int = 2024,
    strict_day: bool = True,
    ledger_ns: str = "default",
    jdbc_mirror: dict | None = None,
) -> None:
    """One micro-batch of raw lines → its parsed-line delta, then its
    mark and the store's fold check (``ParquetStateStore.compact``);
    the batch builders run on read and fold (module docstring).

    ``jdbc_mirror`` = {"url", "user", "password"} additionally ships each
    batch's four table deltas to the MySQL mirror via staged bulk upsert
    (sinks.foreach_batch_jdbc_merge) — the reference's exact external
    surface, one server-side statement per table per batch instead of
    2-4 round trips per line.
    """
    if store.committed(batch_id, ledger_ns):
        return
    spark = batch_df.sparkSession
    # timestamp parsing is session-timezone-dependent; self-apply the
    # correctness conf so batch ≡ streaming holds in any caller session
    io.ensure_session_conf(spark)
    store.epoch(ledger_ns)  # assigned before the namespace's first delta
    lines = batch_df.select(F.monotonically_increasing_id().alias("row"), "value")
    # the tail source delivers a micro-batch as ONE partition (a single
    # byte range), which would run the whole regex parse on one core —
    # spread it AFTER the row id (the id encodes arrival order from the
    # source partitioning; repartition afterwards only moves rows, their
    # id travels with them). Measured 7.4k → >10k lines/s on the sf0.1
    # single-file tail benchmark; no-op when the JVM file source already
    # split the batch.
    p = spark.sparkContext.defaultParallelism
    if batch_df.rdd.getNumPartitions() < p:
        lines = lines.repartition(p)
    parsed = parsing.parse_lines(
        lines, seq_col="row", year=year, strict_day=strict_day
    ).persist()
    try:
        # a batch without one admitted line writes nothing
        if not parsed.isEmpty():
            store.write(parsed, batch_id, ledger_ns)
            if jdbc_mirror is not None:
                from . import sinks

                for t in TABLE_REDUCES:
                    sinks.foreach_batch_jdbc_merge(
                        jdbc_mirror["url"], jdbc_mirror["user"], jdbc_mirror["password"], t
                    )(table_delta(parsed, t).drop(
                        *MESSAGE_GROUPS, "_lastseen_seq", "client_firstseen",
                        "client_seen_count"), batch_id)
        store.mark_committed(batch_id, ledger_ns)
    finally:
        parsed.unpersist()
    store.compact(spark)


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
