"""Sinks: canonical parquet store + JDBC/MySQL mirror (SURVEY §2.1 S4-S6).

The reference's only sink is four MySQL tables created by GORM
AutoMigrate (maillog2db.go:163-166) and maintained row-at-a-time with
SELECT-then-upsert (maillog2db.go:283-442). Spark-side that splits into:

  * a CANONICAL analytical store — date-partitioned parquet (the table
    a 1000-executor cluster actually queries; partition pruning on the
    event date is what keeps 100 TB scans bounded), and
  * an optional JDBC MIRROR reproducing the reference's MySQL surface —
    identical table names, column names and VARCHAR widths (DDL parity
    with the struct tags at maillog2db.go:61-110), written per
    micro-batch as one bulk staged upsert instead of 2-4 round trips
    per line.

JDBC at scale: `numPartitions` bounds concurrent connections (the
reference hardcodes a 50/200 pool it never uses concurrently,
maillog2db.go:148-149); writes go to a staging table then one
`INSERT ... ON DUPLICATE KEY UPDATE` / `MERGE` statement server-side,
which is idempotent per batch — re-delivery after a failure converges
(ST5). The mirror path is EXECUTED end-to-end against embedded Apache
Derby (on Spark's own classpath) in tests — real DDL with the unique
constraint the upsert depends on, real staged MERGE, real replay
idempotence; the MySQL dialect of the same statements remains
SQL-shape-tested (no MySQL server in this environment).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import TABLE_KEYS

# --- DDL parity with the reference structs (maillog2db.go:61-110) ----------
# GORM renders snake_case columns and pluralized pf-prefixed table names
# (SURVEY §1.1); untagged Go strings default to varchar(255).

REFERENCE_TABLE_NAMES = {
    "logs": "pfmaillog2db_logs",
    "clients": "pfmaillog2db_clients",
    "messages": "pfmaillog2db_messages",
    "deliveries": "pfmaillog2db_deliveries",
}

REFERENCE_COLUMN_TYPES: dict[str, dict[str, str]] = {
    "logs": {
        "log_timestamp": "DATETIME",
        "log_mailhost": "VARCHAR(100)",
        "log_process": "VARCHAR(100)",
        "log_processid": "VARCHAR(100)",
        "log_message": "VARCHAR(500)",
    },
    "clients": {
        "client": "VARCHAR(500)",
        "client_rdns": "VARCHAR(255)",
        "client_addr": "VARCHAR(50)",
        "client_lastseen": "DATETIME",
    },
    "messages": {
        "message_timestamp": "DATETIME",
        "message_mailhost": "VARCHAR(255)",
        "message_queueid": "VARCHAR(16)",
        "message_from": "VARCHAR(100)",
        "message_size": "VARCHAR(50)",
        "message_nrcpt": "VARCHAR(50)",
        "message_client": "VARCHAR(500)",
        "message_statusext": "VARCHAR(255)",
        "message_id": "VARCHAR(500)",
    },
    "deliveries": {
        "delivery_timestamp": "DATETIME",
        "delivery_queueid": "VARCHAR(16)",
        "delivery_to": "VARCHAR(100)",
        "delivery_relay": "VARCHAR(100)",
        "delivery_delay": "VARCHAR(50)",
        "delivery_delays": "VARCHAR(50)",
        "delivery_dsn": "VARCHAR(25)",
        "delivery_status": "VARCHAR(50)",
        "delivery_statusext": "VARCHAR(255)",
    },
}


def create_table_column_types(table: str) -> str:
    """The `createTableColumnTypes` JDBC writer option value — Spark
    renders these types into its CREATE TABLE, reproducing AutoMigrate's
    DDL (S6)."""
    return ", ".join(f"{c} {t}" for c, t in REFERENCE_COLUMN_TYPES[table].items())


def with_audit_columns(df: DataFrame) -> DataFrame:
    """A4: RowCreatedAt/RowUpdatedAt are processing-time audit stamps
    (maillog2db.go:299,326,...); applied at sink time."""
    now = F.current_timestamp()
    return df.withColumn("row_created_at", now).withColumn("row_updated_at", now)


# --- dialects ---------------------------------------------------------------
#
# The mirror speaks two dialects: "mysql" (the reference's target — SQL
# shape unit-tested; no server in this sandbox) and "derby" (Apache
# Derby embedded, shipped on Spark's own classpath — the mirror path we
# EXECUTE end-to-end: real CREATE TABLE with unique constraints, real
# staged MERGE, real replay-idempotence, through the same code path a
# MySQL deployment would take).

ROW_KEY_COL = "row_key_md5"

_DIALECT_QUOTE = {"mysql": "`", "derby": '"'}
_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def dialect_of(url: str) -> str:
    return "derby" if url.startswith("jdbc:derby") else "mysql"


def _q(dialect: str):
    ch = _DIALECT_QUOTE[dialect]
    return lambda ident: f"{ch}{ident}{ch}"


def _type_for(dialect: str, mysql_type: str) -> str:
    # Derby has no DATETIME; TIMESTAMP is its equivalent type
    if dialect == "derby" and mysql_type == "DATETIME":
        return "TIMESTAMP"
    return mysql_type


def mirror_column_types(table: str, dialect: str = "mysql") -> str:
    """createTableColumnTypes for the FULL mirror row: reference columns
    (dialect-mapped) + audit stamps + the md5 row key."""
    cols = [
        f"{c} {_type_for(dialect, t)}"
        for c, t in REFERENCE_COLUMN_TYPES[table].items()
    ]
    ts = _type_for(dialect, "DATETIME")
    cols += [f"row_created_at {ts}", f"row_updated_at {ts}",
             f"{ROW_KEY_COL} CHAR(32)"]
    return ", ".join(cols)


def with_row_key(df: DataFrame, table: str) -> DataFrame:
    """Append the md5 natural-key digest the unique index is built on.

    The reference's natural keys are WHERE-conjunctions over the payload
    (maillog2db.go:283-306): for logs/deliveries that is the FULL row —
    as a composite UNIQUE index in utf8mb4 MySQL that would exceed the
    3072-byte InnoDB key limit (VARCHAR(500) alone is 2000 bytes), and
    clients (500+255+50 chars) overflows too. So the index key is a
    Spark-computed md5 over the key columns with explicit NULL/separator
    encoding (collision-free for distinct tuples): one CHAR(32) column,
    indexable in any dialect, identical math in a future backfill."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
        for c in TABLE_KEYS[table]
    ]
    return df.withColumn(ROW_KEY_COL, F.md5(F.concat_ws("\x1f", *parts)))


def create_mirror_table_ddl(table: str, dialect: str = "mysql") -> str:
    """Explicit target-table DDL WITH the unique index the upsert
    depends on. Spark's own JDBC CREATE TABLE renders column types only
    — no constraints — so ON DUPLICATE KEY UPDATE would silently
    degrade to plain INSERT on a Spark-created table (round-1 review
    finding); the mirror therefore creates its targets with this DDL
    before the first merge."""
    q = _q(dialect)
    target = REFERENCE_TABLE_NAMES[table]
    cols = [
        f"{q(c)} {_type_for(dialect, t)}"
        for c, t in REFERENCE_COLUMN_TYPES[table].items()
    ]
    ts = _type_for(dialect, "DATETIME")
    cols += [f"{q('row_created_at')} {ts}", f"{q('row_updated_at')} {ts}",
             f"{q(ROW_KEY_COL)} CHAR(32) NOT NULL"]
    constraint = f"CONSTRAINT {q('uq_' + target)} UNIQUE ({q(ROW_KEY_COL)})"
    head = "CREATE TABLE" + (" IF NOT EXISTS" if dialect == "mysql" else "")
    return f"{head} {q(target)} ({', '.join(cols)}, {constraint})"


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    num_partitions: int = 8,
    isolation_level: str = "READ_COMMITTED",
):
    """Configured JDBC DataFrameWriter for a mirror table (S4). Caller
    picks .mode(...)/.save(); `numPartitions` bounds concurrent
    connections the way the reference's pool cap intended."""
    dialect = dialect_of(url)
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", REFERENCE_TABLE_NAMES[table])
        .option("user", user)
        .option("password", password)
        .option("numPartitions", num_partitions)
        .option("isolationLevel", isolation_level)
    )
    if dialect == "mysql":
        w = w.option("createTableColumnTypes", create_table_column_types(table))
    else:
        # Derby: leave Spark's native type mapping (StringType → CLOB) —
        # the writer's null-setter uses the DIALECT's JDBC type, and
        # setNull(CLOB) into a VARCHAR column is a Derby type error
        # (22005). The upsert statement CASTs staging CLOBs into the
        # target's VARCHAR widths instead (see upsert_sql).
        w = w.option("driver", _DERBY_DRIVER)
    return w


def upsert_sql(table: str, dialect: str = "mysql", staging: str | None = None) -> str:
    """One server-side bulk upsert from a staging table — the
    set-oriented replacement for the reference's per-row
    SELECT-then-INSERT/UPDATE (maillog2db.go:283-306 et al.). The
    conflict key is the md5 natural-key digest (see with_row_key).

    mysql:  INSERT ... SELECT ... ON DUPLICATE KEY UPDATE <non-keys>
    derby:  MERGE INTO target USING staging ON (row_key) WHEN MATCHED
            UPDATE / WHEN NOT MATCHED INSERT

    For the append+dedup tables every payload column is in the natural
    key, so the UPDATE arm degenerates to refreshing row_updated_at —
    exact-duplicate suppression server-side, idempotent under batch
    re-delivery. messages: each event type carries only its own field
    group (other columns NULL) — a bare overwrite would erase
    previously-merged groups, so non-key columns merge NULL-preservingly
    (the server-side equivalent of the reference's per-group record
    functions, maillog2db.go:332-393)."""
    q = _q(dialect)
    target = REFERENCE_TABLE_NAMES[table]
    staging = staging or f"{target}_staging"
    cols = (list(REFERENCE_COLUMN_TYPES[table])
            + ["row_created_at", "row_updated_at", ROW_KEY_COL])
    keys = set(TABLE_KEYS[table]) | {ROW_KEY_COL}
    frozen = ("row_created_at", "row_updated_at")
    payload = [c for c in cols if c not in keys and c not in frozen]

    if dialect == "mysql":
        if table == "messages":
            updates = [f"{q(c)} = COALESCE(VALUES({q(c)}), {q(c)})" for c in payload]
        else:
            updates = [f"{q(c)} = VALUES({q(c)})" for c in payload]
        updates.append(f"{q('row_updated_at')} = VALUES({q('row_updated_at')})")
        collist = ", ".join(q(c) for c in cols)
        return (
            f"INSERT INTO {q(target)} ({collist})\n"
            f"SELECT {collist} FROM {q(staging)}\n"
            f"ON DUPLICATE KEY UPDATE {', '.join(updates)}"
        )

    # Derby: the staging table carries Spark's native mapping (strings
    # as CLOB), and Derby neither compares CLOBs in predicates nor
    # assigns them to VARCHAR implicitly — every source reference is
    # CAST to the target column's declared type.
    types = {
        **{c: _type_for("derby", t) for c, t in REFERENCE_COLUMN_TYPES[table].items()},
        "row_created_at": "TIMESTAMP",
        "row_updated_at": "TIMESTAMP",
        ROW_KEY_COL: "CHAR(32)",
    }
    s = lambda c: f"CAST(s.{q(c)} AS {types[c]})"  # noqa: E731
    if table == "messages":
        updates = [f"{q(c)} = COALESCE({s(c)}, t.{q(c)})" for c in payload]
    else:
        updates = [f"{q(c)} = {s(c)}" for c in payload]
    updates.append(f"{q('row_updated_at')} = {s('row_updated_at')}")
    collist = ", ".join(q(c) for c in cols)
    vallist = ", ".join(s(c) for c in cols)
    return (
        f"MERGE INTO {q(target)} t USING {q(staging)} s\n"
        f"ON t.{q(ROW_KEY_COL)} = {s(ROW_KEY_COL)}\n"
        f"WHEN MATCHED THEN UPDATE SET {', '.join(updates)}\n"
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vallist})"
    )


def mysql_upsert_sql(table: str, staging: str | None = None) -> str:
    """MySQL-dialect upsert (kept as the named reference contract)."""
    return upsert_sql(table, "mysql", staging)


def ensure_mirror_table(
    spark: SparkSession, url: str, user: str, password: str, table: str
) -> None:
    """Create the mirror target with its unique constraint if absent.
    MySQL uses IF NOT EXISTS; Derby has none, so 'already exists'
    (SQLState X0Y32) is swallowed."""
    ddl = create_mirror_table_ddl(table, dialect_of(url))
    try:
        _execute_jdbc_statement(spark, url, user, password, ddl)
    except Exception as e:  # noqa: BLE001 — only the exists-race is benign
        if "X0Y32" not in str(e):
            raise


def foreach_batch_jdbc_merge(url: str, user: str, password: str, table: str):
    """foreachBatch sink factory for the streaming JDBC mirror (S5):
    write the micro-batch to a staging table (overwrite), then execute
    one upsert statement. The staging write + server-side MERGE pair is
    the standard exactly-once-convergent JDBC pattern — Spark's JDBC
    sink alone is append-only and not transactional across batches.

    Executed END-TO-END against embedded Derby in tests
    (test_sinks.py); against MySQL the same factory emits the
    ON DUPLICATE KEY UPDATE dialect."""
    dialect = dialect_of(url)
    stmt = upsert_sql(table, dialect)
    q = _q(dialect)
    staging_name = f"{REFERENCE_TABLE_NAMES[table]}_staging"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # mirror carries exactly the reference's schema — engine-side
        # extension columns (client_firstseen etc.) stay canonical-only
        ref_cols = [c for c in REFERENCE_COLUMN_TYPES[table] if c in batch_df.columns]
        staged = with_row_key(
            with_audit_columns(batch_df.select(*ref_cols)), table
        ).dropDuplicates([ROW_KEY_COL])
        w = jdbc_writer(staged, url, table, user, password).option(
            "dbtable", q(staging_name)
        )
        if dialect == "mysql":
            w = w.option("createTableColumnTypes", mirror_column_types(table, dialect))
        w.mode("overwrite").save()
        spark = batch_df.sparkSession
        ensure_mirror_table(spark, url, user, password, table)
        _execute_jdbc_statement(spark, url, user, password, stmt)

    return _sink


def _execute_jdbc_statement(
    spark: SparkSession, url: str, user: str, password: str, stmt: str
) -> None:
    """Run one statement over JDBC through the JVM driver manager."""
    jvm = spark.sparkContext._jvm
    if dialect_of(url) == "derby":
        # embedded driver registers via Class.forName (service loading is
        # not triggered for in-JVM DriverManager use)
        jvm.java.lang.Class.forName(_DERBY_DRIVER)
    props = jvm.java.util.Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        conn.createStatement().executeUpdate(stmt)
    finally:
        conn.close()


# --- bucketed tables (shuffle-free co-located joins) ------------------------


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a Spark-native BUCKETED managed table: rows are
    hash-clustered (and optionally sorted) by the join key at write
    time, so equi-joins and aggregations between tables bucketed the
    same way need NO shuffle at read time — at 100 TB, pre-bucketing
    messages and deliveries on queueid turns the flagship join from a
    full two-sided exchange into a zip of co-located buckets. (The
    streaming state store implements the same idea manually with
    partition dirs; this is the SQL-catalog flavor for batch marts.)"""
    w = df.write.mode("overwrite").format("parquet")
    if sort_col:
        w = w.bucketBy(n_buckets, bucket_col).sortBy(sort_col)
    else:
        w = w.bucketBy(n_buckets, bucket_col)
    w.saveAsTable(table_name)


# --- canonical parquet store (the analytical side) -------------------------


def write_canonical(
    spark: SparkSession,
    out_dir: str,
    logs: DataFrame | None = None,
    clients: DataFrame | None = None,
    messages: DataFrame | None = None,
    deliveries: DataFrame | None = None,
    mode: str = "overwrite",
    parallel: bool = True,
) -> None:
    """Date-partitioned parquet canonical tables. Event-dated tables
    (logs, deliveries) partition by their event date — the 100 TB query
    pattern is time-ranged, and partition pruning turns those scans into
    day-slices. Entity tables (clients, messages) are small-cardinality
    rollups; they write unpartitioned (their scale is keys, not events).

    The four writes touch disjoint paths and share (at most) one
    materialized parse input, so by default they submit CONCURRENTLY —
    Spark schedules jobs from multiple submitter threads, overlapping
    the per-table job scheduling and commit latency that dominates
    small backfills (the same measured ~2× the streaming merge path
    gets from its concurrent foreachBatch merges). ``parallel=False``
    restores serial writes."""
    jobs = []
    if logs is not None:
        jobs.append(
            lambda: logs.withColumn("log_date", F.to_date("log_timestamp"))
            .write.mode(mode)
            .partitionBy("log_date")
            .parquet(os.path.join(out_dir, "logs"))
        )
    if deliveries is not None:
        jobs.append(
            lambda: deliveries.withColumn(
                "delivery_date", F.to_date("delivery_timestamp")
            )
            .write.mode(mode)
            .partitionBy("delivery_date")
            .parquet(os.path.join(out_dir, "deliveries"))
        )
    if clients is not None:
        jobs.append(
            lambda: clients.write.mode(mode).parquet(
                os.path.join(out_dir, "clients")
            )
        )
    if messages is not None:
        jobs.append(
            lambda: messages.write.mode(mode).parquet(
                os.path.join(out_dir, "messages")
            )
        )
    if parallel and len(jobs) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            for f in [ex.submit(j) for j in jobs]:
                f.result()
    else:
        for j in jobs:
            j()


# --- training-shard export (LLM-pipeline egress) ----------------------------


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    mode: str = "overwrite",
) -> dict:
    """JSONL training-shard export: the egress step of a corpus
    pipeline, writing documents as newline-delimited JSON partitioned
    by a CONTENT-DERIVED shard id (operators.sampling.shard_id — md5 of
    the key, not Spark's partition-dependent hash). Determinism is the
    contract: the same corpus produces byte-identical shard populations
    under repartition, AQE, speculative retry, or a replayed write, so
    a trainer's data order per shard is reproducible and an interrupted
    export can simply be re-run (overwrite mode) without corpus skew.

    The repartition ON shard_id means each shard is written by exactly
    one task → one file per shard (trainers map shards to data-loader
    workers 1:1). At 100 TB, shards are sized by raising N_SHARDS — the
    shuffle is one exchange on a uniform md5-derived key (no skew by
    construction), and JSON encoding is JVM-side.

    Returns a manifest {shard_id: {"n_docs": ..., "checksum": ...}}
    computed from the INPUT plan (same aggregation as the registered
    doc_shard_assignment audit query); a separate `manifest.json` is
    written next to the data. Comparing a re-read's manifest against it
    detects lost/duplicated shards without scanning full text.
    """
    import json

    from .operators.sampling import shard_id

    sharded = df.withColumn("shard_id", shard_id(F.col(key_col)))
    (
        sharded.repartition("shard_id")
        .write.mode(mode)
        .partitionBy("shard_id")
        .json(os.path.join(out_dir, "data"))
    )
    from .operators.sampling import member_checksum

    member_sum = member_checksum(F.col(key_col))
    manifest_rows = (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(member_sum).alias("checksum"),
        )
        .collect()  # bounded: one row per shard
    )
    manifest = {
        int(r["shard_id"]): {"n_docs": r["n_docs"], "checksum": r["checksum"]}
        for r in manifest_rows
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({str(k): v for k, v in sorted(manifest.items())}, f, indent=1)
    return manifest


def audit_training_shards(spark: SparkSession, out_dir: str, key_col: str = "doc_id") -> dict:
    """Re-read a shard export and recompute its manifest from the FILES
    (shard_id comes from the directory partitioning). Equality with the
    writer's manifest certifies no shard was lost, duplicated, or
    mis-assigned — the cheap end-to-end integrity check before a
    training run."""
    back = spark.read.json(os.path.join(out_dir, "data"))
    from .operators.sampling import member_checksum

    member_sum = member_checksum(F.col(key_col))
    rows = (
        back.groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(member_sum).alias("checksum"))
        .collect()
    )
    return {int(r["shard_id"]): {"n_docs": r["n_docs"], "checksum": r["checksum"]} for r in rows}
