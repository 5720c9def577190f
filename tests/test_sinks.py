"""Sink tests: DDL/upsert SQL parity, the canonical parquet layout, and
the JDBC mirror EXECUTED end-to-end against embedded Apache Derby
(shipped on Spark's classpath): real CREATE TABLE with the unique
constraint, real staged MERGE upserts, real replay idempotence —
through the same foreach_batch_jdbc_merge factory a MySQL deployment
uses (whose dialect remains SQL-shape-tested; no MySQL server here).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from maillog2db_spark import pipeline, sinks

LOG = [
    "Aug 11 01:00:01 mx01 postfix/smtpd[101]: AAAA1111: client=one.example.org[10.0.0.1]",
    "Aug 12 02:00:04 mx01 postfix/smtp[104]: AAAA1111: to=<r@y>, relay=y[2.2.2.2]:25, delay=1.1, delays=0.1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
    "Aug 13 03:00:04 mx01 postfix/smtp[105]: AAAA1111: to=<r@y>, relay=y[2.2.2.2]:25, delay=2.0, delays=1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
]


def test_create_table_column_types_matches_reference_widths():
    ddl = sinks.create_table_column_types("deliveries")
    # struct-tag widths from maillog2db.go:97-110, untagged -> 255
    assert "delivery_queueid VARCHAR(16)" in ddl
    assert "delivery_dsn VARCHAR(25)" in ddl
    assert "delivery_statusext VARCHAR(255)" in ddl
    assert sinks.create_table_column_types("messages").startswith(
        "message_timestamp DATETIME"
    )


def test_mysql_upsert_sql_shapes():
    # keyed table: non-key columns updated on conflict
    sql = sinks.mysql_upsert_sql("messages")
    assert "INSERT INTO `pfmaillog2db_messages`" in sql
    assert "ON DUPLICATE KEY UPDATE" in sql
    # field groups merge NULL-preservingly (a qmgr-only batch row must
    # not erase the smtpd-group columns already in the mirror)
    assert "`message_from` = COALESCE(VALUES(`message_from`), `message_from`)" in sql
    assert "`message_queueid` = VALUES" not in sql  # key never updated
    assert "`row_created_at` = VALUES" not in sql  # created-at set once
    assert "`row_updated_at` = VALUES(`row_updated_at`)" in sql
    # the conflict column itself is inserted but never updated
    assert sinks.ROW_KEY_COL in sql
    assert f"`{sinks.ROW_KEY_COL}` = VALUES" not in sql
    # full-payload-dedup table: update arm is just the audit stamp
    sql = sinks.mysql_upsert_sql("logs")
    assert "`log_message` = VALUES" not in sql
    assert "`row_updated_at` = VALUES(`row_updated_at`)" in sql


def test_mirror_ddl_has_unique_constraint():
    for dialect in ("mysql", "derby"):
        for table in ("logs", "clients", "messages", "deliveries"):
            ddl = sinks.create_mirror_table_ddl(table, dialect)
            assert "UNIQUE" in ddl and sinks.ROW_KEY_COL in ddl
            if dialect == "derby":
                assert "DATETIME" not in ddl  # Derby speaks TIMESTAMP


def test_jdbc_writer_configuration(spark):
    df = spark.createDataFrame([("x",)], ["log_message"])
    w = sinks.jdbc_writer(df, "jdbc:mysql://db/maillog", "logs", "u", "p")
    # writer is configured for the reference table name; saving without a
    # live DB must fail at connection, not configuration
    assert w is not None


def test_canonical_store_partition_pruning(spark, tmp_path):
    lines = spark.createDataFrame([(i, l) for i, l in enumerate(LOG)], ["seq", "value"])
    t = pipeline.process_lines(lines, seq_col="seq", year=2025)
    out = str(tmp_path / "canon")
    sinks.write_canonical(
        spark, out, logs=t.logs, clients=t.clients, messages=t.messages, deliveries=t.deliveries
    )
    # layout: one directory per event date
    days = sorted(e for e in os.listdir(os.path.join(out, "deliveries")) if "=" in e)
    assert days == ["delivery_date=2025-08-12", "delivery_date=2025-08-13"]
    # a date-filtered read prunes to one partition directory
    d = spark.read.parquet(os.path.join(out, "deliveries"))
    one_day = d.filter(F.col("delivery_date") == "2025-08-13")
    assert one_day.count() == 1
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(delivery_date" in plan
    # entity tables round-trip
    assert spark.read.parquet(os.path.join(out, "messages")).count() == 1
    assert spark.read.parquet(os.path.join(out, "clients")).count() == 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key join WITHOUT an exchange —
    the plan proof that pre-bucketing removes the join shuffle."""
    from maillog2db_spark import pipeline

    lines = spark.createDataFrame(
        [(i, l) for i, l in enumerate(LOG * 3)], ["seq", "value"]
    )
    t = pipeline.process_lines(lines, seq_col="seq", year=2025)
    spark.sql("DROP TABLE IF EXISTS b_messages")
    spark.sql("DROP TABLE IF EXISTS b_deliveries")
    sinks.write_bucketed(t.messages, "b_messages", "message_queueid", 4)
    sinks.write_bucketed(t.deliveries, "b_deliveries", "delivery_queueid", 4)
    try:
        m = spark.table("b_messages")
        d = spark.table("b_deliveries")
        joined = d.hint("merge").join(
            m, d.delivery_queueid == m.message_queueid
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_messages")
        spark.sql("DROP TABLE IF EXISTS b_deliveries")


# --- JDBC mirror end-to-end (embedded Derby) --------------------------------

MIRROR_LOG_FILES = {
    "maillog.1.log": [
        "Aug 11 01:00:01 mx01 postfix/smtpd[101]: AAAA1111: client=one.example.org[10.0.0.1]",
        "Aug 11 01:00:02 mx01 postfix/qmgr[102]: AAAA1111: from=<a@x>, size=100, nrcpt=1 (queue active)",
        "Aug 11 01:00:03 mx01 postfix/cleanup[103]: AAAA1111: message-id=<m1@x>",
        "Aug 11 01:00:04 mx01 postfix/smtp[104]: AAAA1111: to=<r@y>, relay=y[20.0.0.2]:25, delay=1.1, delays=0.1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
    ],
    "maillog.2.log": [
        # exact duplicate of a file-1 line (cross-batch dedup through the
        # unique index), a qmgr re-emit (NULL-preserving group merge),
        # and a client reconnect (freshness update)
        "Aug 11 01:00:04 mx01 postfix/smtp[104]: AAAA1111: to=<r@y>, relay=y[20.0.0.2]:25, delay=1.1, delays=0.1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
        "Aug 11 02:00:03 mx01 postfix/qmgr[202]: AAAA1111: from=<a2@x>, size=999, nrcpt=2 (queue active)",
        "Aug 11 02:00:05 mx01 postfix/smtpd[205]: BBBB2222: client=one.example.org[10.0.0.1]",
    ],
}


def _read_mirror(spark, url, table):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f'"{sinks.REFERENCE_TABLE_NAMES[table]}"')
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )


def _ingest(spark, log_dir, out_root, url, tag):
    from maillog2db_spark import streaming

    q = streaming.start_ingest(
        spark,
        log_dir,
        str(out_root / f"state_{tag}"),
        str(out_root / f"ckpt_{tag}"),
        year=2025,
        available_now=True,
        jdbc_mirror={"url": url, "user": "", "password": ""},
    )
    q.awaitTermination(180)


def test_jdbc_mirror_end_to_end_derby(spark, tmp_path):
    """The reference contract (maillog2db.go:283-442) executed for real:
    fixture log → start_ingest with a Derby jdbc_mirror → the four
    mirror tables hold exactly the canonical store's rows (on reference
    columns); replaying the SAME log through a FRESH checkpoint into the
    same database changes nothing (the unique-index upserts converge)."""
    import os as _os

    from maillog2db_spark import streaming

    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    for i, (name, lines) in enumerate(sorted(MIRROR_LOG_FILES.items())):
        p = log_dir / name
        p.write_text("\n".join(lines) + "\n")
        _os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    url = f"jdbc:derby:{tmp_path}/mirror_db;create=true"
    _ingest(spark, str(log_dir), tmp_path, url, "a")

    store = streaming.ParquetStateStore(str(tmp_path / "state_a"))
    snapshots = {}
    for table in ("logs", "clients", "messages", "deliveries"):
        ref_cols = list(sinks.REFERENCE_COLUMN_TYPES[table])
        canon = store.read(spark, table).select(*[
            c for c in ref_cols if c in store.read(spark, table).columns
        ])
        mirror = _read_mirror(spark, url, table).select(*canon.columns)
        got = sorted(tuple(str(v) for v in r) for r in mirror.collect())
        want = sorted(tuple(str(v) for v in r) for r in canon.collect())
        assert got == want, f"{table}: mirror != canonical store"
        snapshots[table] = got

    # cross-batch semantics visible through the DB surface
    msgs = {r[2]: r for r in snapshots["messages"]}  # message_queueid
    assert msgs["AAAA1111"][3] == "<a2@x>"  # last-writer-wins from batch 2
    assert msgs["AAAA1111"][8] == "<m1@x>"  # cleanup group survived the re-emit
    clients = {r[0]: r for r in snapshots["clients"]}
    assert str(clients["one.example.org[10.0.0.1]"][3]).startswith("2025-08-11 02:00:05")
    assert len(snapshots["logs"]) == 6  # 7 lines - 1 exact duplicate

    # replay from scratch: fresh checkpoint + state, same DB — idempotent
    _ingest(spark, str(log_dir), tmp_path, url, "b")
    for table, before in snapshots.items():
        ref_cols = [
            c for c in sinks.REFERENCE_COLUMN_TYPES[table]
            if c in _read_mirror(spark, url, table).columns
        ]
        after = sorted(
            tuple(str(v) for v in r)
            for r in _read_mirror(spark, url, table).select(*ref_cols).collect()
        )
        assert after == before, f"{table}: replay changed the mirror"


def test_write_training_shards_roundtrip_and_determinism(spark, tmp_path):
    """Shard export contract: writer manifest == file-level audit ==
    the registered doc_shard_assignment audit query; assignment is
    stable under adversarial pre-partitioning; exactly one file per
    shard; and the JSONL rows round-trip losslessly."""
    import glob

    from maillog2db_spark import io as mio
    from maillog2db_spark.operators import sampling as S

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    out = str(tmp_path / "shards")
    manifest = sinks.write_training_shards(docs, out)

    assert sinks.audit_training_shards(spark, out) == manifest
    q = {
        r.shard_id: {"n_docs": r.n_docs, "checksum": r.checksum}
        for r in S.shard_assignment(spark, sf).collect()
    }
    assert manifest == q

    m2 = sinks.write_training_shards(docs.repartition(7), str(tmp_path / "s2"))
    assert m2 == manifest

    for sid in manifest:
        assert len(glob.glob(f"{out}/data/shard_id={sid}/part-*.json")) == 1

    back = spark.read.json(f"{out}/data")
    assert back.count() == docs.count()
    a = docs.select("doc_id", "text")
    b = back.select("doc_id", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_materialized_backfill_and_parallel_writes_are_identical(spark, tmp_path):
    """The two batch-backfill optimizations change plumbing, never
    results: process_lines(materialize=True) yields the same four
    tables as the lazy path (the parse runs once instead of once per
    consumer), and write_canonical's concurrent default lands the same
    rows as parallel=False."""
    lines = spark.createDataFrame(
        [(i, l) for i, l in enumerate(LOG * 2)], ["seq", "value"]
    )
    lazy = pipeline.process_lines(lines, seq_col="seq", year=2025)
    mat = pipeline.process_lines(
        lines, seq_col="seq", year=2025, materialize=True
    )
    for name in ("logs", "clients", "messages", "deliveries"):
        a = sorted(map(tuple, getattr(lazy, name).collect()))
        b = sorted(map(tuple, getattr(mat, name).collect()))
        assert a == b, name

    par, ser = str(tmp_path / "par"), str(tmp_path / "ser")
    for out, parallel in ((par, True), (ser, False)):
        sinks.write_canonical(
            spark, out, logs=mat.logs, clients=mat.clients,
            messages=mat.messages, deliveries=mat.deliveries,
            parallel=parallel,
        )
    for name in ("logs", "clients", "messages", "deliveries"):
        a = sorted(map(tuple, spark.read.parquet(os.path.join(par, name)).collect()))
        b = sorted(map(tuple, spark.read.parquet(os.path.join(ser, name)).collect()))
        assert a == b, name
