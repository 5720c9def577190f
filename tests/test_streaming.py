"""Streaming-path tests: batch ≡ streaming, cross-batch merge semantics,
replay idempotence (SURVEY §5.2 items 3-4).

The fixture is three "rotated" log files. The batch baseline is built
with an EXPLICIT reference-order seq (file rank, line number) — the
ground truth the reference's single-threaded in-file loop would see —
and the streaming result (one file per micro-batch, rotation order)
must match it exactly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from maillog2db_spark import pipeline, streaming
from maillog2db_spark.ledger import COMPACTED_BATCH_ID
from maillog2db_spark.streaming_util import start_foreach_batch_stream

FILES = {
    # file 0: q1 connects + envelope; a client we'll see again later
    "maillog.1.log": [
        "Aug 11 01:00:01 mx01 postfix/smtpd[101]: AAAA1111: client=one.example.org[10.0.0.1]",
        "Aug 11 01:00:02 mx01 postfix/qmgr[102]: AAAA1111: from=<a@x>, size=100, nrcpt=1 (queue active)",
        "Aug 11 01:00:03 mx01 postfix/cleanup[103]: AAAA1111: message-id=<m1@x>",
        "Aug 11 01:00:04 mx01 postfix/smtp[104]: AAAA1111: to=<r@y>, relay=y[20.0.0.2]:25, delay=1.1, delays=0.1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
        "not a syslog line at all",
    ],
    # file 1: q2 full flow; exact duplicate of a file-0 line (cross-batch
    # dedup); q1's qmgr re-emitted with new size (cross-batch last-writer)
    "maillog.2.log": [
        "Aug 11 02:00:01 mx01 postfix/smtpd[201]: BBBB2222: client=two.example.org[10.0.0.2]",
        "Aug 11 01:00:04 mx01 postfix/smtp[104]: AAAA1111: to=<r@y>, relay=y[20.0.0.2]:25, delay=1.1, delays=0.1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
        "Aug 11 02:00:03 mx01 postfix/qmgr[202]: AAAA1111: from=<a2@x>, size=999, nrcpt=2 (queue active)",
        "Aug 11 02:00:04 mx01 postfix/qmgr[203]: BBBB2222: from=<b@x>, size=200, nrcpt=1 (queue active)",
    ],
    # file 2: client from file 0 reconnects (freshness update); delivery
    # retry at a later timestamp (distinct row, history preserved)
    "maillog.3.log": [
        "Aug 11 03:00:01 mx01 postfix/smtpd[301]: CCCC3333: client=one.example.org[10.0.0.1]",
        "Aug 11 03:00:02 mx01 postfix/smtp[302]: BBBB2222: to=<r2@y>, relay=z[20.0.0.3]:25, delay=2.2, delays=1/0/0.6/0.6, dsn=4.4.1, status=deferred (timeout)",
        "Aug 11 03:00:03 mx01 postfix/smtp[303]: BBBB2222: to=<r2@y>, relay=z[20.0.0.3]:25, delay=9.9, delays=8/0/0.9/1.0, dsn=4.4.1, status=deferred (timeout)",
    ],
}

YEAR = 2025


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("logs")
    for i, (name, lines) in enumerate(sorted(FILES.items())):
        p = d / name
        p.write_text("\n".join(lines) + "\n")
        # distinct ascending mtimes: the file stream source orders new
        # files by timestamp, and rotation order is the contract
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(d)


@pytest.fixture(scope="module")
def baseline(spark, log_dir):
    """Reference-order ground truth: explicit (file rank, line no) seq."""
    rows = []
    seq = 0
    for name in sorted(FILES):
        for line in FILES[name]:
            rows.append((seq, line))
            seq += 1
    df = spark.createDataFrame(
        rows,
        StructType([StructField("seq", LongType()), StructField("value", StringType())]),
    )
    return pipeline.process_lines(df, seq_col="seq", year=YEAR)


@pytest.fixture(scope="module")
def store(spark, log_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("store")
    st = streaming.ParquetStateStore(str(out / "state"))
    q = streaming.start_ingest(
        spark,
        log_dir,
        st.root,
        str(out / "ckpt"),
        year=YEAR,
        available_now=True,
    )
    q.awaitTermination(120)
    return st


def _ts_plus_100_days(df):
    """Advance the raw events ts by 100 days whatever its physical type:
    long nanoseconds (round-1 files) or TIMESTAMP_NTZ (round-2+)."""
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        return (F.col("ts") + F.lit(100 * 86400 * 10**9)).cast("long")
    return F.col("ts") + F.expr("INTERVAL 100 DAYS")


def _sorted(df, drop=()):
    df = df.drop(*drop)
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


def test_stream_equals_batch_logs(spark, store, baseline):
    assert _sorted(store.read(spark, "logs")) == _sorted(baseline.logs)
    # 12 lines - 1 inadmissible - 1 exact cross-batch duplicate = 10
    assert store.read(spark, "logs").count() == 10


def test_stream_equals_batch_deliveries(spark, store, baseline):
    assert _sorted(store.read(spark, "deliveries")) == _sorted(baseline.deliveries)
    # retry at a later ts is a distinct row; exact dup across files is not
    assert store.read(spark, "deliveries").count() == 3


def test_stream_equals_batch_messages(spark, store, baseline):
    got = _sorted(store.read(spark, "messages"))
    assert got == _sorted(baseline.messages)
    by_qid = {r[0]: r for r in got}
    # cross-batch last-writer-wins: file-1 qmgr re-emit overwrote size/from
    assert by_qid["AAAA1111"][4] == "999"
    assert by_qid["AAAA1111"][3] == "<a2@x>"
    # ...but the smtpd field group from batch 0 survived untouched
    assert by_qid["AAAA1111"][7] == "one.example.org[10.0.0.1]"
    assert by_qid["AAAA1111"][8] == "<m1@x>"


def test_stream_equals_batch_clients(spark, store, baseline):
    assert _sorted(store.read(spark, "clients")) == _sorted(baseline.clients)
    got = {r[0]: r for r in _sorted(store.read(spark, "clients"))}
    c = got["one.example.org[10.0.0.1]"]
    # freshness refreshed across batches; firstseen kept; count summed
    assert str(c[3]).startswith("2025-08-11 03:00:01")
    assert str(c[4]).startswith("2025-08-11 01:00:01")
    assert c[5] == 2


def test_streaming_tumbling_counts_match_batch(spark, tmp_path_factory):
    """ST3: windowed streaming agg (update mode, availableNow) converges
    to the batch tumbling counts over the same bounded input."""
    import shutil

    from maillog2db_spark import io as mio

    spark.conf.set(mio.NANOS_CONF, "true")
    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path_factory.mktemp("ev")
    shutil.copy(src, d / "events.parquet")
    batch_ev = mio.load_events(spark, "/root/testdata/sf0.001")
    # stream the raw file with the nanos-as-long schema, then apply the
    # same ns→us rebuild load_events does
    raw_schema = spark.read.parquet(str(d)).schema
    stream_ev = spark.readStream.schema(raw_schema).parquet(str(d))
    stream_ev = mio.normalize_event_ts(stream_ev)
    agg = streaming.streaming_tumbling_counts(stream_ev, ts_col="ts")
    rows: dict[tuple, int] = {}

    def sink(df, bid):
        for r in df.collect():
            rows[(r.window_start, r.window_end)] = r.n_events

    q = agg.writeStream.foreachBatch(sink).outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)

    expected = {
        (r.window_start, r.window_end): r.n_events
        for r in streaming.streaming_tumbling_counts(batch_ev).collect()
    }
    assert rows == expected


def test_streaming_sessionize_matches_batch_session_window(spark, tmp_path_factory):
    """ST3: streaming session_window (append mode — the only mode session
    windows support) matches the batch aggregation. Sessions only emit
    once the watermark passes their end, so a far-future sentinel event
    arrives in a SECOND micro-batch to advance the watermark past every
    real session (the standard bounded-input flush technique)."""
    import shutil

    from maillog2db_spark import io as mio

    spark.conf.set(mio.NANOS_CONF, "true")
    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path_factory.mktemp("ev2")
    shutil.copy(src, d / "events.parquet")
    # sentinel: one event 100 days after the data, in its own file/batch
    base = spark.read.parquet(str(d))
    sentinel = base.limit(1).withColumn(
        "ts", _ts_plus_100_days(base)
    ).withColumn("user_id", F.lit(-1).cast("long"))
    sentinel.write.parquet(str(d) + "_sent")
    shutil.copy(
        next(str(p) for p in __import__("pathlib").Path(str(d) + "_sent").glob("*.parquet")),
        d / "zz_sentinel.parquet",
    )
    os.utime(d / "events.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(d / "zz_sentinel.parquet", (1_700_000_060, 1_700_000_060))

    raw_schema = base.schema
    stream_ev = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    stream_ev = mio.normalize_event_ts(stream_ev)
    rows: dict[tuple, int] = {}

    def sink(df, bid):
        for r in df.collect():
            rows[(r.user_id, r.session_start, r.session_end)] = r.n_events

    q = (
        streaming.streaming_sessionize(stream_ev)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = streaming.streaming_sessionize(mio.load_events(spark, "/root/testdata/sf0.001"))
    expected = {
        (r.user_id, r.session_start, r.session_end): r.n_events for r in batch.collect()
    }
    got = {k: v for k, v in rows.items() if k[0] != -1}
    assert got == expected


def _leaf_files(store):
    """{leaf directory: {data file name: st_mtime_ns}} of the store's
    one directory, relative to it."""
    out: dict[str, dict[str, int]] = {}
    for dp, _, fs in os.walk(store.state):
        data = [f for f in fs if not f.startswith(("_", "."))]
        if data:
            out[os.path.relpath(dp, store.state)] = {
                f: os.stat(os.path.join(dp, f)).st_mtime_ns for f in data
            }
    return out


def test_state_store_file_count_bounded(spark, store):
    """The store is one directory: the lines table, at most MAX_DELTAS
    committed deltas plus any uncommitted ones, and one snapshot per
    table. After the fixture's three batches nothing has folded, so it
    holds exactly the three batches' line deltas, each one directory of
    at most one file per task, and no snapshot."""
    from maillog2db_spark import ledger

    leaves = _leaf_files(store)
    (ns,) = os.listdir(os.path.join(store.root, "_ledger"))
    assert set(leaves) == {os.path.join("lines", f"batch_id={b}", f"ns={ns}") for b in range(3)}
    assert 3 <= ledger.MAX_DELTAS
    assert all(1 <= len(fs) <= spark.sparkContext.defaultParallelism for fs in leaves.values())
    assert set(os.listdir(store.state)) == {"lines"}


def test_fold_deltas_bounds_waiting_deltas(spark, tmp_path):
    """The count rule on its own: committed partials wait until
    MAX_DELTAS of them do, whatever their sizes, then fold; the
    compacted partition and an uncommitted partial never count, and the
    uncommitted one survives every fold raw and unchanged."""
    from maillog2db_spark import ledger

    table = ledger.PartialsTable(
        str(tmp_path / "t"), lambda df: df.dropDuplicates(["k"]).drop("batch_id"))

    def write(b, n):
        table.write(spark.range(n).select(F.sha2(F.col("id").cast("string"), 256).alias("k")), b)

    def fold():
        return ledger.fold_deltas(spark, table, lambda b: b != 99)

    write(0, 5000)  # a large first partial does not fold early
    write(99, 1)  # in flight: never counted, never folded
    assert not fold()
    for b in range(1, 2 * ledger.MAX_DELTAS):
        write(b, 1)
        committed = b + 1 if b < ledger.MAX_DELTAS else b + 1 - ledger.MAX_DELTAS
        assert fold() == (committed == ledger.MAX_DELTAS), b
        assert len(ledger.partial_sizes(table.path)) <= ledger.MAX_DELTAS + 2
    assert set(ledger.partial_sizes(table.path)) == {("-1",), ("99",)}
    got = spark.read.parquet(table.path)
    assert got.filter("batch_id = 99").count() == 1
    assert got.select("k").distinct().count() == 5000


_REDUCES = {
    "sum": lambda df: df.groupBy("k").agg(F.sum("n").cast("bigint").alias("n")),
    "lww": lambda df: df.groupBy("k").agg(F.max_by("n", "batch_id").alias("n")),
}


def _partials_table(spark, tmp_path, reduce="sum"):
    """A (k, n) PartialsTable written by batches 0-3, resolved by a sum
    or last writer wins, and a commit test under which batch 3 is
    uncommitted."""
    from maillog2db_spark import ledger

    table = ledger.PartialsTable(str(tmp_path / "t"), _REDUCES[reduce])
    for b in range(4):
        table.write(spark.createDataFrame([("a", b + 1), (f"k{b}", 10)], "k string, n bigint"), b)
    return table, lambda b: b < 3


def _parts(path):
    return {int(e.split("=")[1]) for e in os.listdir(path) if e.startswith("batch_id=")}


@pytest.mark.parametrize("reduce,a_all,a_asof,a_rewritten", [
    ("sum", 10, 6, 106),
    ("lww", 4, 3, 100),
], ids=["sum", "lww"])
def test_partials_table_reads_one_reduce_across_compaction(
    spark, tmp_path, reduce, a_all, a_asof, a_rewritten,
):
    """One reduce serves the read and the compaction: compacting with
    keep_latest 0 or 1 leaves every read unchanged and keeps the
    uncommitted batch (and the newest committed ones) raw; rewriting a
    batch replaces only its partition; exclude_batch is the as-of
    view. Under last writer wins (``max_by(n, batch_id)``) the compacted
    partition ranks below every batch: the uncommitted batch 3, raw,
    still overrides the folded key ``a``, before and after its
    rewrite."""
    table, committed = _partials_table(spark, tmp_path, reduce)

    def read(exclude=None):
        return sorted(map(tuple, table.read(spark, exclude).collect()))

    want, asof = read(), read(3)
    assert want == [("a", a_all), ("k0", 10), ("k1", 10), ("k2", 10), ("k3", 10)]
    assert asof == [("a", a_asof), ("k0", 10), ("k1", 10), ("k2", 10)]
    table.compact(spark, committed, keep_latest=1)
    assert _parts(table.path) == {-1, 2, 3}
    assert (read(), read(3)) == (want, asof)
    table.compact(spark, committed)
    assert _parts(table.path) == {-1, 3}
    assert (read(), read(3)) == (want, asof)

    table.write(spark.createDataFrame([("a", 100)], "k string, n bigint"), 3)
    assert _parts(table.path) == {-1, 3}
    assert read() == [("a", a_rewritten), ("k0", 10), ("k1", 10), ("k2", 10)]
    assert read(3) == asof


def test_partials_table_read_recovers_interrupted_compaction(spark, tmp_path, monkeypatch):
    """A crash between the compaction swap's two renames leaves no table
    directory; the next read recovers it and equals the read before."""
    from maillog2db_spark import ledger

    table, committed = _partials_table(spark, tmp_path)
    want = sorted(map(tuple, table.read(spark).collect()))
    rename = os.rename

    def crash_before_promote(src, dst):
        if src.endswith("_rewriting"):
            raise OSError("crash between the renames")
        rename(src, dst)

    monkeypatch.setattr(ledger.os, "rename", crash_before_promote)
    with pytest.raises(OSError, match="between the renames"):
        table.compact(spark, committed)
    monkeypatch.undo()
    assert not os.path.exists(table.path)
    assert sorted(map(tuple, table.read(spark).collect())) == want


def test_first_writer_as_of_read_survives_fold(spark, tmp_path, monkeypatch):
    """The count rule reaches the first-writer tables: with it at two
    deltas, the scrub store folds its shingles after batch 2's mark
    while batch 1, which crashed before its mark, stays raw. The as-of
    read that excludes batch 1, which its replay makes, returns the
    same rows after the fold as before it (batch 2 only repeats batch
    0's text, so it adds no first writer)."""
    from maillog2db_spark import ledger
    from maillog2db_spark import streaming_scrub as sc

    monkeypatch.setattr(ledger, "MAX_DELTAS", 2)
    store = sc.ScrubStore(str(tmp_path / "scrub"))
    text = {c: " ".join(f"{c}{i}" for i in range(30)) for c in "abc"}
    docs = [[(0, text["a"]), (1, text["b"])], [(2, text["c"] + " " + text["a"])],
            [(3, text["a"])]]

    def ingest(b):
        batch = spark.createDataFrame(docs[b], "doc_id long, text string")
        sc.scrub_ingest_batch(spark, batch, store, b)

    def as_of():
        return sorted(map(tuple, store.shingles.read(spark, exclude_batch=1).collect()))

    ingest(0)
    with monkeypatch.context() as m:
        m.setattr(store, "mark_committed", lambda b: (_ for _ in ()).throw(OSError("crash")))
        with pytest.raises(OSError, match="crash"):
            ingest(1)
    before = as_of()
    assert before and _parts(store.shingles.path) == {0, 1}
    ingest(2)
    assert _parts(store.shingles.path) == {COMPACTED_BATCH_ID, 1}
    assert as_of() == before


def test_later_namespace_wins_whatever_its_batch_id(spark, tmp_path):
    """After a checkpoint reset batch ids restart at 0: the newer
    namespace's batch 0 still wins last-writer-wins over the older
    namespace's batch 5, because namespaces order by epoch first."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    qmgr = ("Aug 11 04:00:0{} mx01 postfix/qmgr[401]: DDDD4444: "
            "from=<d@x>, size={}, nrcpt=1 (queue active)")
    for ns, b, size in (("old", 5, 1), ("new", 0, 2)):
        batch = spark.createDataFrame([(qmgr.format(size, size),)], "value string")
        streaming.merge_batch(batch, b, st, year=YEAR, ledger_ns=ns)
    (m,) = st.read(spark, "messages").collect()
    assert m.message_size == "2"
    assert (st.epoch("old"), st.epoch("new")) == (1, 2)


def test_recreated_checkpoint_ingests_its_own_batches(spark, tmp_path):
    """A checkpoint deleted and recreated at the same path is a new
    ledger namespace: its batch 0 (the whole tailed file again, now with
    appended lines) is not skipped as the old run's committed batch 0."""
    import shutil

    log, ckpt = tmp_path / "maillog", str(tmp_path / "ckpt")
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    log.write_text("\n".join(FILES["maillog.1.log"]) + "\n")

    def run():
        streaming.start_ingest(spark, str(log), st.root, ckpt, year=YEAR,
                               available_now=True, tail_file=True).awaitTermination(120)

    run()
    assert st.read(spark, "logs").count() == 4
    shutil.rmtree(ckpt)
    with open(log, "a") as f:
        f.write("\n".join(FILES["maillog.3.log"]) + "\n")
    run()
    got = {r.log_message for r in st.read(spark, "logs").collect()}
    assert st.read(spark, "logs").count() == 4 + 3
    assert any("CCCC3333" in m for m in got)


def test_merge_writes_only_its_own_delta(spark, tmp_path):
    """A merge is O(batch): a batch that does not fold changes no
    existing data file and writes one new directory, its line delta at
    lines/batch_id=<b>/ns=<ns>, plus one ledger marker; an empty batch
    writes nothing but its marker."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    qmgr = ("Aug 11 04:00:0{} mx01 postfix/qmgr[401]: DDDD444{}: "
            "from=<d@x>, size=300, nrcpt=1 (queue active)")
    streaming.merge_batch(_maillog_batch(spark, 0), 0, st, year=YEAR, ledger_ns="t")
    for b in (1, 2):
        batch = spark.createDataFrame([(qmgr.format(b, b),)], "value string")
        before = _leaf_files(st)
        streaming.merge_batch(batch, b, st, year=YEAR, ledger_ns="t")
        after = _leaf_files(st)
        assert {d: after[d] for d in before} == before
        assert list(set(after) - set(before)) == [
            os.path.join("lines", f"batch_id={b}", "ns=t")]
    assert sorted(os.listdir(os.path.join(st.root, "_ledger", "t"))) == ["0", "1", "2", "epoch"]

    def snapshot():
        # directories too: a write job stages under the table directory
        return {
            p: os.stat(p).st_mtime_ns
            for dp, _, fs in os.walk(st.state)
            for p in [dp] + [os.path.join(dp, f) for f in fs]
        }

    quiet = snapshot()
    empty = spark.createDataFrame([], "value string")
    streaming.merge_batch(empty, 3, st, year=YEAR, ledger_ns="t")
    unadmitted = spark.createDataFrame([("not a syslog line",)], "value string")
    streaming.merge_batch(unadmitted, 4, st, year=YEAR, ledger_ns="t")
    assert snapshot() == quiet
    assert st.committed(3, "t") and st.committed(4, "t")


def _twin(spark, lines):
    """The batch pipeline over ``lines`` in arrival order."""
    df = spark.createDataFrame(list(enumerate(lines)), "seq long, value string")
    return pipeline.process_lines(df, seq_col="seq", year=YEAR)


def test_seen_count_exactly_once_on_replay(spark, log_dir, tmp_path):
    """A crash between a batch's line delta and its mark replays that
    (ns, batch_id): the replayed delta replaces the first one, so
    client_seen_count counts the batch's lines once, and the other
    batch's delta is not touched."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    names = sorted(FILES)
    batches = [spark.createDataFrame([(x,) for x in FILES[n]], "value string")
               for n in (names[0], names[2])]
    for b, batch in enumerate(batches):
        streaming.merge_batch(batch, b, st, year=YEAR, ledger_ns="r")
    before = {t: _sorted(st.read(spark, t)) for t in streaming.TABLE_KEYS}
    files = _leaf_files(st)
    os.remove(os.path.join(st.root, "_ledger", "r", "1"))
    streaming.merge_batch(batches[1], 1, st, year=YEAR, ledger_ns="r")
    assert {t: _sorted(st.read(spark, t)) for t in streaming.TABLE_KEYS} == before
    clients = {r.client: r.client_seen_count for r in st.read(spark, "clients").collect()}
    assert clients == {"one.example.org[10.0.0.1]": 2}
    after = _leaf_files(st)
    first = os.path.join("lines", "batch_id=0", "ns=r")
    assert after[first] == files[first] and set(after) == set(files)
    assert st.committed(1, "r")


def test_namespaces_keep_their_own_deltas(spark, tmp_path):
    """Batch ids restart at 0 under a fresh checkpoint: two ledger
    namespaces writing the same batch id keep both deltas, so both
    runs' rows survive and a client seen by both counts twice."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    names = sorted(FILES)
    for ns, name in (("a", names[0]), ("b", names[2])):
        batch = spark.createDataFrame([(x,) for x in FILES[name]], "value string")
        streaming.merge_batch(batch, 0, st, year=YEAR, ledger_ns=ns)
    assert st.read(spark, "logs").count() == 4 + 3
    assert st.read(spark, "deliveries").count() == 1 + 2
    clients = {r.client: r.client_seen_count for r in st.read(spark, "clients").collect()}
    assert clients == {"one.example.org[10.0.0.1]": 2}


def test_seq_orders_across_batch_id_2_15(spark, tmp_path):
    """The ordering key is the struct (batch_id, row seq), not a packed
    long: batch 2^15 still beats batch 2^15 - 1 for last-writer-wins,
    even when its line carries the earlier timestamp."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    lines = {
        (1 << 15) - 1: [
            "Aug 11 05:00:01 mx01 postfix/smtpd[1]: EEEE5555: client=c.example.org[10.0.0.9]",
            "Aug 11 05:00:02 mx01 postfix/qmgr[2]: EEEE5555: from=<a@x>, size=1, nrcpt=1 (queue active)",
        ],
        1 << 15: [
            "Aug 11 04:00:01 mx01 postfix/smtpd[1]: EEEE5555: client=c.example.org[10.0.0.9]",
            "Aug 11 04:00:02 mx01 postfix/qmgr[2]: EEEE5555: from=<b@x>, size=2, nrcpt=1 (queue active)",
        ],
    }
    for b, ls in lines.items():
        batch = spark.createDataFrame([(x,) for x in ls], "value string")
        streaming.merge_batch(batch, b, st, year=YEAR, ledger_ns="w")
    twin = _twin(spark, [x for ls in lines.values() for x in ls])
    for t in streaming.TABLE_KEYS:
        assert _sorted(st.read(spark, t)) == _sorted(getattr(twin, t)), t
    (m,) = st.read(spark, "messages").collect()
    assert (m.message_from, m.message_size) == ("<b@x>", "2")
    (c,) = st.read(spark, "clients").collect()
    assert str(c.client_lastseen).startswith("2025-08-11 04:00:01")


def _fold_at_batch_1(spark, tmp_path, monkeypatch, ns="c"):
    """A store whose count rule folds after two committed deltas, with
    file 1 merged as batch 0; returns it, file 2's batch and the batch
    twin of both files."""
    from maillog2db_spark import ledger

    monkeypatch.setattr(ledger, "MAX_DELTAS", 2)
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    names = sorted(FILES)[:2]
    batches = [spark.createDataFrame([(x,) for x in FILES[n]], "value string") for n in names]
    streaming.merge_batch(batches[0], 0, st, year=YEAR, ledger_ns=ns)
    return st, batches[1], _twin(spark, [x for n in names for x in FILES[n]])


def test_compaction_crash_recovers(spark, log_dir, tmp_path, monkeypatch):
    """A crash inside the fold loses nothing. The crash lands between
    atomic_rewrite's two renames (no store directory left); the next
    read's recovery then crashes right after its first rmtree.
    Recovering afterwards promotes the complete new store: every table
    reads equal to the batch twin from the snapshots alone."""
    from maillog2db_spark import ledger

    st, batch1, twin = _fold_at_batch_1(spark, tmp_path, monkeypatch)
    rename, rmtree = os.rename, ledger.shutil.rmtree

    def crash_before_promote(src, dst):
        if src.endswith("_rewriting"):
            raise OSError("crash between the renames")
        rename(src, dst)

    monkeypatch.setattr(ledger.os, "rename", crash_before_promote)
    with pytest.raises(OSError, match="between the renames"):
        streaming.merge_batch(batch1, 1, st, year=YEAR, ledger_ns="c")
    monkeypatch.setattr(ledger.os, "rename", rename)
    # the fold ran after batch 1's mark: only the two copies are left
    assert st.committed(1, "c")
    assert not os.path.exists(st.state)
    assert os.path.isdir(st.state + "_old") and os.path.isdir(st.state + "_rewriting")

    def crash_after_rmtree(p, *a, **k):
        rmtree(p, *a, **k)
        raise OSError("crash after the first rmtree")

    monkeypatch.setattr(ledger.shutil, "rmtree", crash_after_rmtree)
    with pytest.raises(OSError, match="first rmtree"):
        st.read(spark, "logs")
    monkeypatch.setattr(ledger.shutil, "rmtree", rmtree)

    for t in streaming.TABLE_KEYS:
        assert _sorted(st.read(spark, t)) == _sorted(getattr(twin, t)), t
    assert sorted(os.listdir(st.state)) == ["_SUCCESS", *sorted(streaming.TABLE_KEYS)]
    assert not os.path.exists(st.state + "_old")
    assert not os.path.exists(st.state + "_rewriting")


@pytest.mark.parametrize("step", ["table_write", "marker", "old_removal"])
def test_fold_crash_at_any_step_leaves_old_or_new_store(
    spark, tmp_path, monkeypatch, step,
):
    """The fold is one atomic swap of the whole store. A crash while a
    table's snapshot is written, or before the swap's completion
    marker, leaves the old store (both line deltas, no snapshot); a
    crash once the new copy is swapped in leaves the new one (four
    snapshots, no delta). Either reads equal to the batch twin, and
    the next batch folds or appends as usual."""
    from maillog2db_spark import ledger

    st, batch1, twin = _fold_at_batch_1(spark, tmp_path, monkeypatch)
    crash = OSError(f"crash at {step}")
    if step == "table_write":
        def fail(*a, **k):
            raise crash
        monkeypatch.setattr(streaming.ParquetStateStore, "merge_messages", fail)
    elif step == "marker":
        real_open = open

        def fail(p, *a, **k):
            if str(p).endswith(os.path.join("state_rewriting", "_SUCCESS")):
                raise crash
            return real_open(p, *a, **k)
        monkeypatch.setattr("builtins.open", fail)
    else:
        rmtree = ledger.shutil.rmtree

        def fail(p, *a, **k):
            if str(p).endswith("state_old") and os.path.isdir(p):  # the swap's last step
                raise crash
            rmtree(p, *a, **k)
        monkeypatch.setattr(ledger.shutil, "rmtree", fail)
    with pytest.raises(OSError, match=f"crash at {step}"):
        streaming.merge_batch(batch1, 1, st, year=YEAR, ledger_ns="c")
    monkeypatch.undo()
    monkeypatch.setattr(ledger, "MAX_DELTAS", 2)

    got = {t: _sorted(st.read(spark, t)) for t in streaming.TABLE_KEYS}
    assert got == {t: _sorted(getattr(twin, t)) for t in streaming.TABLE_KEYS}
    folded = step == "old_removal"
    assert os.path.isdir(st.path("logs")) == folded
    assert os.path.isdir(st.lines.path) != folded
    assert not os.path.exists(st.state + "_old")
    assert not os.path.exists(st.state + "_rewriting")

    third = sorted(FILES)[2]
    streaming.merge_batch(spark.createDataFrame([(x,) for x in FILES[third]], "value string"),
                          2, st, year=YEAR, ledger_ns="c")
    twin = _twin(spark, [x for n in sorted(FILES) for x in FILES[n]])
    for t in streaming.TABLE_KEYS:
        assert _sorted(st.read(spark, t)) == _sorted(getattr(twin, t)), t


def test_stream_equals_batch_across_folds(spark, tmp_path, monkeypatch):
    """Stream ≡ batch for all four tables before and after every fold,
    over two namespaces: with the count rule at two deltas, namespace
    a's batches 0-2 and namespace b's batch 0 (batch ids restart)
    fold twice, and every read equals the batch twin of the lines so
    far in arrival order."""
    from maillog2db_spark import ledger

    monkeypatch.setattr(ledger, "MAX_DELTAS", 2)
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    names = sorted(FILES)
    seen, folded = [], []
    for ns, b, name in (("a", 0, names[0]), ("a", 1, names[1]),
                        ("a", 2, names[2]), ("b", 0, names[0])):
        batch = spark.createDataFrame([(x,) for x in FILES[name]], "value string")
        streaming.merge_batch(batch, b, st, year=YEAR, ledger_ns=ns)
        seen += FILES[name]
        folded.append(os.path.isdir(st.path("logs")) and not os.path.isdir(st.lines.path))
        twin = _twin(spark, seen)
        for t in streaming.TABLE_KEYS:
            assert _sorted(st.read(spark, t)) == _sorted(getattr(twin, t)), (ns, b, t)
    assert folded == [False, True, False, True]
    clients = {r.client: r.client_seen_count for r in st.read(spark, "clients").collect()}
    assert clients["one.example.org[10.0.0.1]"] == 3


def test_ledger_marker_layout_pinned(spark, log_dir, tmp_path):
    """Batch markers live at <store>/_ledger/<ns>/<batch_id>, one per
    batch. A deployment restarted over markers written at that path
    must skip the batches they name: a moved marker would replay every
    batch and double the one non-idempotent column,
    clients.client_seen_count."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    lines = spark.read.text(log_dir)
    streaming.merge_batch(lines, 0, st, year=YEAR, ledger_ns="ns0")
    assert os.path.isfile(os.path.join(st.root, "_ledger", "ns0", "0"))
    before = {t: _sorted(st.read(spark, t)) for t in streaming.TABLE_KEYS}

    d = os.path.join(st.root, "_ledger", "ns1")
    os.makedirs(d)
    open(os.path.join(d, "7"), "w").close()
    streaming.merge_batch(lines, 7, st, year=YEAR, ledger_ns="ns1")
    assert {t: _sorted(st.read(spark, t)) for t in streaming.TABLE_KEYS} == before


def test_max_committed_reads_scoped_markers(spark, log_dir, tmp_path):
    """The four-table store's markers live under <ns>, so its latest
    committed batch is ``max_committed(ns)``; the root ledger directory
    holds no ids of its own."""
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    lines = spark.read.text(log_dir)
    assert st.max_committed("ns0") is None
    streaming.merge_batch(lines, 3, st, year=YEAR, ledger_ns="ns0")
    streaming.merge_batch(lines, 5, st, year=YEAR, ledger_ns="ns0")
    assert st.max_committed("ns0") == 5
    assert st.max_committed("ns1") is None
    assert st.max_committed() is None


def test_mark_committed_fsyncs_marker_and_directory(tmp_path, monkeypatch):
    """A mark is durable once it returns: the marker file and the
    directory holding its entry are both fsynced."""
    from maillog2db_spark import ledger

    synced = []
    fsync = os.fsync

    def record(fd):
        st = os.fstat(fd)
        synced.append((st.st_dev, st.st_ino))
        fsync(fd)

    monkeypatch.setattr(ledger.os, "fsync", record)
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    st.mark_committed(4, "ns0")
    marker = os.path.join(st.root, "_ledger", "ns0", "4")
    want = [os.stat(p) for p in (marker, os.path.dirname(marker))]
    assert set(synced) == {(s.st_dev, s.st_ino) for s in want}


def _maillog_batch(spark, b, n_msgs=150):
    """``n_msgs`` message lifecycles (smtpd, cleanup, qmgr, smtp lines),
    every key unique to batch ``b``: batches of one shape, new keys."""
    lines = []
    for i in range(n_msgs):
        q = f"Q{b:03d}{i:05d}"
        h = f"Aug 11 0{b}:{i // 60:02d}:{i % 60:02d} mx01 postfix"
        lines += [
            f"{h}/smtpd[1]: {q}: client=c{b}x{i}.example.org[10.{b}.0.{i}]",
            f"{h}/cleanup[2]: {q}: message-id=<{q}@x>",
            f"{h}/qmgr[3]: {q}: from=<s{i}@x>, size={i}, nrcpt=1 (queue active)",
            f"{h}/smtp[4]: {q}: to=<r{i}@y>, relay=y[20.0.0.2]:25, delay=1.1, "
            "delays=0.1/0/0.5/0.5, dsn=2.0.0, status=sent (ok)",
        ]
    return spark.createDataFrame([(x,) for x in lines], "value string")


def test_steady_batch_repeats_no_fixed_jvm_work(spark, tmp_path, monkeypatch):
    """A steady micro-batch reuses the previous batches' generated code
    and runs no job to list or infer the store's layout. With the count
    rule at three deltas, batches 0-1 only write, batch 2 folds for the
    first time; batch 3, a steady batch that does not fold, compiles no
    class and runs at most 3 jobs. Batch 5 folds into the existing
    snapshots and runs no stage of 64 or more tasks and no job from a
    parquet read."""
    from maillog2db_spark import ledger

    monkeypatch.setattr(ledger, "MAX_DELTAS", 3)
    st = streaming.ParquetStateStore(str(tmp_path / "state"))
    sc = spark.sparkContext
    tracker, jsc = sc.statusTracker(), sc._jsc.sc()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def measured(b):
        batch = _maillog_batch(spark, b)
        jsc.listenerBus().waitUntilEmpty()
        seen = set(tracker.getJobIdsForGroup(None))
        compiles = codegen.METRIC_COMPILATION_TIME().getCount()
        streaming.merge_batch(batch, b, st, year=YEAR, ledger_ns="f")
        compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles
        jsc.listenerBus().waitUntilEmpty()
        return compiles, set(tracker.getJobIdsForGroup(None)) - seen

    for b in range(3):
        streaming.merge_batch(_maillog_batch(spark, b), b, st, year=YEAR, ledger_ns="f")
    assert os.path.isdir(st.path("logs"))  # batch 2 folded
    compiles, jobs = measured(3)
    assert len(ledger.partial_sizes(st.lines.path)) == 1  # it did not fold
    assert (compiles, len(jobs) <= 3) == (0, True), (compiles, len(jobs))

    streaming.merge_batch(_maillog_batch(spark, 4), 4, st, year=YEAR, ledger_ns="f")
    _, jobs = measured(5)
    assert not os.path.isdir(st.lines.path)  # the measured batch folded
    stages = [
        jsc.statusStore().lastStageAttempt(s)
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        # the status store evicts skipped stages (reused shuffle output,
        # no task run) first once it holds spark.ui.retainedStages
        if tracker.getStageInfo(s) is not None
    ]
    assert stages
    assert max(s.numTasks() for s in stages) < 64
    # a partition-listing job and a parquet footer (schema) job both run
    # from the read call; the store's fold reads with a known schema
    assert not [s.name() for s in stages if "DataFrameReader.parquet" in s.details()]


def test_driver_jvm_runs_c1_with_a_sized_code_cache(spark):
    """``get_spark`` launches the driver JVM with C1-only tiering and the
    code cache that policy needs: C1 alone shrinks HotSpot's reserved
    code cache to 48 MB, which a long-lived session fills ("CodeCache
    is full. Compiler has been disabled"), after which it runs
    interpreted."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args
    assert "-XX:ReservedCodeCacheSize=240m" in args
    # C1-only tiering uses one unsegmented code heap
    (pool,) = [p for p in mf.getMemoryPoolMXBeans() if p.getName() == "CodeCache"]
    assert pool.getUsage().getMax() >= 240 * 1024 * 1024
    assert pool.getPeakUsage().getUsed() < pool.getUsage().getMax()


def probe_ingest_batch(spark, df, store, batch_id, tag=None):
    store.append((batch_id, sorted(r["k"] for r in df.collect()), tag))


def test_foreach_batch_stream_contract(spark, tmp_path):
    """The one stream entry point for the incremental stores: each
    single-file drop is its own micro-batch (one file per trigger, the
    ST7 bound), handed to ``ingest(spark, batch, store, batch_id,
    **kwargs)`` with the keyword arguments passed through, and the
    query is named after the ingest without its ``_batch`` suffix."""
    import shutil

    src = tmp_path / "drops"
    src.mkdir()
    waves = [list(range(10 * i, 10 * i + 2 + i)) for i in range(3)]
    for i, keys in enumerate(waves):
        tmp = tmp_path / f"_tmp{i}"
        wave = spark.createDataFrame([(k,) for k in keys], "k long")
        wave.coalesce(1).write.parquet(str(tmp))
        dest = src / f"wave{i}.parquet"
        shutil.move(str(next(tmp.glob("part-*.parquet"))), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        shutil.rmtree(tmp)

    seen = []
    q = start_foreach_batch_stream(
        spark, str(src), probe_ingest_batch, seen, str(tmp_path / "ckpt"),
        available_now=True, tag="x",
    )
    q.awaitTermination(120)
    assert q.name == "probe_ingest"
    assert seen == [(i, keys, "x") for i, keys in enumerate(waves)]


def test_merge_idempotent_and_ledger_skips_redelivery(spark, store, log_dir):
    """Replaying all input as a new batch leaves every reference payload
    unchanged (merges are idempotent — the reference's replay-from-start
    semantics, README.md:28); only the derived occurrence counter moves.
    Re-delivering the SAME batch id again is a full no-op (ledger, ST5)."""
    before = {t: _sorted(store.read(spark, t)) for t in streaming.TABLE_KEYS}
    replay = spark.read.text(log_dir)
    streaming.merge_batch(replay, 99, store, year=YEAR, ledger_ns="replaytest")
    mid = {t: _sorted(store.read(spark, t)) for t in streaming.TABLE_KEYS}
    assert mid["logs"] == before["logs"]
    assert mid["deliveries"] == before["deliveries"]
    assert mid["messages"] == before["messages"]
    # clients: freshness/identity stable, seen_count doubled
    assert [r[:5] for r in mid["clients"]] == [r[:5] for r in before["clients"]]
    assert [r[5] for r in mid["clients"]] == [2 * r[5] for r in before["clients"]]

    # exact re-delivery of a committed (ns, batch_id): complete no-op
    streaming.merge_batch(replay, 99, store, year=YEAR, ledger_ns="replaytest")
    after = {t: _sorted(store.read(spark, t)) for t in streaming.TABLE_KEYS}
    assert after == mid


def test_streaming_interval_join_matches_batch_range_join(spark, tmp_path_factory):
    """Stream-stream interval join (click → purchase within 5 min per
    user) converges to the batch bucket-decomposition range join
    restricted to the same event types."""
    import shutil

    from maillog2db_spark import io as mio
    from maillog2db_spark.operators import temporal

    spark.conf.set(mio.NANOS_CONF, "true")
    d = tmp_path_factory.mktemp("ev_ssj")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    raw_schema = spark.read.parquet(str(d)).schema
    stream_ev = spark.readStream.schema(raw_schema).parquet(str(d))
    stream_ev = mio.normalize_event_ts(stream_ev)
    joined = streaming.streaming_interval_join(
        stream_ev.filter(F.col("event_type") == "click"),
        stream_ev.filter(F.col("event_type") == "purchase"),
        window_sec=temporal.RANGE_WINDOW_SEC,
    )
    got: set[tuple] = set()
    q = (
        joined.writeStream.foreachBatch(
            lambda df, bid: got.update(
                (r.left_event_id, r.right_event_id, r.gap_us) for r in df.collect()
            )
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_ev = mio.load_events(spark, "/root/testdata/sf0.001").collect()
    types = {r["event_id"]: r["event_type"] for r in batch_ev}
    expected = {
        (r.left_event_id, r.right_event_id, r.gap_us)
        for r in temporal.event_pairs_within_window(spark, "/root/testdata/sf0.001").collect()
        if types[r.left_event_id] == "click" and types[r.right_event_id] == "purchase"
    }
    assert got == expected
    assert got, "expected at least one click→purchase pair at sf0.001"


def test_stream_static_enrich_matches_batch_join(spark, tmp_path_factory):
    """Stream-static broadcast join (stateless per micro-batch) converges
    to the batch left join over the same bounded input."""
    import shutil

    from maillog2db_spark import io as mio

    spark.conf.set(mio.NANOS_CONF, "true")
    d = tmp_path_factory.mktemp("ev_ss")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    batch_ev = mio.load_events(spark, "/root/testdata/sf0.001")
    dim = (
        batch_ev.select("user_id").distinct()
        .withColumn("user_bucket", (F.col("user_id") % 7).cast("int"))
    )
    raw_schema = spark.read.parquet(str(d)).schema
    stream_ev = spark.readStream.schema(raw_schema).parquet(str(d))
    stream_ev = mio.normalize_event_ts(stream_ev)
    enriched = streaming.stream_static_enrich(
        stream_ev.select("event_id", "user_id"), dim, key="user_id"
    )
    got: dict[int, int] = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.event_id] = r.user_bucket

    q = enriched.writeStream.foreachBatch(sink).outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)

    expected = {
        r.event_id: r.user_bucket
        for r in batch_ev.select("event_id", "user_id").join(dim, "user_id", "left").collect()
    }
    assert got == expected


def test_streaming_interval_left_outer_join_emits_unmatched(spark, tmp_path_factory):
    """how='leftOuter' interval join: matched rows equal the inner join;
    unmatched clicks emit with gap_us NULL once the watermark passes
    l_ts + window. Watermarks advance one batch behind event time, so
    the flush needs a sentinel batch AND a trailing batch: sentinel
    raises the max event time, the next batch's recomputed watermark
    actually evicts."""
    import pathlib
    import shutil

    from maillog2db_spark import io as mio
    from maillog2db_spark.operators import temporal

    spark.conf.set(mio.NANOS_CONF, "true")
    d = tmp_path_factory.mktemp("ev_ssoj")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    base = spark.read.parquet(str(d))

    def write_single(tag: str, event_type: str, user: int, mtime: int):
        s = (
            base.limit(1)
            .withColumn("ts", _ts_plus_100_days(base))
            .withColumn("user_id", F.lit(user).cast("long"))
            .withColumn("event_type", F.lit(event_type))
        )
        out = str(d) + "_" + tag
        s.coalesce(1).write.parquet(out)
        src = next(str(p) for p in pathlib.Path(out).glob("*.parquet"))
        shutil.copy(src, d / f"zz_{tag}.parquet")

    # batch2: far-future click+purchase sentinels advance max event time;
    # batch3: one more far-future pair so the new watermark gets APPLIED
    write_single("s1c", "click", -1, 1_700_000_060)
    write_single("s1p", "purchase", -1, 1_700_000_060)
    write_single("s2c", "click", -2, 1_700_000_120)
    write_single("s2p", "purchase", -2, 1_700_000_120)
    os.utime(d / "events.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(d / "zz_s1c.parquet", (1_700_000_060, 1_700_000_060))
    os.utime(d / "zz_s1p.parquet", (1_700_000_060, 1_700_000_060))
    os.utime(d / "zz_s2c.parquet", (1_700_000_120, 1_700_000_120))
    os.utime(d / "zz_s2p.parquet", (1_700_000_120, 1_700_000_120))

    raw_schema = base.schema
    stream_ev = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(d))
    )
    stream_ev = mio.normalize_event_ts(stream_ev)
    joined = streaming.streaming_interval_join(
        stream_ev.filter(F.col("event_type") == "click"),
        stream_ev.filter(F.col("event_type") == "purchase"),
        window_sec=temporal.RANGE_WINDOW_SEC,
        how="leftOuter",
    )
    got: set[tuple] = set()
    q = (
        joined.writeStream.foreachBatch(
            lambda df, bid: got.update(
                (r.left_event_id, r.right_event_id, r.gap_us)
                for r in df.collect()
                if r.user_id is None or r.user_id >= 0
            )
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch_ev = mio.load_events(spark, "/root/testdata/sf0.001").collect()
    types = {r["event_id"]: r["event_type"] for r in batch_ev}
    matched = {
        (r.left_event_id, r.right_event_id, r.gap_us)
        for r in temporal.event_pairs_within_window(spark, "/root/testdata/sf0.001").collect()
        if types[r.left_event_id] == "click" and types[r.right_event_id] == "purchase"
    }
    matched_left = {m[0] for m in matched}
    unmatched = {
        (r["event_id"], None, None)
        for r in batch_ev
        if r["event_type"] == "click" and r["event_id"] not in matched_left
    }
    assert got == matched | unmatched
    assert unmatched, "expected at least one unmatched click at sf0.001"


def test_streaming_neardup_matches_batch(spark, tmp_path_factory):
    """Incremental near-dup (persisted MinHash signature store, batch by
    batch) flags EXACTLY the pairs the batch operator finds on the same
    corpus — including pairs that span micro-batches — plus exact-dup
    suppression: a doc byte-identical to an earlier batch's never
    re-enters banding. Replaying the whole stream through a fresh
    checkpoint changes nothing (ledger + fingerprint-dedup merge)."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_neardup as snd
    from maillog2db_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents").select("doc_id", "lang", "text")

    d = tmp_path_factory.mktemp("neardup_stream")
    src = d / "docs"
    # three arrival waves, ids monotone with arrival (the rep-identity
    # contract); wave 3 re-delivers two wave-1 texts under new ids —
    # exact dups that must be suppressed, not paired
    waves = [
        docs.filter("doc_id % 3 = 0"),
        docs.filter("doc_id % 3 = 1"),
        docs.filter("doc_id % 3 = 2"),
    ]
    import shutil

    src.mkdir()

    def drop_wave(df, name, mtime):
        tmp = d / f"_tmp_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"{name}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp)

    for i, w in enumerate(waves):
        drop_wave(w, f"wave{i}", 1_700_000_000 + i * 60)

    store = snd.MinHashStore(str(d / "store"))
    q = snd.start_neardup_stream(
        spark, str(src), store, str(d / "ckpt"), available_now=True
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, store.read_pairs(spark).collect()))
    want = sorted(map(tuple, dedup.neardup_pairs(spark, sf).collect()))
    assert len(want) > 0
    assert got == want

    # replay: fresh checkpoint, same store — ledger + idempotent merges
    q2 = snd.start_neardup_stream(
        spark, str(src), store, str(d / "ckpt2"), available_now=True
    )
    q2.awaitTermination(180)
    again = sorted(map(tuple, store.read_pairs(spark).collect()))
    assert again == got

    # exact-dup suppression against history: re-deliver an existing text
    # under a new id in a later file; no new pair may appear even though
    # the text near-dups its original
    sample = docs.orderBy("doc_id").limit(1).collect()[0]
    redeliver = spark.createDataFrame(
        [(10_000_000, sample.lang, sample.text)], "doc_id long, lang string, text string"
    )
    drop_wave(redeliver, "wave9", 1_700_000_000 + 600)
    q3 = snd.start_neardup_stream(
        spark, str(src), store, str(d / "ckpt3"), available_now=True
    )
    q3.awaitTermination(180)
    final = sorted(map(tuple, store.read_pairs(spark).collect()))
    assert final == got

    # small-files compaction: per-batch partials collapse to one
    # snapshot with identical content
    import pathlib

    n_before = len(list(pathlib.Path(store.pairs.path).rglob("part-*")))
    store.compact_pairs(spark)
    n_after = len(list(pathlib.Path(store.pairs.path).rglob("part-*")))
    assert n_after == 1 and n_before > n_after
    assert sorted(map(tuple, store.read_pairs(spark).collect())) == got


def test_neardup_replay_inside_commit_window(spark, tmp_path, monkeypatch):
    """A crash after a near-dup batch's pairs write and before its
    signature write, then a replay of that batch: the pairs read back
    hold no duplicate row and equal an uncrashed run's (the replay
    overwrites its own partials and reads the signatures as-of before
    itself)."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import ledger
    from maillog2db_spark import streaming_neardup as snd

    docs = mio.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    waves = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    write = ledger.overwrite_partitions

    def crash_at_sigs(df, path, *cols):
        if os.path.basename(path) == "sigs":
            raise RuntimeError("crash before the signature write")
        write(df, path, *cols)

    def run(store, crash_batch=None):
        for b, w in enumerate(waves):
            if b == crash_batch:
                with monkeypatch.context() as m:
                    m.setattr(ledger, "overwrite_partitions", crash_at_sigs)
                    with pytest.raises(RuntimeError, match="signature write"):
                        snd.neardup_ingest_batch(spark, w, store, b)
                assert not store.committed(b)
            snd.neardup_ingest_batch(spark, w, store, b)
        return sorted(map(tuple, store.read_pairs(spark).collect()))

    want = run(snd.MinHashStore(str(tmp_path / "uncrashed")))
    got = run(snd.MinHashStore(str(tmp_path / "crashed")), crash_batch=1)
    assert len(want) > 0
    assert len(got) == len(set(got))
    assert got == want


def test_streaming_vocab_scoring_matches_batch(spark, tmp_path_factory):
    """Incremental vocabulary build (persisted token-count store, batch
    by batch) followed by scoring against the final model produces
    EXACTLY the batch unigram-LM scores on the same corpus; replaying
    the stream through a fresh checkpoint changes no count (ledger)."""
    import shutil

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_quality as sq
    from maillog2db_spark import streaming_vocab as sv
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents").select("doc_id", "source", "text")

    d = tmp_path_factory.mktemp("vocab_stream")
    src = d / "docs"
    src.mkdir()

    def drop_wave(df, name, mtime):
        tmp = d / f"_tmp_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"{name}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp)

    for i in range(3):
        drop_wave(docs.filter(f"doc_id % 3 = {i}"), f"wave{i}", 1_700_000_000 + i * 60)

    store = sv.VocabStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sv.vocab_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_nll_ppm"], r["avg_nll_ppm"])
        for r in sq.score_against_store(spark, docs, store).collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["sum_nll_ppm"], r["avg_nll_ppm"])
        for r in ca.unigram_lm_score(spark, sf).collect()
    }
    assert want and got == want

    # replay through a fresh checkpoint: ledger makes batches no-ops
    q2 = start_foreach_batch_stream(
        spark, str(src), sv.vocab_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(180)
    again = {
        r["doc_id"]: (r["n_tokens"], r["sum_nll_ppm"], r["avg_nll_ppm"])
        for r in sq.score_against_store(spark, docs, store).collect()
    }
    assert again == got


def test_streaming_admission_matches_batch_funnel(spark, tmp_path_factory):
    """The incremental admission funnel, fed the corpus in doc_id-
    monotone waves, accumulates EXACTLY the batch pipeline's per-stage
    survivor counts — quality, canonical dedup, first-writer novelty,
    decontamination, chunk totals, pack bins — and replaying the whole
    stream through a fresh checkpoint changes nothing."""
    import shutil

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_admission as sa
    from maillog2db_spark.operators import corpus_pipeline as cp

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want = [(r["stage"], r["n"]) for r in cp.corpus_pipeline(spark, sf).collect()]

    d = tmp_path_factory.mktemp("admission_stream")
    src = d / "docs"
    src.mkdir()

    def drop_wave(df, name, mtime):
        tmp = d / f"_tmp_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"{name}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp)

    # doc_id-monotone waves (ingest-assigned ids — the module contract)
    bounds = [(None, 170), (170, 340), (340, None)]
    for i, (lo, hi) in enumerate(bounds):
        w = docs
        if lo is not None:
            w = w.filter(F.col("doc_id") >= lo)
        if hi is not None:
            w = w.filter(F.col("doc_id") < hi)
        drop_wave(w, f"wave{i}", 1_700_000_000 + i * 60)

    bench = sa.bench_shingles_from_docs(docs).localCheckpoint(eager=True)
    store = sa.AdmissionStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sa.admission_ingest_batch, store, str(d / "ckpt"),
        available_now=True, bench_shingles=bench,
    )
    q.awaitTermination(300)

    got = [(r["stage"], r["n"]) for r in sa.funnel(spark, store).collect()]
    assert got == want

    # the admitted set is the clean-stage survivor set
    n_clean = dict(want)["5_decontaminated"]
    assert store.admitted.read(spark).count() == n_clean

    # replay through a fresh checkpoint: ledger + idempotent merges
    q2 = start_foreach_batch_stream(
        spark, str(src), sa.admission_ingest_batch, store, str(d / "ckpt2"),
        available_now=True, bench_shingles=bench,
    )
    q2.awaitTermination(300)
    assert [(r["stage"], r["n"]) for r in sa.funnel(spark, store).collect()] == want


def test_admission_replay_inside_commit_window(spark, tmp_path_factory):
    """Re-running a batch whose ledger write never happened (crash
    inside the commit window) converges: counters/pack state are
    per-batch overwrites, state merges are min-idempotent."""
    from maillog2db_spark import streaming_admission as sa

    d = tmp_path_factory.mktemp("admission_replay")
    store = sa.AdmissionStore(str(d / "store"))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    mk = lambda rows: spark.createDataFrame(rows, schema)
    text0 = "alpha beta gamma delta eps zeta eta theta iota kappa"
    rows0 = [(0, text0, "en", "s1", len(text0))]
    rows1 = [(1, text0, "en", "s1", len(text0)),          # exact dup of 0
             (2, "one two three four five six seven eight nine ten",
              "en", "s1", 49)]
    bench = spark.createDataFrame([], "shingle string")

    sa.admission_ingest_batch(spark, mk(rows0), store, 0, bench)
    # batch 1 runs fully, then "crashes" before mark_committed
    # (simulated by deleting the ledger mark), then replays
    sa.admission_ingest_batch(spark, mk(rows1), store, 1, bench)
    os.remove(store._ledger(1))
    sa.admission_ingest_batch(spark, mk(rows1), store, 1, bench)

    got = {r["stage"]: r["n"] for r in sa.funnel(spark, store).collect()}
    # doc 1 is an exact dup (dropped at stage 3); docs 0 and 2 survive
    assert got["1_corpus"] == 3
    assert got["3_dedup_canonical"] == 2
    assert got["5_decontaminated"] == 2
    assert store.admitted.read(spark).count() == 2


def test_vocab_merge_replay_idempotent(spark, tmp_path_factory):
    """Crash INSIDE the commit window (partials written, ledger not yet
    written): replaying the same batch id must not double its counts —
    the per-batch_id dynamic overwrite replaces the partial residue."""
    from maillog2db_spark import streaming_quality as sq
    from maillog2db_spark import streaming_vocab as sv

    d = tmp_path_factory.mktemp("vocab_replay")
    store = sv.VocabStore(str(d / "store"))
    schema = "doc_id long, source string, text string"
    docs0 = spark.createDataFrame([(0, "s", "a b b"), (1, "s", "b c")], schema)
    docs1 = spark.createDataFrame([(2, "s", "a c c")], schema)

    sv.vocab_ingest_batch(spark, docs0, store, batch_id=0)
    # batch 1 writes its partials but "crashes" before mark_committed
    # (simulated by deleting the ledger mark)...
    sv.vocab_ingest_batch(spark, docs1, store, batch_id=1)
    os.remove(store._ledger(1))
    assert not store.committed(1)
    # ...and the stream replays batch 1 from the checkpoint
    sv.vocab_ingest_batch(spark, docs1, store, batch_id=1)

    counts = {r["term"]: r["c"] for r in store.counts(spark).collect()}
    assert counts == {"a": 2, "b": 3, "c": 3}
    assert store.doc_stats.read(spark).count() == 3
    # the scoring model reads the same summed partials: doc 0 scores
    # -ln(2/8) + 2·-ln(3/8) in ppm
    scored = sq.score_against_store(spark, docs0, store).collect()
    assert {r["doc_id"]: r["sum_nll_ppm"] for r in scored}[0] == (
        1386294 + 2 * 980829
    )


def test_streaming_sliding_counts_match_batch(spark, tmp_path_factory):
    """ST3 sliding dual: slide < window multiplies each event into
    window/slide overlapping windows; the streaming aggregation
    (update mode, availableNow) converges to the batch result per
    window — same epoch-aligned window ids, so stream ≡ batch."""
    import shutil

    from maillog2db_spark import io as mio

    spark.conf.set(mio.NANOS_CONF, "true")
    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path_factory.mktemp("ev_slide")
    shutil.copy(src, d / "events.parquet")
    batch_ev = mio.load_events(spark, "/root/testdata/sf0.001")
    raw_schema = spark.read.parquet(str(d)).schema
    stream_ev = mio.normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(str(d))
    )
    agg = streaming.streaming_tumbling_counts(
        stream_ev, ts_col="ts", window="1 hour", slide="15 minutes"
    )
    rows: dict[tuple, int] = {}

    def sink(df, bid):
        for r in df.collect():
            rows[(r.window_start, r.window_end)] = r.n_events

    q = agg.writeStream.foreachBatch(sink).outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)

    expected = {
        (r.window_start, r.window_end): r.n_events
        for r in streaming.streaming_tumbling_counts(
            batch_ev, window="1 hour", slide="15 minutes"
        ).collect()
    }
    assert rows == expected
    # sanity: overlap factor — total window memberships = 4 × events
    assert sum(rows.values()) == 4 * batch_ev.count()


def test_streaming_semdedup_matches_batch(spark, tmp_path_factory):
    """Incremental semantic dedup (frozen quantizer, cell-partitioned
    vector store) emits EXACTLY the decisions the batch embed_semdedup
    operator makes on the same corpus — including drops that span
    micro-batches (a wave-2 duplicate of a wave-0 vector names the
    wave-0 id as dup_of). Waves are id-ranges (monotone with arrival —
    the same rep-identity contract as the neardup stream). Replaying
    through a fresh checkpoint changes nothing: the ledger skips
    committed batches, decisions are batch-id-partitioned overwrites,
    and the vector merge dedups by vec_id."""
    import shutil

    from maillog2db_spark import streaming_semdedup as ssd
    from maillog2db_spark.operators import similarity

    # corpus: 12 near-orthogonal base vectors + exact duplicates placed
    # in LATER waves than their originals (ids 100/101 dup id 3; 200
    # dups id 7)
    rows = []
    for i in range(12):
        v = [0.0] * 64
        v[i] = 1.0
        v[63] = 0.01 * (i + 1)
        rows.append((i, v, i % 2))
    base3 = [0.0] * 64
    base3[3], base3[63] = 1.0, 0.04
    base7 = [0.0] * 64
    base7[7], base7[63] = 1.0, 0.08
    rows += [(100, base3, 1), (101, base3, 1), (200, base7, 1)]
    full = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    d = tmp_path_factory.mktemp("semdedup_stream")
    full.write.parquet(f"{d}/embeddings.parquet")  # the batch dual's table

    src = d / "vecs"
    src.mkdir()

    def drop_wave(df, name, mtime):
        tmp = d / f"_tmp_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"{name}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp)

    waves = [
        full.filter("vec_id < 6"),
        full.filter("vec_id >= 6 and vec_id < 101"),
        full.filter("vec_id >= 101"),
    ]
    for i, w in enumerate(waves):
        drop_wave(w, f"wave{i}", 1_700_000_000 + i * 60)

    store = ssd.VecStore(str(d / "store"))
    # frozen quantizer from the same corpus the batch operator trains on
    store.freeze_quantizer(full)

    q = ssd.start_semdedup_stream(
        spark, str(src), store, str(d / "ckpt"), available_now=True
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, store.decisions.read(spark).collect()))
    want = sorted(map(tuple, similarity.semantic_dedup(spark, str(d)).collect()))
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[100][2] is False and by_id[100][3] == 3  # cross-batch drop
    assert by_id[200][2] is False and by_id[200][3] == 7

    # replay: fresh checkpoint, same store — nothing changes, no dup rows
    q2 = ssd.start_semdedup_stream(
        spark, str(src), store, str(d / "ckpt2"), available_now=True
    )
    q2.awaitTermination(180)
    assert sorted(map(tuple, store.decisions.read(spark).collect())) == got

    # crash inside the commit window: wipe one batch's ledger entry so
    # it replays against a store that already contains its own vectors —
    # decisions must be recomputed identically (pure function of
    # store-before ∪ batch; self-pairs excluded by strict id order)
    os.remove(store._ledger(2))
    q3 = ssd.start_semdedup_stream(
        spark, str(src), store, str(d / "ckpt3"), available_now=True
    )
    q3.awaitTermination(180)
    assert sorted(map(tuple, store.decisions.read(spark).collect())) == got


def test_streaming_weighted_reservoir_matches_batch(spark, tmp_path_factory):
    """The incremental weighted reservoir, fed the corpus in waves,
    equals the batch Efraimidis-Spirakis sample over the same corpus
    (top-k is a mergeable monoid), and replaying the whole stream
    through a fresh checkpoint changes nothing — the merge is
    idempotent without any ledger."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_sample as ss
    from maillog2db_spark.operators import sampling as S

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want = sorted(map(tuple, S.weighted_sample(spark, sf).collect()))

    d = tmp_path_factory.mktemp("reservoir_stream")
    src = d / "docs"
    src.mkdir()
    for i, (lo, hi) in enumerate([(None, 170), (170, 340), (340, None)]):
        w = docs
        if lo is not None:
            w = w.filter(F.col("doc_id") >= lo)
        if hi is not None:
            w = w.filter(F.col("doc_id") < hi)
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = ss.ReservoirStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), ss.reservoir_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    got = sorted(map(tuple, store.sample(spark).collect()))
    assert got == want

    # replay: fresh checkpoint re-delivers every wave; reservoir unchanged
    q2 = start_foreach_batch_stream(
        spark, str(src), ss.reservoir_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert sorted(map(tuple, store.sample(spark).collect())) == want

    # crash-window replay: re-merging one wave directly is the identity
    ss.reservoir_ingest_batch(spark, docs.filter(F.col("doc_id") < 170), store, 0)
    assert sorted(map(tuple, store.sample(spark).collect())) == want


def test_streaming_sample_mix_matches_batch(spark, tmp_path_factory):
    """The stateless samplers (stratified membership + weighted source
    mix), fed the corpus in waves, accumulate to EXACTLY the batch
    operators' outputs (membership is a pure content-hash function, so
    stream ≡ batch needs no state); a fresh-checkpoint rerun and a
    crash-window replay of one wave both converge (ledger + per-batch
    partition overwrite)."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_mix as sm
    from maillog2db_spark.operators import sampling as S

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want_strat = sorted(map(tuple, S.stratified_sample(spark, sf).collect()))
    want_mix = sorted(map(tuple, S.source_mix(spark, sf).collect()))

    d = tmp_path_factory.mktemp("samplemix_stream")
    src = d / "docs"
    src.mkdir()
    waves = []
    for i, (lo, hi) in enumerate([(None, 170), (170, 340), (340, None)]):
        w = docs
        if lo is not None:
            w = w.filter(F.col("doc_id") >= lo)
        if hi is not None:
            w = w.filter(F.col("doc_id") < hi)
        waves.append(w)
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = sm.SampleMixStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sm.sample_mix_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    def got():
        return (
            sorted(map(tuple, store.stratified.read(spark).collect())),
            sorted(map(tuple, store.mixed.read(spark).collect())),
        )

    assert got() == (want_strat, want_mix)

    # fresh-checkpoint rerun: ledger skips every redelivered wave
    q2 = start_foreach_batch_stream(
        spark, str(src), sm.sample_mix_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert got() == (want_strat, want_mix)

    # crash inside the commit window: wave 1's ledger mark lost after
    # its writes — replay overwrites exactly its own partitions
    os.remove(store._ledger(1))
    sm.sample_mix_ingest_batch(spark, waves[1], store, 1)
    assert got() == (want_strat, want_mix)


def test_streaming_drift_psi_matches_batch(spark, tmp_path_factory):
    """The incremental drift monitor, fed the corpus in waves,
    resolves to EXACTLY the batch dq_length_drift_psi rows (counts are
    additive, the grid math is shared code); fresh-checkpoint rerun
    and crash-window replay converge; and the admission-time
    batch-vs-history gate flags a planted out-of-distribution drop
    while passing an in-distribution one."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_drift as sd
    from maillog2db_spark.operators.quality import length_drift_psi

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want = sorted(map(tuple, length_drift_psi(spark, sf).collect()))

    d = tmp_path_factory.mktemp("drift_stream")
    src = d / "docs"
    src.mkdir()
    waves = []
    for i, (lo, hi) in enumerate([(None, 170), (170, 340), (340, None)]):
        w = docs
        if lo is not None:
            w = w.filter(F.col("doc_id") >= lo)
        if hi is not None:
            w = w.filter(F.col("doc_id") < hi)
        waves.append(w)
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = sd.DriftStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sd.drift_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(map(tuple, sd.psi(spark, store).collect())) == want

    # fresh-checkpoint rerun + crash-window replay both converge
    q2 = start_foreach_batch_stream(
        spark, str(src), sd.drift_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    os.remove(store._ledger(1))
    sd.drift_ingest_batch(spark, waves[1], store, 1)
    assert sorted(map(tuple, sd.psi(spark, store).collect())) == want

    # admission gate: an in-distribution drop (a corpus slice) scores
    # low; a planted length-shifted drop (all-maximal lengths) scores
    # an order of magnitude higher
    ok = sd.batch_vs_history_psi(spark, waves[0], store).collect()
    shifted = waves[0].withColumn("n_chars", F.lit(PSI_SHIFT_CHARS))
    bad = sd.batch_vs_history_psi(spark, shifted, store).collect()
    assert max(r.psi_ppm for r in ok) < min(r.psi_ppm for r in bad)

    # compaction folds the grids without moving a single psi value
    store.grids.compact(spark, store.committed)
    assert sorted(map(tuple, sd.psi(spark, store).collect())) == want


PSI_SHIFT_CHARS = 999_999  # way past every bin the corpus occupies


def test_streaming_span_scrub_matches_batch(spark, tmp_path_factory):
    """Incremental span scrubbing, fed doc_id-monotone waves, produces
    EXACTLY the batch operator's scrubbed rows (text and audit columns
    both), and replaying through a fresh checkpoint plus a direct
    crash-window re-ingest changes nothing."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_scrub as sc
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want = sorted(map(tuple, ca.span_scrub(spark, sf).collect()))

    d = tmp_path_factory.mktemp("scrub_stream")
    src = d / "docs"
    src.mkdir()
    for i, (lo, hi) in enumerate([(None, 170), (170, 340), (340, None)]):
        w = docs
        if lo is not None:
            w = w.filter(F.col("doc_id") >= lo)
        if hi is not None:
            w = w.filter(F.col("doc_id") < hi)
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = sc.ScrubStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sc.scrub_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    got = sorted(map(tuple, store.scrubbed.read(spark).collect()))
    assert got == want

    # fresh-checkpoint replay: every wave re-delivers; ledger skips,
    # output partitions identical
    q2 = start_foreach_batch_stream(
        spark, str(src), sc.scrub_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert sorted(map(tuple, store.scrubbed.read(spark).collect())) == want

    # crash inside the commit window: drop batch 1's ledger mark and
    # re-ingest it directly — provenance filtering makes it converge
    os.remove(store._ledger(1))
    sc.scrub_ingest_batch(
        spark, docs.filter((F.col("doc_id") >= 170) & (F.col("doc_id") < 340)), store, 1
    )
    assert sorted(map(tuple, store.scrubbed.read(spark).collect())) == want


def test_streaming_scd2_matches_batch(spark, tmp_path_factory):
    """Incremental SCD2 maintenance, fed date-monotone waves, resolves
    to EXACTLY the batch gaps-and-islands table; replay through a
    fresh checkpoint, a direct crash-window re-ingest, and a log
    compaction all change nothing; late data quarantines instead of
    rewriting history."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_scd2 as s2
    from maillog2db_spark.operators import windows as win

    sf = "/root/testdata/sf0.001"
    orders = mio.load(spark, sf, "orders")
    cols = ("o_custkey", "regime_seq", "priority", "valid_from", "valid_to", "n_orders")
    want = sorted(
        tuple(r[c] for c in cols) for r in win.priority_islands(spark, sf).collect()
    )

    dates = sorted(r[0] for r in orders.select("o_orderdate").distinct().collect())
    c1, c2 = dates[len(dates) // 3], dates[2 * len(dates) // 3]
    waves = [
        orders.filter(F.col("o_orderdate") < F.lit(c1)),
        orders.filter((F.col("o_orderdate") >= F.lit(c1)) & (F.col("o_orderdate") < F.lit(c2))),
        orders.filter(F.col("o_orderdate") >= F.lit(c2)),
    ]

    d = tmp_path_factory.mktemp("scd2_stream")
    src = d / "orders"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = s2.Scd2Store(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), s2.scd2_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    def resolved():
        return sorted(
            tuple(r[c] for c in cols)
            for r in store.islands.read(spark).collect()
        )

    assert resolved() == want
    q0 = store.quarantine.read(spark)
    assert q0 is None or q0.count() == 0

    # fresh-checkpoint replay: ledger skips every redelivered wave
    q2 = start_foreach_batch_stream(
        spark, str(src), s2.scd2_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert resolved() == want

    # crash inside the commit window: the engine replays the IN-FLIGHT
    # batch before any later batch runs (SCD2 state is sequential, so
    # that ordering is the guarantee that matters) — drive a second
    # store manually, crash batch 1 after its writes but before its
    # commit mark, replay it, then continue
    store2 = s2.Scd2Store(str(d / "store2"))
    s2.scd2_ingest_batch(spark, waves[0], store2, 0)
    s2.scd2_ingest_batch(spark, waves[1], store2, 1)
    os.remove(store2._ledger(1))
    s2.scd2_ingest_batch(spark, waves[1], store2, 1)  # replay converges
    s2.scd2_ingest_batch(spark, waves[2], store2, 2)
    assert sorted(
        tuple(r[c] for c in cols) for r in store2.islands.read(spark).collect()
    ) == want

    # compaction folds the committed log into ONE partition under the
    # compacted id (below every stream batch id, so it can neither
    # out-rank nor shadow a later batch), the old log partitions are
    # actually gone, and no leftover swap dirs remain
    store.islands.compact(spark, store.committed)
    assert resolved() == want
    import glob as _glob
    parts = {p.rsplit("=", 1)[-1] for p in
             _glob.glob(str(d / "store" / "islands" / "batch_id=*"))}
    assert parts == {str(COMPACTED_BATCH_ID)}
    assert not os.path.isdir(str(d / "store" / "islands_rewriting"))
    assert not os.path.isdir(str(d / "store" / "islands_old"))

    # a later batch still wins last-writer-wins over the compacted rows
    # (the compacted id ranks below every stream batch)
    late_id = store.max_committed() + 1

    # late data: re-sending the oldest wave as a NEW batch would require
    # splitting closed history — every row quarantines, state unchanged
    s2.scd2_ingest_batch(spark, waves[0], store, late_id)
    assert resolved() == want
    assert store.quarantine.read(spark).count() == waves[0].count()

    # fresh-checkpoint restart against an existing store: an UNCOMMITTED
    # batch id at or below the committed frontier would silently lose
    # LWW — the ingest refuses it loudly instead
    store3 = s2.Scd2Store(str(d / "store3"))
    s2.scd2_ingest_batch(spark, waves[0], store3, 5)
    with pytest.raises(ValueError, match="committed frontier"):
        s2.scd2_ingest_batch(spark, waves[1], store3, 3)


def test_streaming_attribution_matches_batch(spark, tmp_path_factory):
    """Incremental multi-touch credits, fed time-ordered waves, total
    to EXACTLY the batch operator's output; replay through a fresh
    checkpoint and a crash-window re-ingest (even after later batches
    committed — negative gaps self-filter) change nothing; vacuuming
    buckets behind the window drops storage, not results."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_attribution as sa
    from maillog2db_spark.operators import temporal as tmp

    sf = "/root/testdata/sf0.001"
    ev = mio.load_events(spark, sf)
    want = sorted(
        (r.click_id, r.user_id, r.n_purchases_touched, r.credited_micro)
        for r in tmp.multitouch_attribution(spark, sf).collect()
    )

    tss = sorted(r[0] for r in ev.select("ts").distinct().collect())
    c1, c2 = tss[len(tss) // 3], tss[2 * len(tss) // 3]
    waves = [
        ev.filter(F.col("ts") < F.lit(c1)),
        ev.filter((F.col("ts") >= F.lit(c1)) & (F.col("ts") < F.lit(c2))),
        ev.filter(F.col("ts") >= F.lit(c2)),
    ]

    d = tmp_path_factory.mktemp("attr_stream")
    src = d / "events"
    src.mkdir()
    for i, w in enumerate(waves):
        t = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(t))
        part = next(t.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(t)

    store = sa.AttributionStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sa.attribution_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    def resolved():
        return sorted(
            (r.click_id, r.user_id, r.n_purchases_touched, r.credited_micro)
            for r in store.credited_totals(spark).collect()
        )

    assert resolved() == want

    # fresh-checkpoint replay: ledger skips every redelivered wave
    q2 = start_foreach_batch_stream(
        spark, str(src), sa.attribution_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert resolved() == want

    # crash-window: re-ingest wave 1 AFTER wave 2 committed — stored
    # later clicks pair at negative gaps and self-filter, provenance
    # hides the crashed attempt's own residue
    os.remove(store._ledger(1))
    sa.attribution_ingest_batch(spark, waves[1], store, 1)
    assert resolved() == want

    # vacuum behind the final frontier: storage shrinks, totals don't
    import glob as _glob
    frontier = int(tss[-1].timestamp() * 1_000_000)
    n_before = len(_glob.glob(str(d / "store" / "clicks" / "batch_id=*" / "tbucket=*")))
    store.vacuum(frontier)
    n_after = len(_glob.glob(str(d / "store" / "clicks" / "batch_id=*" / "tbucket=*")))
    assert n_after < n_before
    # no batch directory is left behind empty
    assert all(
        _glob.glob(os.path.join(b, "tbucket=*"))
        for b in _glob.glob(str(d / "store" / "clicks" / "batch_id=*"))
    )
    assert resolved() == want


def test_streaming_holt_matches_batch(spark, tmp_path_factory):
    """The incremental Holt nowcaster, fed orders in waves that SPLIT
    months across batches (partial sums must add correctly), resolves
    to EXACTLY the batch ord_revenue_holt rows (shared fold, additive
    monthly cents); fresh-checkpoint rerun and crash-window replay
    converge; and the one-step nowcast is the final fitted state's
    level+trend."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_holt as sh
    from maillog2db_spark.operators.windows import revenue_holt

    sf = "/root/testdata/sf0.001"
    orders = mio.load(spark, sf, "orders")
    want = sorted(map(tuple, revenue_holt(spark, sf).collect()))

    d = tmp_path_factory.mktemp("holt_stream")
    src = d / "orders"
    src.mkdir()
    # waves by orderkey mod — every month's total is split across all
    # three batches, so correctness REQUIRES the partial-sum resolution
    waves = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    for i, w in enumerate(waves):
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = sh.HoltStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sh.holt_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(map(tuple, sh.holt(spark, store).collect())) == want

    # fresh-checkpoint rerun + crash-window replay both converge
    q2 = start_foreach_batch_stream(
        spark, str(src), sh.holt_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    os.remove(store._ledger(1))
    sh.holt_ingest_batch(spark, waves[1], store, 1)
    assert sorted(map(tuple, sh.holt(spark, store).collect())) == want

    # nowcast = final fitted state's level + trend on the ppm grid
    last = max(want, key=lambda r: r[0])
    month, fc = sh.nowcast(spark, store)
    assert month == last[0] and fc == last[3] + last[4]

    # the SAME accumulated monthly store serves the seasonal
    # decomposition: equal to the batch ord_seasonal_index over the
    # union of every ingested batch (shared seasonal_from_monthly core
    # — month totals were split across all three waves, so this also
    # re-proves the additive resolution through a second consumer)
    from maillog2db_spark.operators.windows import seasonal_index

    want_seasonal = sorted(map(tuple, seasonal_index(spark, sf).collect()))
    got_seasonal = sorted(map(tuple, sh.seasonal(spark, store).collect()))
    assert got_seasonal == want_seasonal


def test_one_document_stream_feeds_four_stores(spark, tmp_path_factory):
    """The deployment composition: ONE Structured Streaming query over
    a directory of document drops maintains FOUR independent stores in
    a single foreachBatch — the inverted index (BM25 serving), the
    bigram-LM model (memorization gate), the vocabulary store (OOV /
    source-KL / mix audits), and the PSI drift grid — and after the
    stream drains, EVERY resolved view equals its batch twin exactly.
    Each store is equivalence-tested on its own elsewhere; this pins
    that they compose on one ingest without interfering (shared ledger
    roots stay separate, one batch id drives all four)."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bm25 as sb
    from maillog2db_spark import streaming_drift as sd
    from maillog2db_spark import streaming_lm as sl
    from maillog2db_spark import streaming_vocab as sv
    from maillog2db_spark.operators import corpus_analytics as ca
    from maillog2db_spark.operators.text import bm25_topk, vocab_growth

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want_bm25 = sorted(map(tuple, bm25_topk(spark, sf).collect()))
    want_lm = sorted(map(tuple, ca.bigram_lm_score(spark, sf).collect()))
    want_kl = sorted(map(tuple, ca.source_kl(spark, sf).collect()))
    want_growth = sorted(map(tuple, vocab_growth(spark, sf).collect()))
    from maillog2db_spark.operators.quality import length_drift_psi

    want_psi = sorted(map(tuple, length_drift_psi(spark, sf).collect()))

    d = tmp_path_factory.mktemp("one_stream")
    src = d / "drops"
    src.mkdir()
    waves = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
             for i in range(3)]
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        _sh.move(str(next(tmp.glob("part-*.parquet"))),
                 str(src / f"wave{i}.parquet"))
        _sh.rmtree(tmp)

    postings = sb.PostingsStore(str(d / "postings"))
    lm = sl.BigramStore(str(d / "lm"))
    vocab = sv.VocabStore(str(d / "vocab"))
    drift = sd.DriftStore(str(d / "drift"))

    def ingest_all(df, bid):
        s = df.sparkSession
        sb.bm25_ingest_batch(s, df, postings, bid)
        sl.lm_ingest_batch(s, df, lm, bid)
        sv.vocab_ingest_batch(s, df, vocab, bid)
        sd.drift_ingest_batch(s, df, drift, bid)

    schema = spark.read.parquet(str(src)).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(ingest_all)
        .option("checkpointLocation", str(d / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert sorted(map(tuple, sb.bm25_topk(spark, postings).collect())) == want_bm25
    assert sorted(map(tuple, sl.bigram_lm_score(spark, lm).collect())) == want_lm
    assert sorted(map(tuple, sv.source_kl(spark, vocab).collect())) == want_kl
    assert sorted(map(tuple, sv.vocab_growth(spark, vocab).collect())) == want_growth
    assert sorted(map(tuple, sd.psi(spark, drift).collect())) == want_psi


def test_streaming_triangles_match_batch(spark, tmp_path_factory):
    """Incremental triangle maintenance on the thresholded co-purchase
    graph: order-complete lineitem waves fold pair-count deltas into
    the store, each wave counts ONLY the triangles created by edges
    that crossed the support threshold in that wave (supports are
    monotone, so triangles never disappear), and the resolved stats
    equal the batch li_copurchase_triangles EXACTLY — after every
    prefix of waves, not just at the end. Committed-batch redelivery is
    a no-op; a crash-window re-ingest converges; compaction of both
    additive tables changes nothing; the streaming-API surface lands on
    the same stats."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_triangles as st
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    li = mio.load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    want = sorted(map(tuple, ca.copurchase_triangles(spark, sf).collect()))

    def batch_twin(prefix_li):
        edges = (
            st._batch_pairs(prefix_li)
            .filter(F.col("w") >= ca.BASKET_MIN_SUPPORT)
            .select("pa", "pb")
        )
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
            .join(e3, (F.col("e3.pa") == F.col("e1.pa"))
                  & (F.col("e3.pb") == F.col("e2.pb")))
            .select(F.col("e1.pa").alias("a"), F.col("e1.pb").alias("b"),
                    F.col("e2.pb").alias("c"))
        )
        per_part = (
            tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
            .groupBy("part")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        return sorted(map(tuple,
                          ca.triangle_stats_from(edges, per_part).collect()))

    d = tmp_path_factory.mktemp("tri_store")
    store = st.TriangleStore(str(d / "store"))
    waves = [li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
             for i in range(3)]  # orderkey split keeps every order whole

    def got():
        return sorted(map(tuple,
                          st.copurchase_triangles(spark, store).collect()))

    for i, w in enumerate(waves):
        st.triangles_ingest_batch(spark, w, store, i)
        prefix = li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) <= i)
        assert got() == batch_twin(prefix), f"prefix mismatch after wave {i}"
    assert got() == want

    # committed redelivery: no-op
    st.triangles_ingest_batch(spark, waves[1], store, 1)
    assert got() == want
    # crash window: partials written, ledger lost — replay recomputes
    # the identical threshold-crossing set against as-of-before counts
    os.remove(store._ledger(2))
    st.triangles_ingest_batch(spark, waves[2], store, 2)
    assert got() == want
    # additive compaction of both tables changes nothing
    for table in (store.pairs, store.tri_deltas):
        table.compact(spark, store.committed)
    assert got() == want

    # the other graph views served off the SAME pair store equal their
    # batch twins (the corpus-scale basket self-join happened at
    # ingest; the graph algorithms run on the resolved pair grain)
    from maillog2db_spark.operators import graph as gr

    assert sorted(
        map(tuple, st.part_pagerank(spark, store).collect())
    ) == sorted(map(tuple, ca.part_pagerank(spark, sf).collect()))
    assert sorted(
        map(tuple, st.part_kcore(spark, store).collect())
    ) == sorted(map(tuple, gr.part_kcore(spark, sf).collect()))
    assert sorted(
        map(tuple, st.part_components(spark, store).collect())
    ) == sorted(map(tuple, gr.part_components(spark, sf).collect()))

    # streaming-API surface
    import shutil as _sh
    src = d / "drops"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        _sh.move(str(next(tmp.glob("part-*.parquet"))),
                 str(src / f"wave{i}.parquet"))
        _sh.rmtree(tmp)
    store2 = st.TriangleStore(str(d / "store2"))
    q = start_foreach_batch_stream(
        spark, str(src), st.triangles_ingest_batch, store2, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        map(tuple, st.copurchase_triangles(spark, store2).collect())
    ) == want


def test_streaming_bigram_lm_matches_batch_and_gates_admission(
    spark, tmp_path_factory
):
    """The incremental bigram-LM store: documents stream in waves, the
    resolved per-doc LM scores and min-k% tails equal the batch
    doc_bigram_lm_score / doc_mink_prob EXACTLY (the model tables are
    additive, the scoring cores are shared); committed-batch replay is
    a no-op, a crash-window re-ingest converges, unigram compaction
    changes nothing; and the admission gate scores a drop under the
    model as-of BEFORE it — identical pre- and post-ingest, with a
    memorized drop (text the corpus already contains) scoring a LOWER
    tail NLL than a novel-token drop."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_lm as sl
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want_lm = sorted(map(tuple, ca.bigram_lm_score(spark, sf).collect()))
    want_mink = sorted(map(tuple, ca.mink_prob(spark, sf).collect()))

    d = tmp_path_factory.mktemp("lm_store")
    store = sl.BigramStore(str(d / "store"))
    waves = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
             for i in range(3)]
    for i, w in enumerate(waves[:2]):
        sl.lm_ingest_batch(spark, w, store, i)

    # admission gate as-of contract: wave 2 scores identically before
    # its partials exist and after (exclude_batch hides them)
    gate_before = sorted(
        map(tuple, sl.batch_mink_stats(spark, waves[2], store, 2).collect())
    )
    sl.lm_ingest_batch(spark, waves[2], store, 2)
    gate_after = sorted(
        map(tuple, sl.batch_mink_stats(spark, waves[2], store, 2).collect())
    )
    assert gate_before == gate_after

    def lm():
        return sorted(map(tuple, sl.bigram_lm_score(spark, store).collect()))

    def mink():
        return sorted(map(tuple, sl.mink_prob(spark, store).collect()))

    assert lm() == want_lm
    assert mink() == want_mink

    # committed redelivery: no-op
    sl.lm_ingest_batch(spark, waves[1], store, 1)
    assert lm() == want_lm
    # crash window: partials written, ledger mark lost — dynamic
    # overwrite replaces exactly that batch's partitions on replay
    os.remove(store._ledger(2))
    sl.lm_ingest_batch(spark, waves[2], store, 2)
    assert lm() == want_lm and mink() == want_mink
    # additive compaction of the unigram partials changes nothing
    store.unigrams.compact(spark, store.committed)
    assert lm() == want_lm

    # gate semantics: a drop REPEATING already-ingested text keeps a
    # low tail NLL; a drop of never-seen tokens scores high
    seen = docs.orderBy("doc_id").limit(3).collect()
    memorized = spark.createDataFrame(
        [(900000 + i, r.text, r.lang, r.source, r.n_chars)
         for i, r in enumerate(seen)],
        docs.schema,
    )
    novel = spark.createDataFrame(
        [(910000, " ".join(f"zzqx{i}" for i in range(40)),
          "en", "s0", 300)],
        docs.schema,
    )
    mem_score = sl.batch_mink_stats(spark, memorized, store, 77).agg(
        F.max("mink_avg_nll_ppm")
    ).collect()[0][0]
    nov_score = sl.batch_mink_stats(spark, novel, store, 78).agg(
        F.min("mink_avg_nll_ppm")
    ).collect()[0][0]
    assert mem_score < nov_score

    # the streaming-API surface lands on the same resolved scores
    import shutil as _sh
    src = d / "drops"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        _sh.move(str(next(tmp.glob("part-*.parquet"))),
                 str(src / f"wave{i}.parquet"))
        _sh.rmtree(tmp)
    store2 = sl.BigramStore(str(d / "store2"))
    q = start_foreach_batch_stream(
        spark, str(src), sl.lm_ingest_batch, store2, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        map(tuple, sl.bigram_lm_score(spark, store2).collect())
    ) == want_lm


def test_streaming_retrieval_eval_matches_batch(spark, tmp_path_factory):
    """The incremental retrieval-quality monitor: documents stream into
    the postings store, corpus embeddings stream into the bounded dense
    top-k store, and the resolved MRR/P@k grid equals the batch
    doc_retrieval_label_eval EXACTLY (all three systems — lex, dense,
    hybrid — metric values included). Replay of a committed batch is a
    no-op; a crash-window re-ingest converges; a corpus batch smuggling
    query-range vec_ids raises; mid-stream evaluation (the monitoring
    read) runs on a prefix of batches without error."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bm25 as sb
    from maillog2db_spark import streaming_retrieval_eval as sre
    from maillog2db_spark.operators.retrieval import (
        HYBRID_N_QUERIES,
        retrieval_label_eval,
    )

    sf = "/root/testdata/sf0.001"
    want = sorted(map(tuple, retrieval_label_eval(spark, sf).collect()))

    docs = mio.load(spark, sf, "documents")
    emb = mio.load(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= HYBRID_N_QUERIES)
    d = tmp_path_factory.mktemp("ret_eval")
    ps = sb.PostingsStore(str(d / "postings"))
    ds = sre.DenseTopKStore(str(d / "dense"))
    ds.register_queries(emb)
    ds.register_queries(emb)  # idempotent second registration

    doc_waves = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
                 for i in range(3)]
    emb_waves = [corpus.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i)
                 for i in range(3)]
    for i in range(3):
        sb.bm25_ingest_batch(spark, doc_waves[i], ps, i)
        sre.dense_ingest_batch(spark, emb_waves[i], ds, i)
        if i == 1:
            # the monitoring read mid-stream: a full grid, one row per
            # (system, query) even for queries with nothing retrieved
            mid = sre.retrieval_eval(spark, ps, ds).collect()
            assert len(mid) == 3 * HYBRID_N_QUERIES

    def got():
        return sorted(map(tuple, sre.retrieval_eval(spark, ps, ds).collect()))

    assert got() == want

    # committed-batch redelivery is skipped outright
    sre.dense_ingest_batch(spark, emb_waves[1], ds, 1)
    assert got() == want

    # crash inside the commit window: state written, ledger mark lost —
    # the replayed merge dedupes on (query_id, doc_id) and converges
    os.remove(ds._ledger(2))
    sre.dense_ingest_batch(spark, emb_waves[2], ds, 2)
    assert got() == want

    # the fixed-query-set contract is enforced, not assumed
    with pytest.raises(ValueError, match="query-range"):
        sre.dense_ingest_batch(spark, emb, ds, 99)

    # the streaming-API surface maintains the same state: a fresh pair
    # of stores fed through the stream helper lands on the same grid
    src = d / "emb_drops"
    src.mkdir()
    import shutil as _sh
    for i, w in enumerate(emb_waves):
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        _sh.move(str(part), str(src / f"wave{i}.parquet"))
        _sh.rmtree(tmp)
    ds2 = sre.DenseTopKStore(str(d / "dense2"))
    ds2.register_queries(emb)
    q = start_foreach_batch_stream(
        spark, str(src), sre.dense_ingest_batch, ds2, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        map(tuple, sre.retrieval_eval(spark, ps, ds2).collect())
    ) == want


def test_streaming_bm25_matches_batch_and_serves_adhoc(spark, tmp_path_factory):
    """The incremental inverted index, fed documents in waves, retrieves
    EXACTLY the batch doc_bm25_topk rows (tf partials are additive, the
    scoring core is shared); fresh-checkpoint rerun and crash-window
    replay converge; and the ad-hoc search path returns a corpus doc as
    its own best match when queried with its exact text."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bm25 as sb
    from maillog2db_spark.operators.text import bm25_topk

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want = sorted(map(tuple, bm25_topk(spark, sf).collect()))

    d = tmp_path_factory.mktemp("bm25_stream")
    src = d / "docs"
    src.mkdir()
    waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, w in enumerate(waves):
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = sb.PostingsStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sb.bm25_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(map(tuple, sb.bm25_topk(spark, store).collect())) == want

    # fresh-checkpoint rerun + crash-window replay both converge
    q2 = start_foreach_batch_stream(
        spark, str(src), sb.bm25_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    os.remove(store._ledger(1))
    sb.bm25_ingest_batch(spark, waves[1], store, 1)
    assert sorted(map(tuple, sb.bm25_topk(spark, store).collect())) == want

    # ad-hoc serving ≡ batch recomputation: searching the index for an
    # arbitrary text returns exactly what the shared core computes from
    # a from-scratch batch tf over the same corpus. (No self-retrieval
    # assertion: on this 31-term synthetic vocabulary every doc shares
    # most terms, so BM25's length normalization can legitimately rank
    # a shorter doc above the probe text's own source.)
    from maillog2db_spark.operators.text import (
        BM25_N_QUERIES, bm25_from_tf,
    )

    probe = docs.filter(F.col("doc_id") == 100).select("text").collect()[0].text
    hits = sorted(map(tuple, sb.search(spark, store, probe, k=3).collect()))
    batch_tf = sb._batch_tf(docs).filter(F.col("doc_id") >= BM25_N_QUERIES)
    qterms = (
        spark.createDataFrame([(probe,)], "text string")
        .select(F.explode(F.expr(sb._TOKENS_SPARK)).alias("term"))
        .distinct()
        .select(F.lit(-1).cast("bigint").alias("query_id"), "term")
    )
    want_hits = sorted(
        (r.doc_id, r.bm25_ppm, r.rank)
        for r in bm25_from_tf(batch_tf, qterms).collect()
        if r.rank <= 3
    )
    assert hits == want_hits and len(hits) == 3

    # the serving path must PRUNE: its postings scan carries a
    # term_bucket partition filter (the IVF-probe contract applied to
    # the inverted index), and scores are unchanged by construction
    splan = (
        sb.search(spark, store, probe, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(
        l for l in splan.splitlines()
        if "FileScan parquet" in l and "postings" in l
    )
    assert "PartitionFilters" in scan and "term_bucket" in scan.split(
        "PartitionFilters"
    )[1][:200]


def test_streaming_vocab_store_serves_four_batch_twins(spark, tmp_path_factory):
    """ONE additive vocabulary store, fed documents in waves, resolves
    to EXACTLY the batch doc_source_kl, doc_vocab_growth,
    doc_source_temperature_mix, and doc_zipf_fit rows (shared cores —
    equality of resolved inputs); fresh-checkpoint rerun and
    crash-window replay converge; and the admission-time OOV gate
    scores an already-seen slice at zero while flagging a planted
    new-vocabulary drop."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_vocab as sv
    from maillog2db_spark.operators.corpus_analytics import source_kl
    from maillog2db_spark.operators.sampling import source_temperature_mix
    from maillog2db_spark.operators.text import vocab_growth, zipf_fit

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want_kl = sorted(map(tuple, source_kl(spark, sf).collect()))
    want_vg = sorted(map(tuple, vocab_growth(spark, sf).collect()))
    want_tm = sorted(map(tuple, source_temperature_mix(spark, sf).collect()))
    want_zf = sorted(map(tuple, zipf_fit(spark, sf).collect()))

    d = tmp_path_factory.mktemp("vocab_stream")
    src = d / "docs"
    src.mkdir()
    waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, w in enumerate(waves):
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = sv.VocabStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sv.vocab_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    def got():
        return (
            sorted(map(tuple, sv.source_kl(spark, store).collect())),
            sorted(map(tuple, sv.vocab_growth(spark, store).collect())),
            sorted(map(tuple, sv.temperature_mix(spark, store).collect())),
            sorted(map(tuple, sv.zipf_fit(spark, store).collect())),
        )

    assert got() == (want_kl, want_vg, want_tm, want_zf)

    # fresh-checkpoint rerun + crash-window replay both converge
    q2 = start_foreach_batch_stream(
        spark, str(src), sv.vocab_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    os.remove(store._ledger(1))
    sv.vocab_ingest_batch(spark, waves[1], store, 1)
    assert got() == (want_kl, want_vg, want_tm, want_zf)

    # OOV gate: an already-ingested slice has NOTHING unseen; a drop
    # with planted never-seen tokens flags at a positive rate
    seen = sv.batch_oov_rate(spark, waves[0], store).collect()
    assert all(r.n_unseen == 0 and r.oov_ppm == 0 for r in seen)
    planted = waves[0].withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzqnovel1 zzqnovel2"))
    )
    flagged = sv.batch_oov_rate(spark, planted, store).collect()
    assert all(r.n_unseen == 2 and r.oov_ppm > 0 for r in flagged)


def test_additive_store_compaction_preserves_views_and_replay(
    spark, tmp_path_factory
):
    """ledger.compact_additive_store across all three additive stores
    (postings, monthly, vocab): folding committed partials into the
    negative-id partition changes NO resolved view, shrinks the
    partition fan-out to {compacted, in-flight}, leaves an in-flight
    (written-but-uncommitted) batch raw so its crash-window re-ingest
    still converges, and a SECOND compaction folds the re-ingested
    batch plus the previous compaction output."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bm25 as sb
    from maillog2db_spark import streaming_holt as sh
    from maillog2db_spark import streaming_vocab as sv

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    orders = mio.load(spark, sf, "orders")
    d = tmp_path_factory.mktemp("compaction")
    bstore = sb.PostingsStore(str(d / "bm25"))
    hstore = sh.HoltStore(str(d / "holt"))
    vstore = sv.VocabStore(str(d / "vocab"))

    for i in range(4):
        dw = docs.filter(F.col("doc_id") % 4 == i)
        ow = orders.filter(F.col("o_orderkey") % 4 == i)
        sb.bm25_ingest_batch(spark, dw, bstore, i)
        sh.holt_ingest_batch(spark, ow, hstore, i)
        sv.vocab_ingest_batch(spark, dw, vstore, i)
    # batch 3 becomes in-flight: written, ledger mark lost (the crash
    # window) — compaction must NOT fold it
    for store in (bstore, hstore, vstore):
        os.remove(store._ledger(3))

    def views():
        return (
            sorted(map(tuple, sb.bm25_topk(spark, bstore).collect())),
            sorted(map(tuple, sh.holt(spark, hstore).collect())),
            sorted(map(tuple, sv.source_kl(spark, vstore).collect())),
            sorted(map(tuple, sv.vocab_growth(spark, vstore).collect())),
            sorted(map(tuple, sv.temperature_mix(spark, vstore).collect())),
        )

    def parts(path):
        return sorted(
            int(e.split("=")[1])
            for e in os.listdir(path)
            if e.startswith("batch_id=")
        )

    want = views()
    for table in (bstore.postings, bstore.lengths):
        table.compact(spark, bstore.committed)
    hstore.monthly.compact(spark, hstore.committed)
    sv.compact_store(spark, vstore)
    assert views() == want
    for path in (bstore.postings.path, hstore.monthly.path, vstore.term_stats.path,
                 vstore.doc_stats.path):
        assert parts(path) == [-1, 3]

    # crash-window re-ingest of the in-flight batch converges
    sb.bm25_ingest_batch(spark, docs.filter(F.col("doc_id") % 4 == 3), bstore, 3)
    sh.holt_ingest_batch(spark, orders.filter(F.col("o_orderkey") % 4 == 3), hstore, 3)
    sv.vocab_ingest_batch(spark, docs.filter(F.col("doc_id") % 4 == 3), vstore, 3)
    assert views() == want

    # second compaction folds everything (batch 3 is committed now)
    for table in (bstore.postings, bstore.lengths):
        table.compact(spark, bstore.committed)
    hstore.monthly.compact(spark, hstore.committed)
    sv.compact_store(spark, vstore)
    assert views() == want
    for path in (bstore.postings.path, hstore.monthly.path, vstore.term_stats.path,
                 vstore.doc_stats.path):
        assert parts(path) == [-1]


def test_streaming_dsir_matches_batch_and_gates_admission(spark, tmp_path_factory):
    """The DSIR feature store, fed the corpus in waves, reproduces the
    batch doc_dsir_weights EXACTLY (equality of inputs into the shared
    cores); fresh-checkpoint replay changes nothing (ledger); the
    admission gate scores a drop against the model as-of BEFORE it;
    compaction folds partitions without moving any view; crash-window
    re-ingest converges."""
    import shutil

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_dsir as sd
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")

    d = tmp_path_factory.mktemp("dsir_stream")
    src = d / "docs"
    src.mkdir()

    def drop_wave(df, name, mtime):
        tmp = d / f"_tmp_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"{name}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp)

    for i in range(3):
        drop_wave(docs.filter(f"doc_id % 3 = {i}"), f"wave{i}", 1_700_000_000 + i * 60)

    store = sd.DsirStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), sd.dsir_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)

    def weights():
        return {
            r["doc_id"]: (r["source"], r["n_bigrams"], r["weight_ppm"])
            for r in sd.corpus_weights(spark, store).collect()
        }

    want = {
        r["doc_id"]: (r["source"], r["n_bigrams"], r["weight_ppm"])
        for r in ca.dsir_weights(spark, sf).collect()
    }
    got = weights()
    assert want and got == want

    # fresh-checkpoint replay: ledger makes every batch a no-op
    q2 = start_foreach_batch_stream(
        spark, str(src), sd.dsir_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(180)
    assert weights() == want

    # admission gate: scoring wave2 as-of-before-itself must equal
    # scoring it against a store built from waves 0+1 only
    wave2 = docs.filter("doc_id % 3 = 2")
    store01 = sd.DsirStore(str(d / "store01"))
    sd.dsir_ingest_batch(spark, docs.filter("doc_id % 3 = 0"), store01, 0)
    sd.dsir_ingest_batch(spark, docs.filter("doc_id % 3 = 1"), store01, 1)
    asof = {
        r["source"]: (r["n_docs"], r["n_bigrams"], r["sum_weight_ppm"])
        for r in sd.batch_weight_stats(spark, wave2, store, exclude_batch=2).collect()
    }
    frozen = {
        r["source"]: (r["n_docs"], r["n_bigrams"], r["sum_weight_ppm"])
        for r in sd.batch_weight_stats(spark, wave2, store01).collect()
    }
    assert asof and asof == frozen

    # compaction: views unchanged, partitions folded
    def parts(path):
        return sorted(
            int(e.split("=")[1])
            for e in os.listdir(path)
            if e.startswith("batch_id=")
        )

    for table in (store.feats, store.docs):
        table.compact(spark, store.committed)
    assert weights() == want
    for path in (store.feats.path, store.docs.path):
        assert parts(path) == [-1]

    # crash-window re-ingest (committed batch) is a ledger no-op
    sd.dsir_ingest_batch(spark, docs.filter("doc_id % 3 = 1"), store, 1)
    assert weights() == want


def test_streaming_hybrid_search_fuses_both_stores(spark, tmp_path_factory):
    """The serving-path hybrid: one ad-hoc (text, vector) query against
    the accumulated postings store + persisted IVFADC index must equal
    the RRF fusion computed independently (pure-python, from each
    component's own collected rank list) — certifying the composition
    glue, since each component already has its own equivalence test.
    Both sides must actually contribute (the probe is a corpus doc's
    own text and embedding, so neither rank list is empty)."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bm25 as sb
    from maillog2db_spark import streaming_hybrid as shy
    from maillog2db_spark.operators.retrieval import RRF_KAPPA
    from maillog2db_spark.operators.similarity import build_ivfpq_index

    sf = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("hybrid_serve")
    docs = mio.load(spark, sf, "documents")
    store = sb.PostingsStore(str(d / "postings"))
    sb.bm25_ingest_batch(spark, docs, store, 0)
    idx = str(d / "ivfpq")
    build_ivfpq_index(spark, sf, idx)

    probe_doc = docs.filter(F.col("doc_id") == 100).collect()[0]
    q_emb = [
        float(x)
        for x in mio.load(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 100)
        .collect()[0]
        .embedding
    ]
    k = 5
    got = sorted(
        map(tuple, shy.hybrid_search(spark, store, idx, probe_doc.text, q_emb, k=k).collect())
    )

    # independent from-parts fusion
    from maillog2db_spark.operators.similarity import query_ivfpq_index

    lex = {r.doc_id: r.rank for r in sb.search(spark, store, probe_doc.text, k=k).collect()}
    qdf = spark.createDataFrame(
        [(-1, q_emb)], "query_id bigint, q_emb array<float>"
    )
    den = {
        r.neighbor_id: r.rank
        for r in query_ivfpq_index(spark, idx, qdf).collect()
        if r.rank <= k
    }
    assert lex and den  # both systems retrieved something
    fused = {}
    for doc, rk in lex.items():
        fused[doc] = fused.get(doc, 0) + 1_000_000 // (RRF_KAPPA + rk)
    for doc, rk in den.items():
        fused[doc] = fused.get(doc, 0) + 1_000_000 // (RRF_KAPPA + rk)
    ranked = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:k]
    want = sorted(
        (-1, doc, ppm, lex.get(doc, 0), den.get(doc, 0), i + 1)
        for i, (doc, ppm) in enumerate(ranked)
    )
    assert got == want


def test_streaming_cc_matches_batch(spark, tmp_path_factory):
    """Incremental connected-component maintenance, fed edge waves,
    resolves to EXACTLY an independent Python union-find's labels
    (including label VALUES — component minimum — not just the
    partition; the oracle is deliberately NOT star_components, so a
    bug shared by the batch and streaming paths cannot cancel out);
    fresh-checkpoint replay, a crash-window re-ingest, and a log
    compaction all change nothing; merges across waves rewrite exactly
    the merged components' members."""
    import shutil as _sh

    from maillog2db_spark import streaming_cc as scc
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    pairs = (
        ca._li_pair_counts(spark, sf)
        .filter(f"w >= {ca.BASKET_MIN_SUPPORT}")
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .localCheckpoint(eager=True)
    )
    parent = {}

    def _find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = _find(r.src), _find(r.dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted((n, _find(n)) for n in parent)
    # waves keyed on a hash so every wave mixes nodes from everywhere —
    # cross-wave merges are the interesting path
    waves = [
        pairs.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(3)) == i)
        for i in range(3)
    ]

    d = tmp_path_factory.mktemp("cc_stream")
    src = d / "edges"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_tmp{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    store = scc.CCStore(str(d / "store"))
    q = start_foreach_batch_stream(
        spark, str(src), scc.cc_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    def resolved():
        return sorted(
            (r.node, r.comp) for r in store.labels.read(spark).collect()
        )

    assert resolved() == want

    # fresh-checkpoint replay: the ledger skips every redelivered wave
    q2 = start_foreach_batch_stream(
        spark, str(src), scc.cc_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert resolved() == want

    # crash inside the commit window: replay the in-flight batch, then
    # continue — identical final labels
    store2 = scc.CCStore(str(d / "store2"))
    scc.cc_ingest_batch(spark, waves[0], store2, 0)
    scc.cc_ingest_batch(spark, waves[1], store2, 1)
    os.remove(store2._ledger(1))
    scc.cc_ingest_batch(spark, waves[1], store2, 1)  # replay converges
    scc.cc_ingest_batch(spark, waves[2], store2, 2)
    assert sorted(
        (r.node, r.comp) for r in store2.labels.read(spark).collect()
    ) == want

    # compaction: resolved labels under ONE partition at the compacted
    # id, old partitions gone, no leftover swap dirs
    store.labels.compact(spark, store.committed)
    assert resolved() == want
    import glob as _glob
    parts = {p.rsplit("=", 1)[-1] for p in
             _glob.glob(str(d / "store" / "labels" / "batch_id=*"))}
    assert parts == {str(COMPACTED_BATCH_ID)}
    assert not os.path.isdir(str(d / "store" / "labels_rewriting"))
    assert not os.path.isdir(str(d / "store" / "labels_old"))

    # an internal-only batch (edges already inside one component)
    # writes no stored-member rewrites: ingest the full edge set again
    # under a fresh id — labels can't change
    late_id = store.max_committed() + 1
    scc.cc_ingest_batch(spark, pairs, store, late_id)
    assert resolved() == want

    # fresh-checkpoint restart against an existing store is refused
    store3 = scc.CCStore(str(d / "store3"))
    scc.cc_ingest_batch(spark, waves[0], store3, 5)
    with pytest.raises(ValueError, match="committed frontier"):
        scc.cc_ingest_batch(spark, waves[1], store3, 3)


def test_streaming_cc_v_merge_through_new_node(spark, tmp_path):
    """A batch that merges two EXISTING components through one new
    node: the contracted merge graph is exactly the V-shape (5,1),(5,2)
    — node 5's edges contract to two distinct component roots. The
    original star-forest convergence test (depth-only) declared this
    converged at round 0 and left component 2 un-merged; this pins the
    fix at the streaming-merge grain."""
    from maillog2db_spark import streaming_cc as scc

    store = scc.CCStore(str(tmp_path / "v_store"))
    wave0 = spark.createDataFrame(
        [(1, 10), (2, 20)], "src bigint, dst bigint"
    )
    scc.cc_ingest_batch(spark, wave0, store, 0)
    assert sorted(
        (r.node, r.comp) for r in store.labels.read(spark).collect()
    ) == [(1, 1), (2, 2), (10, 1), (20, 2)]
    wave1 = spark.createDataFrame(
        [(5, 1), (5, 2)], "src bigint, dst bigint"
    )
    scc.cc_ingest_batch(spark, wave1, store, 1)
    assert sorted(
        (r.node, r.comp) for r in store.labels.read(spark).collect()
    ) == [(1, 1), (2, 1), (5, 1), (10, 1), (20, 1)]


def test_streaming_neardup_pairs_feed_streaming_cc(spark, tmp_path_factory):
    """End-to-end incremental dedup clustering: document waves run
    through the streaming near-dup pipeline, each wave's NEW verified
    pairs feed the streaming connected-component store, and the final
    resolved labels reproduce the batch doc_neardup_clusters table
    exactly (cluster ids AND membership) — the full
    admission→pairs→clusters path with no batch recomputation."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_cc as scc
    from maillog2db_spark import streaming_neardup as snd
    from maillog2db_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents").select("doc_id", "lang", "text")
    want = {
        (r.cluster_id, r.members)
        for r in dedup.neardup_clusters(spark, sf).collect()
    }

    d = tmp_path_factory.mktemp("nd_cc")
    nd = snd.MinHashStore(str(d / "nd"))
    cc = scc.CCStore(str(d / "cc"))
    waves = [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i) for i in range(3)
    ]
    seen = None
    for i, w in enumerate(waves):
        snd.neardup_ingest_batch(spark, w, nd, i)
        cur = nd.read_pairs(spark).select("doc_a", "doc_b").localCheckpoint(
            eager=True
        )
        delta = cur if seen is None else cur.exceptAll(seen)
        scc.cc_ingest_batch(
            spark,
            delta.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
            cc,
            i,
        )
        seen = cur

    labels = cc.labels.read(spark)
    by_comp = {}
    for r in labels.collect():
        by_comp.setdefault(r.comp, []).append(r.node)
    got = {
        (c, ",".join(str(x) for x in sorted(ms))) for c, ms in by_comp.items()
    }
    assert got == want
