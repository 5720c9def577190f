"""Custom `maillog` data source: batch byte-range splitting and the
tail-semantics streaming reader (append-granular follow, partial-line
holdback, truncation replay — reference maillog2db.go:168 semantics)."""

from __future__ import annotations

import pathlib

import pytest

from maillog2db_spark import sources

LINES1 = [f"Aug 13 03:14:{i:02d} mx01 postfix/smtpd[1]: line {i}" for i in range(20)]
LINES2 = [f"Aug 13 04:00:{i:02d} mx01 postfix/qmgr[2]: more {i}" for i in range(5)]


@pytest.fixture(scope="module")
def registered(spark):
    sources.register(spark)
    return spark


def _write(path: pathlib.Path, lines, partial: str | None = None, mode="w"):
    with open(path, mode) as f:
        for ln in lines:
            f.write(ln + "\n")
        if partial is not None:
            f.write(partial)  # no trailing newline


def test_batch_read_matches_text_source(registered, tmp_path):
    p = tmp_path / "m.log"
    _write(p, LINES1)
    got = sorted(r.value for r in registered.read.format("maillog").load(str(p)).collect())
    want = sorted(r.value for r in registered.read.text(str(p)).collect())
    assert got == want


def test_batch_read_splits_into_ranges(registered, tmp_path, monkeypatch):
    monkeypatch.setattr(sources, "BATCH_SPLIT_BYTES", 64)
    p = tmp_path / "m.log"
    _write(p, LINES1)
    df = registered.read.format("maillog").load(str(p))
    rows = [r.value for r in df.collect()]
    assert sorted(rows) == sorted(LINES1)  # once each, despite many ranges
    assert len(sources.MaillogBatchReader({"path": str(p)}).partitions()) > 3


@pytest.mark.parametrize(
    "content",
    ["a\nb\nc\n", "ab\n\ncd\r\nlonger line\nx\n", "one\ntwo\nunterminated"],
    ids=["lf", "empty_and_crlf", "unterminated"],
)
def test_range_split_at_every_offset_yields_each_line_once(tmp_path, content):
    """Byte-range split contract at EVERY boundary: cutting the file at
    any offset into [0, k) and [k, n) — and into ranges of every width
    at once — emits each line exactly once, including a line that
    starts exactly on a boundary (the Hadoop seek(start - 1) rule)."""
    p = tmp_path / "m.log"
    p.write_bytes(content.encode())
    n = len(content.encode())
    want = content.replace("\r\n", "\n").split("\n")
    if content.endswith("\n"):
        want = want[:-1]

    def read(ranges):
        return [
            v
            for s, e in ranges
            for b in sources._read_lines(str(p), s, e)
            for v in b.column(0).to_pylist()
        ]

    for k in range(n + 1):
        assert read([(0, k), (k, n)]) == want, k
    for w in range(1, n + 1):
        assert read([(s, min(s + w, n)) for s in range(0, n, w)]) == want, w


def _run_stream(spark, path, ckpt):
    got = []
    q = (
        spark.readStream.format("maillog")
        .load(str(path))
        .writeStream.foreachBatch(lambda df, bid: got.extend(r.value for r in df.collect()))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return got


def test_stream_follows_appends_and_holds_partial_lines(registered, tmp_path):
    p = tmp_path / "m.log"
    ckpt = tmp_path / "ckpt"
    _write(p, LINES1[:3])
    assert _run_stream(registered, p, ckpt) == LINES1[:3]

    # append complete lines + one partial (writer mid-append)
    _write(p, LINES2, partial="Aug 13 05:00:00 mx01 partial", mode="a")
    assert _run_stream(registered, p, ckpt) == LINES2  # partial held back

    # writer finishes the line
    with open(p, "a") as f:
        f.write(" done\n")
    assert _run_stream(registered, p, ckpt) == ["Aug 13 05:00:00 mx01 partial done"]

    # nothing new → empty batch, offset stable
    assert _run_stream(registered, p, ckpt) == []


def test_stream_truncation_replays_from_start(registered, tmp_path):
    p = tmp_path / "m.log"
    ckpt = tmp_path / "ckpt"
    _write(p, LINES1)
    assert _run_stream(registered, p, ckpt) == LINES1

    # logrotate-style truncation: file recreated smaller, new content
    _write(p, LINES2, mode="w")
    # ReOpen semantics: re-read from offset 0 (downstream dedup makes
    # the replay effectively-once, same as the reference's design)
    assert _run_stream(registered, p, ckpt) == LINES2


def test_read_stream_lines_tail_mode_feeds_parse_layer(registered, tmp_path):
    """read_stream_lines(tail_file=True) streams raw lines from a single
    growing file into the shared JVM parse layer — stream output equals
    the batch parse of the same file."""
    from maillog2db_spark import parsing, streaming

    p = tmp_path / "grow.log"
    lines = [
        "Aug 13 03:14:15 mx01 postfix/smtpd[12345]: 4BcD12x9: client=mail.example.org[192.0.2.10]",
        "Aug 13 03:14:16 mx01 postfix/qmgr[12346]: 4BcD12x9: from=<s@x>, size=2048, nrcpt=1 (queue active)",
        "not a maillog line at all",
    ]
    _write(p, lines)
    stream = streaming.read_stream_lines(registered, str(p), tail_file=True)
    assert stream.isStreaming and stream.columns == ["value"]
    got = []
    # parse inside foreachBatch, same as start_ingest (seq assignment is
    # batch-scoped — ST6's streaming seq embeds the batch id)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: got.extend(parsing.parse_lines(df, year=2026).sort("seq").collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = parsing.parse_lines(registered.read.text(str(p)), year=2026).sort("seq").collect()
    drop = {"seq"}  # seq embeds batch id in streaming mode (ST6)
    strip = lambda rows: [{k: v for k, v in r.asDict().items() if k not in drop} for r in rows]
    assert strip(got) == strip(want)


def test_tail_reader_property_random_append_truncate(tmp_path):
    """Property: under any sequence of appends (complete or partial
    lines), partial completions, and truncations, the byte-offset tail
    reader emits exactly what a line-level model predicts — every
    complete line once per epoch, partials held back, truncation
    starting a replay epoch."""
    from hypothesis import given, settings, strategies as st

    from maillog2db_spark.sources import MaillogTailReader

    line_s = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=12
    )
    op_s = st.one_of(
        st.tuples(st.just("append"), st.lists(line_s, min_size=1, max_size=4)),
        st.tuples(st.just("partial"), line_s),
        st.tuples(st.just("complete"), line_s),
        st.tuples(st.just("truncate"), st.lists(line_s, min_size=0, max_size=3)),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(op_s, min_size=1, max_size=12))
    def run(ops):
        path = tmp_path / f"t_{abs(hash(str(ops))) % 10**9}.log"
        path.write_text("")
        reader = MaillogTailReader({"path": str(path)})
        offset = reader.initialOffset()
        emitted: list[str] = []
        model: list[str] = []  # expected emissions, epoch-aware
        file_lines: list[str] = []  # complete lines currently in the file
        partial: str | None = None

        def drain():
            # drive the reader the way the engine does: latestOffset →
            # partitions(start, end) → per-partition executor reads
            nonlocal offset
            end = reader.latestOffset()
            for part in reader.partitions(offset, end):
                for batch in reader.read(part):
                    emitted.extend(v.as_py() for v in batch.column(0))
            offset = end

        for op, arg in ops:
            if op == "append":
                if partial is not None:
                    continue  # writer is mid-line; skip whole-line appends
                with open(path, "a") as f:
                    for ln in arg:
                        f.write(ln + "\n")
                file_lines.extend(arg)
                model.extend(arg)
            elif op == "partial":
                if partial is not None:
                    continue
                partial = arg
                with open(path, "a") as f:
                    f.write(arg)
            elif op == "complete":
                if partial is None:
                    continue
                with open(path, "a") as f:
                    f.write(arg + "\n")
                file_lines.append(partial + arg)
                model.append(partial + arg)
                partial = None
            else:  # truncate: rotation replay epoch
                # size-based truncation detection (same rule as the
                # reference's tail lib: replay iff size < offset) cannot
                # see a rewrite that lands >= the current offset — skip
                # those, they're undetectable for ANY offset-based tailer
                pos_bytes = sum(len(ln.encode()) + 1 for ln in file_lines)
                new_bytes = sum(len(ln.encode()) + 1 for ln in arg)
                if new_bytes >= pos_bytes:
                    continue
                with open(path, "w") as f:
                    for ln in arg:
                        f.write(ln + "\n")
                file_lines = list(arg)
                partial = None
                model.extend(arg)  # replay epoch: file content re-emitted
            drain()
        drain()
        assert emitted == model, (ops, emitted, model)

    run()
