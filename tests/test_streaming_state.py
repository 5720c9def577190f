"""Stateful-streaming queueid assembly (applyInPandasWithState, ST4):
multi-trigger state evolution must converge to the batch merge result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maillog2db_spark import parsing, streaming_state, tables
from tests.test_streaming import FILES, YEAR, log_dir  # noqa: F401 (fixture reuse)


@pytest.fixture(scope="module")
def stateful_rows(spark, log_dir):  # noqa: F811
    """Run the stream one file per trigger; capture every update-mode
    emission with its batch id via foreachBatch."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(log_dir)
        .withColumn("seq0", F.lit(0))
    )
    parsed = parsing.parse_lines(lines, seq_col="seq0", year=YEAR)
    # ordering key for last-writer-wins: event time (distinct per fixture
    # line — real maillogs are time-ordered, ST6)
    ev = tables.message_events(parsed.withColumn("seq", F.unix_micros("ts")))
    out = streaming_state.messages_stateful(ev)

    captured: list[tuple[int, tuple]] = []

    def sink(df, bid):
        for r in df.collect():
            captured.append((bid, tuple(r)))

    q = out.writeStream.foreachBatch(sink).outputMode("update").trigger(availableNow=True).start()
    q.awaitTermination(120)
    return captured


def test_stateful_converges_to_batch(spark, stateful_rows, log_dir):  # noqa: F811
    # final emission per queueid (max batch id wins)
    final: dict[str, tuple] = {}
    for bid, row in sorted(stateful_rows, key=lambda x: x[0]):
        final[row[0]] = row

    # batch ground truth with the same ordering key
    lines = spark.read.text(log_dir).withColumn("seq0", F.lit(0))
    parsed = parsing.parse_lines(lines, seq_col="seq0", year=YEAR)
    batch = tables.build_messages(parsed.withColumn("seq", F.unix_micros("ts")))
    expected = {r[0]: tuple(r) for r in batch.collect()}

    assert final == expected


def test_stateful_emits_partial_then_merged(stateful_rows):
    """AAAA1111 gets qmgr in trigger 0 and a qmgr re-emit in a later
    trigger: the earlier emission must show the old size, the later one
    the new — update semantics surfacing state evolution."""
    a_rows = [(bid, r) for bid, r in stateful_rows if r[0] == "AAAA1111"]
    assert len(a_rows) >= 2
    sizes = [r[4] for _, r in sorted(a_rows, key=lambda x: x[0])]
    assert sizes[0] == "100" and sizes[-1] == "999"
    # smtpd field group survived the qmgr overwrite
    assert all(r[7] == "one.example.org[10.0.0.1]" for _, r in a_rows)
