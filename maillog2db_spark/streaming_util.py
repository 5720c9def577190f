"""The one stream entry point for the directory-following foreachBatch
stores.

Every incremental store in this engine follows the same source shape —
a directory of parquet drops read as a file stream, each micro-batch
handed to an idempotent ledger-gated ingest function — so the stream
is started by calling ``start_foreach_batch_stream`` with the store's
module-level ``*_ingest_batch`` function:

    start_foreach_batch_stream(spark, src_dir, drift_ingest_batch,
                               store, ckpt, available_now=True)

Conventions the helper relies on:

- every ingest takes ``(spark, batch_df, store, batch_id, **kwargs)``;
  extra keyword arguments given to the helper are passed through;
- the query is named after the ingest, ``ingest.__name__`` without its
  ``_batch`` suffix (``drift_ingest_batch`` → ``drift_ingest``);
  checkpoints are keyed by directory, not by name;
- each trigger reads at most ONE new file (``maxFilesPerTrigger=1``),
  the backpressure bound (ST7) and the strict arrival order every
  stream-≡-batch test replays.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import SparkSession


def start_foreach_batch_stream(
    spark: SparkSession,
    src_dir: str,
    ingest: Callable,
    store,
    checkpoint_dir: str,
    available_now: bool = False,
    select: Sequence[str] | None = None,
    **ingest_kwargs,
):
    """Follow ``src_dir`` (a directory of parquet drops) and hand each
    micro-batch to ``ingest(spark, batch_df, store, batch_id,
    **ingest_kwargs)``.

    ``available_now`` drains the backlog and terminates (the
    test/replay mode); ``select`` projects the stream down to the
    columns the ingest needs — at the source, because foreachBatch
    hands the ingest an already-scanned plan that a projection inside
    the ingest cannot prune."""
    schema = spark.read.parquet(src_dir).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # ST7: one file per trigger
        .parquet(src_dir)
    )
    if select is not None:
        df = df.select(*select)
    writer = (
        df.writeStream.foreachBatch(
            lambda b, bid: ingest(b.sparkSession, b, store, bid, **ingest_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(ingest.__name__.removesuffix("_batch"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
