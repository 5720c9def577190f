"""Streaming admission gate over doc_span_dedup: reject a document
whose tokens are >= SPAN_GATE_PPM covered by qualifying duplicate
spans already seen — the ingest-side ExactSubstr filter (Lee et al.
2022, arXiv:2107.06499) a pretraining pipeline runs BEFORE a document
enters the corpus, next to the DSIR / LM-quality gates.

Semantics (the batch-equivalence contract, tested): "already seen"
means documents with a strictly lower doc_id, whether or not THEY were
admitted — the store accumulates first-writer shingle attributions for
every document it has examined, so with doc_id-monotone batches the
verdict for doc d is exactly the batch operator's:

    gate(after any prefix of batches)
      ≡ doc_span_dedup over the union of those batches,
        admitted = cov_ppm < SPAN_GATE_PPM

(cov_ppm = floor(n_removed·1e6 / n_toks + 0.5), 0 for empty/NULL-token
docs — nothing seen, nothing copied, admit). Rejected docs still feed
the store: a heavily-duplicated doc's FRESH spans are real first
writes, and excluding them would make the verdict depend on the gate's
own history instead of the corpus — the property that makes the batch
twin a pure SQL-shaped filter.

Ordering contract is ENFORCED (the streaming_bot.py precedent): a
batch whose earliest doc_id does not exceed the largest committed
doc_id raises — first-writer-wins attribution against a store that
already contains LATER documents would flip verdicts that were already
served, which no replay can repair.

Per-batch cost: O(batch shingles + stored shingles) — one shingle-key
aggregate, one min-join against the first-writer store, and
doc-bounded window work for the run gating; verdict history is never
re-read. The folded store (``compact``) grows with DISTINCT shingles,
not corpus size (the streaming_scrub store bound; see SCALING.md's
first-writer-store decade).

Crash safety: verdicts and the batch's shingle first writers are
per-batch partials with dynamic overwrite, and a replayed batch reads
the store as-of before itself (``exclude_batch``), so its crashed
attempt's residue is invisible (ST5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.corpus_analytics import (
    coverage_from_dup_occurrences,
    positional_shingles,
    qualifying_dup_runs,
    rebuild_scrubbed,
)
from .ledger import FileBatchLedger, PartialsTable, first_writer, fold_deltas, keep_batch_id
from .operators.dedup import _TOKENS_SPARK

# reject when >= 50% of a doc's tokens sit inside qualifying
# (>= SPAN_MIN_TOKENS) duplicate spans
SPAN_GATE_PPM = 500_000


class SpanGateStore(FileBatchLedger):
    """Persisted gate state: (shingle → first doc_id) first-writer
    partials plus the batch-partitioned verdict history
    (``verdicts``, read with its batch ids: the monotone check probes
    one predecessor batch at a time)."""

    def __init__(self, root: str):
        self.root = root
        self.shingles = PartialsTable(os.path.join(root, "shingles"), first_writer("shingle"))
        self.verdicts = PartialsTable(os.path.join(root, "verdicts"), keep_batch_id)


def gate_verdicts_from(dedup_out: DataFrame) -> DataFrame:
    """(doc_id, n_toks, n_spans, n_removed, ...) → the gate verdict
    columns — shared by the streaming path and the batch twin (applied
    to doc_span_dedup output) so both derive admission from the
    identical expression."""
    return dedup_out.select(
        "doc_id",
        "n_toks",
        "n_spans",
        "n_removed",
        F.expr(
            "CASE WHEN n_toks IS NULL OR n_toks = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(floor(n_removed * 1000000.0 / n_toks + 0.5)"
            "      AS BIGINT) END"
        ).alias("cov_ppm"),
    ).withColumn("admitted", F.col("cov_ppm") < SPAN_GATE_PPM)


def span_gate_ingest_batch(
    spark: SparkSession, batch: DataFrame, store: SpanGateStore, batch_id: int
) -> None:
    if store.committed(batch_id):
        return
    p = spark.sparkContext.defaultParallelism
    t = (
        batch.repartition(p, "doc_id")
        .select("doc_id", F.expr(_TOKENS_SPARK).alias("toks"))
        # tokens feed three consumers (occurrences, rebuild, contract
        # check) — materialize the interpreted tokenize once
        .localCheckpoint(eager=True)
    )
    # doc_id-monotone contract: first-writer attribution is only equal
    # to the batch operator's global min if batch order ≡ doc_id order;
    # compare against PREDECESSOR batches only (a legal crash-window
    # replay of batch b runs after b+1 already committed).
    ledger_dir = os.path.join(store.root, "_ledger")
    preds = (
        [int(e) for e in os.listdir(ledger_dir)
         if e.isdigit() and int(e) < batch_id]
        if os.path.isdir(ledger_dir) else []
    )
    prev_max = None
    v = store.verdicts.read(spark) if preds else None
    if v is not None:
        # walk BACK past empty predecessors: an empty micro-batch is
        # ledger-committed but writes no verdict rows, so reading only
        # max(preds) would yield prev_max=None and silently skip the
        # check — letting an out-of-order batch flip already-served
        # first-writer verdicts. By induction each non-empty batch's
        # max doc_id dominates all earlier ones, so the first
        # non-empty predecessor (latest first) IS the committed
        # watermark; each probe reads one partition-pruned batch
        # partition, and empty batches are the rare case, so the loop
        # is O(1) reads in steady state, never the whole history.
        for b in sorted(preds, reverse=True):
            prev_max = (
                v.filter(F.col("batch_id") == b)
                .agg(F.max("doc_id"))
                .collect()[0][0]
            )
            if prev_max is not None:
                break
    if prev_max is not None:
        batch_min = t.agg(F.min("doc_id")).collect()[0][0]
        if batch_min is not None and batch_min <= prev_max:
            raise ValueError(
                "doc_id-monotone contract violated: batch "
                f"{batch_id} starts at doc_id {batch_min}, not after "
                f"the largest committed doc_id {prev_max} — verdicts "
                "already served under first-writer-wins cannot be "
                "revised"
            )
    occ = positional_shingles(t)
    batch_first = occ.groupBy("shingle").agg(F.min("doc_id").alias("bfirst"))
    stored = store.shingles.read(spark, exclude_batch=batch_id)
    if stored is None:
        eff = batch_first.select("shingle", F.col("bfirst").alias("first_doc"))
    else:
        eff = batch_first.join(
            stored.withColumnRenamed("doc_id", "sfirst"), "shingle", "left"
        ).select(
            "shingle",
            F.least(
                F.col("bfirst"), F.coalesce("sfirst", F.col("bfirst"))
            ).alias("first_doc"),
        )
    dup = (
        occ.join(eff, "shingle")
        .filter(F.col("first_doc") < F.col("doc_id"))
        .select("doc_id", "i")
    )
    runs = qualifying_dup_runs(dup)
    starts = runs.select(
        "doc_id", F.explode(F.expr("sequence(a, b)")).alias("i")
    )
    audit = rebuild_scrubbed(t, coverage_from_dup_occurrences(starts))
    n_spans = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans")
    )
    verdicts = gate_verdicts_from(
        audit.join(n_spans, "doc_id", "left").select(
            "doc_id",
            "n_toks",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            "n_removed",
        )
    )
    store.verdicts.write(verdicts.repartition(1), batch_id)
    store.shingles.write(
        batch_first.select("shingle", F.col("bfirst").alias("doc_id")), batch_id
    )
    store.mark_committed(batch_id)
    fold_deltas(spark, store.shingles, store.committed)
