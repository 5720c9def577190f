"""Streaming corpus-admission funnel — the incremental dual of the
composed batch pipeline (``operators/corpus_pipeline.py``).

A production ingest does not re-run the whole quality → dedup →
novelty → decontaminate → pack funnel over the full corpus per day;
new document batches are ADMITTED incrementally against persisted
state, and the funnel counters accumulate. This module composes the
per-stage semantics of the batch pipeline into one ``foreachBatch``
step over three small state stores:

  * fingerprint store — canonical-dedup reps seen so far, one
    first-writer partial (fingerprint → min doc_id) per batch;
  * shingle first-writer store — (shingle, first_doc) mins over every
    stage-3 survivor so far (the novelty stage's evidence base: the
    batch pipeline builds this map over DEDUPED docs, including ones
    later dropped by novelty/decontam — the stream writes the same
    rows), one partial per batch;
  * pack state — per-lang (cum_tokens, n_bins, last_bin) snapshot,
    written per batch id, so next-fit bin accounting continues across
    batches without rescanning admitted docs.

Every table, state included, is written PARTITIONED BY batch_id with
dynamic-partition overwrite: replaying a batch rewrites its own
partition — never double-counts — and reads the first-writer state
as-of before itself (``exclude_batch``), so its crashed attempt's
residue is invisible. The batch-id ledger (ST5) skips fully-committed
batches, so a crash anywhere in the window converges.

Stream ≡ batch equivalence
    With documents arriving in doc_id-monotone batches (ingest-
    assigned ids — the same ordering note as streaming_neardup), every
    stage's survivor set is IDENTICAL to the batch pipeline's:
    quality/decontam are row-local, dedup's global min-doc_id rep is
    the first arrival, and a doc's novelty verdict only depends on
    first-writers with SMALLER doc_id — all of which have already
    arrived. tests/test_streaming.py::
    test_streaming_admission_matches_batch_funnel asserts the funnel
    counts match ``doc_corpus_pipeline`` exactly, and that replay
    changes nothing.

Scale shape per batch: one tokenize/shingle pass over the batch, one
anti-join against the fingerprint store, one min-union + equi-join
against the shingle store, one broadcast semi-join (bench shingles —
Zipf-bounded reference set), one tiny window over the batch's clean
docs. The batch writes only its own partials; the two first-writer
reads scan the stores' distinct keys, which ``compact`` folds.

The benchmark shingle set is a STATIC side input (like the batch
pipeline reading the bench source from the same table): decontam
checks against the full registry regardless of stream arrival order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ledger import (
    FileBatchLedger, PartialsTable, drop_batch_id, first_writer, keep_batch_id,
)

from .operators.chunking import CHUNK_STRIDE, PACK_BUDGET
from .operators.corpus_pipeline import QUALITY_MIN_PPM, _quality_ppm_from_toks
from .operators.decontam import BENCH_SOURCE, CONTAM_PPM_THRESHOLD
from .operators.dedup import _SHINGLES_FROM_TOKS_SPARK, _TOKENS_SPARK


class AdmissionStore(FileBatchLedger):
    """Persisted admission state under one root directory, all of it
    partials tables:
    ``fingerprints`` — (fingerprint, doc_id) first writers;
    ``shingles``  — (shingle, doc_id) first writers;
    ``counters``  — (stage, n) per-batch funnel counts, summed;
    ``packstate`` — per-lang pack snapshot per batch, read by batch id;
    ``admitted``  — (doc_id, lang, n_chars) write-once admissions.
    """

    def __init__(self, root: str):
        self.root = root
        self.fingerprints = PartialsTable(
            os.path.join(root, "fingerprints"), first_writer("fingerprint"))
        self.shingles = PartialsTable(os.path.join(root, "shingles"), first_writer("shingle"))
        self.counters = PartialsTable(
            os.path.join(root, "counters"),
            lambda df: df.groupBy("stage").agg(F.sum("n").cast("bigint").alias("n")),
        )
        self.packstate = PartialsTable(os.path.join(root, "packstate"), keep_batch_id)
        self.admitted = PartialsTable(os.path.join(root, "admitted"), drop_batch_id)

    def read_pack_state(
        self, spark: SparkSession, before_batch: int | None = None
    ) -> DataFrame | None:
        """Latest committed per-lang pack snapshot (optionally only
        snapshots strictly before ``before_batch`` — what a replayed
        batch must read so its own partial snapshot is invisible)."""
        df = self.packstate.read(spark)
        if df is None:
            return None
        if before_batch is not None:
            df = df.filter(F.col("batch_id") < before_batch)
        latest = df.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
        if latest is None:
            return None
        return df.filter(F.col("batch_id") == latest).drop("batch_id")


def bench_shingles_from_docs(docs: DataFrame) -> DataFrame:
    """The static decontamination reference: the distinct shingle set
    of the benchmark source in a documents relation."""
    return (
        docs.filter(F.col("source") == BENCH_SOURCE)
        .select(F.expr(_TOKENS_SPARK).alias("toks"))
        .select(F.explode(F.expr(_SHINGLES_FROM_TOKS_SPARK)).alias("shingle"))
        .distinct()
    )


def admission_ingest_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store: AdmissionStore,
    batch_id: int,
    bench_shingles: DataFrame,
) -> None:
    """One micro-batch of documents through the admission funnel."""
    if store.committed(batch_id):
        return
    p = spark.sparkContext.defaultParallelism

    d = (
        batch_docs.repartition(p, "doc_id")
        .withColumn("toks", F.expr(_TOKENS_SPARK))
        .withColumn("quality_ppm", _quality_ppm_from_toks())
        .withColumn("sh", F.expr(_SHINGLES_FROM_TOKS_SPARK))
        # lazy (r11 A/B): materializes inside the first consumer's job
        # and is reused by every later stage — the eager form paid a
        # dedicated blocking job per micro-batch for the same reuse
        .localCheckpoint(eager=False)  # shared by every stage below
    )
    corpus = d.filter(F.col("source") != BENCH_SOURCE)
    quality = corpus.filter(F.col("quality_ppm") >= QUALITY_MIN_PPM)

    # canonical dedup: in-batch min-doc_id rep per fingerprint, then
    # history suppression against the fingerprint store
    fp = quality.withColumn(
        "fingerprint",
        F.md5(F.array_join(F.array_sort(F.array_distinct("toks")), " ")),
    )
    reps = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    deduped = fp.join(reps, ["fingerprint", "doc_id"], "left_semi")
    seen_fp = store.fingerprints.read(spark, exclude_batch=batch_id)
    if seen_fp is not None:
        deduped = deduped.join(
            seen_fp.select("fingerprint"), "fingerprint", "left_anti"
        )
    deduped = deduped.localCheckpoint(eager=False)  # reused 4× (lazy: r11 A/B)

    # novelty: first-writer-wins over store + in-batch mins. The store
    # holds only first_docs from EARLIER batches (< every current id
    # under monotone arrival), so combined-min < doc_id reproduces the
    # batch pipeline's global verdict exactly.
    ex = deduped.select("doc_id", F.explode("sh").alias("shingle"))
    batch_first = ex.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    seen_sh = store.shingles.read(spark, exclude_batch=batch_id)
    if seen_sh is not None:
        batch_first = (
            batch_first.unionByName(
                seen_sh.select("shingle", F.col("doc_id").alias("first_doc"))
            )
            .groupBy("shingle")
            .agg(F.min("first_doc").alias("first_doc"))
        )
    dupish = (
        ex.join(batch_first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_seen"),
        )
        .filter(F.col("n_seen") * 2 >= F.col("n_sh"))
    )
    novel = deduped.join(dupish.select("doc_id"), "doc_id", "left_anti")

    # decontamination vs the static benchmark shingle set
    hits = (
        novel.select(
            "doc_id",
            F.size("sh").cast("bigint").alias("n_sh"),
            F.explode("sh").alias("shingle"),
        )
        .join(F.broadcast(bench_shingles), "shingle", "left_semi")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") * 1_000_000 >= F.col("n_sh") * CONTAM_PPM_THRESHOLD)
    )
    clean = novel.join(
        hits.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=False)  # counters + packing + admitted (lazy: r11 A/B)

    # pack-bin accounting continued from the previous snapshot:
    # bin = floor((carried_cum + in-batch exclusive prefix) / budget),
    # new distinct bins are those beyond the carried last_bin (bin ids
    # are nondecreasing in doc_id order)
    tok = F.expr("(n_chars + 3) div 4")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = store.read_pack_state(spark, before_batch=batch_id)
    if prev is None:
        prev = spark.createDataFrame(
            [], "lang string, cum_tok long, n_bins long, last_bin long"
        )
    batch_pack = clean.select(
        "lang",
        "doc_id",
        tok.alias("tok"),
        F.coalesce(F.sum(tok).over(w), F.lit(0)).alias("prefix"),
    )
    joined = batch_pack.join(F.broadcast(prev), "lang", "left")
    bin_id = F.floor(
        (F.coalesce("cum_tok", F.lit(0)) + F.col("prefix")) / F.lit(PACK_BUDGET)
    )
    updates = (
        joined.withColumn("bin_id", bin_id)
        .groupBy("lang")
        .agg(
            F.coalesce(F.first("cum_tok"), F.lit(0)).alias("_old_cum"),
            F.coalesce(F.first("n_bins"), F.lit(0)).alias("_old_bins"),
            F.first("last_bin").alias("_old_last"),
            F.sum("tok").alias("_add_tok"),
            F.countDistinct(
                F.when(
                    F.col("bin_id") > F.coalesce(F.col("last_bin"), F.lit(-1)),
                    F.col("bin_id"),
                )
            ).alias("_new_bins"),
            F.max("bin_id").alias("_max_bin"),
        )
        .select(
            "lang",
            (F.col("_old_cum") + F.col("_add_tok")).alias("cum_tok"),
            (F.col("_old_bins") + F.col("_new_bins")).alias("n_bins"),
            F.greatest(
                F.coalesce("_old_last", F.lit(-1)), F.col("_max_bin")
            ).alias("last_bin"),
        )
    )
    # carry forward langs untouched this batch
    snapshot = updates.unionByName(
        prev.join(updates.select("lang"), "lang", "left_anti")
    )
    store.packstate.write(snapshot.repartition(1), batch_id)

    # funnel counters for THIS batch (overwritten wholesale on replay)
    n_chunks_col = F.expr(f"(greatest(n_chars, 1) - 1) div {CHUNK_STRIDE} + 1")

    def stage(name: str, df: DataFrame, cnt=None) -> DataFrame:
        agg = (cnt if cnt is not None else F.count(F.lit(1))).cast("bigint").alias("n")
        return df.agg(agg).select(F.lit(name).alias("stage"), "n")

    counters = (
        stage("1_corpus", corpus)
        .unionByName(stage("2_quality", quality))
        .unionByName(stage("3_dedup_canonical", deduped))
        .unionByName(stage("4_novelty", novel))
        .unionByName(stage("5_decontaminated", clean))
        .unionByName(
            stage("6_chunks", clean, F.coalesce(F.sum(n_chunks_col), F.lit(0)))
        )
    )
    store.counters.write(counters.repartition(1), batch_id)
    store.admitted.write(
        clean.select("doc_id", "lang", "n_chars").repartition(1), batch_id
    )

    # first-writer partials: shingle first-writers come from ALL
    # stage-3 survivors — the batch pipeline builds its map over
    # deduped docs, including ones novelty/decontam later drop
    store.fingerprints.write(deduped.select("fingerprint", "doc_id"), batch_id)
    store.shingles.write(
        ex.groupBy("shingle").agg(F.min("doc_id").alias("doc_id")), batch_id
    )
    store.mark_committed(batch_id)


def funnel(spark: SparkSession, store: AdmissionStore) -> DataFrame:
    """Accumulated funnel — same 7 rows as ``doc_corpus_pipeline``:
    stages 1–6 sum the per-batch counters, stage 7 reads the latest
    pack snapshot (a state, not a sum)."""
    totals = store.counters.read(spark)
    if totals is None:
        raise ValueError("no batches ingested yet")
    pack = store.read_pack_state(spark)
    n_bins = (
        pack.agg(F.sum("n_bins").cast("bigint").alias("n")).select(
            F.lit("7_pack_bins").alias("stage"), "n"
        )
        if pack is not None
        else spark.createDataFrame([("7_pack_bins", 0)], "stage string, n long")
    )
    return totals.unionByName(n_bins).orderBy("stage")


# --- Gopher-rules admission gate (stateless) ---------------------------------
#
# The Gopher rule set (operators/quality.gopher_rules) is a pure
# map-only projection, so its streaming dual needs NO state store at
# all: each micro-batch's verdicts are the batch query's rows for
# exactly those documents, written batch_id-partitioned with dynamic
# overwrite (replay rewrites its own partition) behind the usual
# ledger. This is the ideal 100 TB admission-filter shape — per-batch
# cost is one whole-stage-codegen pass over the batch, zero shuffles,
# zero history reads.


class GopherGateStore(FileBatchLedger):
    """batch_id-partitioned Gopher verdict rows + the commit ledger."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.verdicts = PartialsTable(os.path.join(root, "verdicts"), drop_batch_id)


def gopher_gate_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: GopherGateStore,
    batch_id: int,
) -> None:
    from .operators.quality import gopher_flags_from

    if store.committed(batch_id):
        return
    store.verdicts.write(gopher_flags_from(batch_docs).repartition(1), batch_id)
    store.mark_committed(batch_id)
