"""Streaming CCNet bucket service — the frozen-cut-table dual of
``doc_ccnet_buckets`` (Wenzek et al. 2020, arXiv:1911.00359).

CCNet's deployment shape is exactly this: the Kneser-Ney LM and the
per-language head/middle/tail perplexity CUTS are computed ONCE over a
reference corpus, then every incoming crawl shard is scored under that
frozen model and bucketed by threshold comparison — the reference
pipeline does not re-rank the world per shard. So unlike the additive
stores (vocab/bm25/drift), the state here is IMMUTABLE after
``freeze``: the ten order-5 KN count tables (r10 — the paper's actual
KenLM order; r9 froze the bigram model) plus the (lang, b1, b2) cut
boundaries, all persisted as plain parquet (the streaming_drift /
streaming_dsir frozen-reference precedent). The model is bounded by
the REFERENCE corpus, constant in the scored data — which is what
keeps the order-5 cascade servable even though the self-scored type
tables are corpus-linear at this order (see the corpus_analytics
section note).

Per-batch serving cost: one 5-gram explode over the batch joined
against the frozen tables (kn5_score_pgrams — the IDENTICAL expression
the batch query uses; stream ≡ batch is equality of inputs into one
scoring core), one per-doc rollup, one broadcast join against the cut
table. Zero history reads, zero state growth — the ideal 100 TB
admission shape, like the Gopher gate.

Semantics notes (deliberate, documented):
  * Assignment is VALUE-based: bucket = 1 + (nll > b1) + (nll > b2)
    where b1/b2 are the max avg NLL of the reference ranking's ntile
    buckets 1 and 2. For reference docs with scores strictly inside
    their bucket's range this reproduces the ntile assignment; ties
    exactly ON a boundary go to the lower (better) bucket — the
    threshold contract a served cut table implies (ntile itself is
    positional and cannot be served).
  * A reference language with < 3 docs has no tail; its b2 coalesces
    to b1 (bucket 3 reachable only above both).
  * OOV handling: a 5-gram whose TARGET token never occurred in the
    reference has zero continuation mass — its NLL row is NULL under
    the shared expression. Such rows are counted per doc as
    ``n_oov_ngrams`` and excluded from the average (deterministic,
    reported, never silently imputed). ``n_ngrams`` is the TOTAL
    5-gram count including OOV rows — the kn_heldout column contract
    (the r9 advisor note: the scored-only count under the same name
    was a silent semantics fork). A doc with ONLY OOV 5-grams — or
    with fewer than 5 tokens, hence no 5-grams at all — gets a NULL
    score and bucket 0, so EVERY batch doc receives a verdict row.
  * Docs whose language has no reference cut get bucket 0 ("no cut").

Verdicts write batch_id-partitioned with dynamic overwrite behind the
usual ledger (ST5): replay rewrites its own partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import FileBatchLedger
from .operators.corpus_analytics import kn5_score_pgrams, pgrams_of
from .operators.dedup import _TOKENS_SPARK
from .streaming_util import start_foreach_batch_stream


class CcnetCutStore(FileBatchLedger):
    """Frozen order-5 KN model + cut table + batch-partitioned
    verdicts."""

    MODEL_TABLES = (
        "pgc", "pctx", "cont4", "mid4", "cont3", "mid3",
        "cont2", "mid", "cont", "ttypes",
    )

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def frozen(self) -> bool:
        return all(
            os.path.isdir(self._path(t))
            for t in self.MODEL_TABLES + ("cuts",)
        )

    def model(self, spark: SparkSession):
        return tuple(
            spark.read.parquet(self._path(t)) for t in self.MODEL_TABLES
        )

    def cuts(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._path("cuts"))

    def read_verdicts(self, spark: SparkSession) -> DataFrame | None:
        df = self.read_partials(spark, self._path("verdicts"))
        return None if df is None else df.drop("batch_id")


def freeze_ccnet(spark: SparkSession, ref_dir: str, store: CcnetCutStore) -> None:
    """Train the order-5 KN model on the reference corpus and persist
    it plus the per-language cut boundaries derived from the
    reference's own ntile ranking (the batch query's exact grid)."""
    from .operators.corpus_analytics import (
        _kn3_tgc,
        _kn4_qgc,
        _kn5_pgc,
        _kn_model,
        ccnet_buckets,
        kn3_tables_from_tgc,
        kn4_tables_from_qgc,
        kn5_tables_from_pgc,
    )

    # the session-cached tables — by construction (the shared
    # *_tables_from_* derivations) the SAME model the cut grid below
    # is ranked under, and each corpus-wide n-gram aggregation runs
    # once, not twice
    pgc = _kn5_pgc(spark, ref_dir)
    pctx, cont4, mid4 = kn5_tables_from_pgc(pgc)
    _, cont3, mid3 = kn4_tables_from_qgc(_kn4_qgc(spark, ref_dir))
    _, cont2, mid = kn3_tables_from_tgc(_kn3_tgc(spark, ref_dir))
    _, _, cont, ttypes = _kn_model(spark, ref_dir)
    tables = (pgc, pctx, cont4, mid4, cont3, mid3, cont2, mid, cont, ttypes)
    for name, df in zip(store.MODEL_TABLES, tables):
        df.write.mode("overwrite").parquet(store._path(name))
    grid = ccnet_buckets(spark, ref_dir)
    cuts = (
        grid.groupBy("lang")
        .agg(
            F.max(F.when(F.col("bucket") == 1, F.col("max_nll_ppm"))).alias("b1"),
            F.max(F.when(F.col("bucket") == 2, F.col("max_nll_ppm"))).alias("b2"),
        )
        .select("lang", "b1", F.coalesce("b2", "b1").alias("b2"))
    )
    cuts.write.mode("overwrite").parquet(store._path("cuts"))


def ccnet_score_batch(batch_docs: DataFrame, model) -> DataFrame:
    """(doc_id, lang, n_ngrams, n_oov_ngrams, avg_nll_ppm) for EVERY
    doc in the batch under the frozen model — the shared scoring core
    applied to the batch's 5-gram stream. n_ngrams counts ALL 5-grams
    (the kn_heldout contract); NULL rows (OOV targets) are counted
    separately and excluded from the average. Docs with no 5-grams at
    all (< 5 tokens) keep a (0, 0, NULL) row via the doc-grain left
    join — the gate's documented contract is that EVERY batch doc
    receives a verdict (bucket 0 when unscorable), never a silent
    absence."""
    base = batch_docs.select(
        "doc_id", "lang", F.expr(_TOKENS_SPARK).alias("toks")
    )
    scored = kn5_score_pgrams(pgrams_of(base), *model)
    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum(F.col("nll_ppm").isNull().cast("int")).cast("bigint")
            .alias("n_oov_ngrams"),
            F.count("nll_ppm").cast("bigint").alias("n_scored"),
            F.sum("nll_ppm").alias("sum_nll_ppm"),
        )
        .select(
            "doc_id", "n_ngrams", "n_oov_ngrams",
            F.expr(
                "CASE WHEN n_scored = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE sum_nll_ppm div n_scored END"
            ).alias("avg_nll_ppm"),
        )
    )
    return base.select("doc_id", "lang").join(per_doc, "doc_id", "left").select(
        "doc_id", "lang",
        F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
        F.coalesce("n_oov_ngrams", F.lit(0)).cast("bigint")
        .alias("n_oov_ngrams"),
        "avg_nll_ppm",
    )


def ccnet_assign(scored: DataFrame, cuts: DataFrame) -> DataFrame:
    """Bucket assignment under a served cut table — the expression the
    stream AND the batch twin share. bucket 0 = unscorable (no cut for
    the language, or no scoreable 5-grams)."""
    return scored.join(F.broadcast(cuts), "lang", "left").select(
        "doc_id", "lang", "n_ngrams", "n_oov_ngrams", "avg_nll_ppm",
        F.expr(
            "CAST(CASE WHEN avg_nll_ppm IS NULL OR b1 IS NULL THEN 0"
            " ELSE 1 + CASE WHEN avg_nll_ppm > b1 THEN 1 ELSE 0 END"
            "       + CASE WHEN avg_nll_ppm > b2 THEN 1 ELSE 0 END"
            " END AS INT)"
        ).alias("bucket"),
    )


def ccnet_gate_ingest_batch(
    spark: SparkSession, batch_docs: DataFrame, store: CcnetCutStore,
    batch_id: int,
) -> None:
    if store.committed(batch_id):
        return
    if not store.frozen():
        raise ValueError("ccnet cut store not frozen — run freeze_ccnet first")
    out = ccnet_assign(
        ccnet_score_batch(batch_docs, store.model(spark)), store.cuts(spark)
    )
    store.write_partial(out.repartition(1), store._path("verdicts"), batch_id)
    store.mark_committed(batch_id)


def start_ccnet_gate_stream(
    spark: SparkSession,
    docs_dir: str,
    store: CcnetCutStore,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Follow a directory of document parquet drops and bucket each
    micro-batch under the frozen reference cuts."""
    return start_foreach_batch_stream(
        spark, docs_dir,
        lambda s, df, bid: ccnet_gate_ingest_batch(s, df, store, bid),
        checkpoint_dir, "ccnet_gate_ingest",
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
