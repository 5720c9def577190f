"""Text-analysis operators over ``documents``: token statistics,
quality scoring, language-ID heuristic, rolling-hash fingerprinting.

All built-in expressions (no Python in the hot path); each op has an
exact DuckDB twin for the oracle gate.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from .dedup import _TOKENS_DUCK, _TOKENS_SPARK

# stopword markers per language for the n-gram language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "bu", "zai"],
}


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical stats: n_tokens (whitespace), distinct
    ratio, mean token length — the standard quality-filter features."""
    d = io.load(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS_SPARK)
    # try_divide: an empty-token document (empty/whitespace text) must
    # yield NULL features like the oracle's x/0 -> NULL, not crash the
    # whole query under ANSI mode (the F1 quarantine-not-poison rule)
    avg_len = F.try_divide(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        F.size(toks),
    )
    uniq_ratio = F.try_divide(F.size(F.array_distinct(toks)), F.size(toks))
    # ppm integers, half-up via floor(x*1e6+0.5): these are exact
    # rationals, where float round() is engine-dependent at .5 boundaries
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.floor(avg_len * 1_000_000 + 0.5).cast("bigint").alias("avg_token_len_ppm"),
        F.floor(uniq_ratio * 1_000_000 + 0.5).cast("bigint").alias("uniq_ratio_ppm"),
    )


TOKEN_STATS_SQL = f"""
WITH t AS (SELECT doc_id, lang, n_chars, {_TOKENS_DUCK} AS toks FROM documents)
SELECT doc_id, lang, n_chars,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq_tokens,
       CAST(floor(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                  / len(toks) * 1000000 + 0.5) AS BIGINT) AS avg_token_len_ppm,
       CAST(floor(len(list_distinct(toks))::DOUBLE / len(toks) * 1000000 + 0.5) AS BIGINT)
         AS uniq_ratio_ppm
FROM t
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: length saturation + lexical
    diversity + token-length plausibility, bucketed high/medium/low —
    the shape of a pretraining quality filter, deterministic."""
    d = io.load(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS_SPARK)
    # try_divide: an empty-token document (empty/whitespace text) must
    # yield NULL features like the oracle's x/0 -> NULL, not crash the
    # whole query under ANSI mode (the F1 quarantine-not-poison rule)
    avg_len = F.try_divide(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        F.size(toks),
    )
    uniq_ratio = F.try_divide(F.size(F.array_distinct(toks)), F.size(toks))
    len_score = F.least(F.col("n_chars") / F.lit(400.0), F.lit(1.0))
    shape_score = F.greatest(F.lit(0.0), F.lit(1.0) - F.abs(avg_len - 5.0) / F.lit(5.0))
    score = 0.3 * len_score + 0.4 * uniq_ratio + 0.3 * shape_score
    quality_ppm = F.floor(score * 1_000_000 + 0.5).cast("bigint")
    return d.select(
        "doc_id",
        "lang",
        quality_ppm.alias("quality_ppm"),
        F.when(quality_ppm >= 750_000, "high")
        .when(quality_ppm >= 500_000, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


QUALITY_SCORE_SQL = f"""
WITH t AS (SELECT doc_id, lang, n_chars, {_TOKENS_DUCK} AS toks FROM documents),
feats AS (
  SELECT doc_id, lang,
         least(n_chars / 400.0, 1.0) AS len_score,
         len(list_distinct(toks))::DOUBLE / len(toks) AS uniq_ratio,
         greatest(0.0, 1.0 - abs(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                                  / len(toks) - 5.0) / 5.0) AS shape_score
  FROM t
), scored AS (
  SELECT doc_id, lang,
         CAST(floor((0.3 * len_score + 0.4 * uniq_ratio + 0.3 * shape_score) * 1000000 + 0.5)
              AS BIGINT) AS quality_ppm
  FROM feats
)
SELECT doc_id, lang, quality_ppm,
       CASE WHEN quality_ppm >= 750000 THEN 'high'
            WHEN quality_ppm >= 500000 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM scored
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic: score each language by
    marker hits in the token set, argmax with deterministic
    tie-breaking, compared against the labeled lang column."""
    d = io.load(spark, sf_dir, "documents")
    toks = F.array_distinct(F.expr(_TOKENS_SPARK))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }
    # argmax by (score desc, lang asc); all-zero → 'unknown'
    guess = F.lit("unknown")
    best = F.lit(0)
    for lang in sorted(LANG_MARKERS, reverse=True):
        sc = scores[lang]
        guess = F.when(sc >= F.greatest(best, F.lit(1)), F.lit(lang)).otherwise(guess)
        best = F.greatest(best, sc)
    out = d.select("doc_id", F.col("lang").alias("labeled_lang"), guess.alias("guessed_lang"))
    return out.withColumn("match", (F.col("labeled_lang") == F.col("guessed_lang")).cast("int"))


def _lang_score_duck(markers: list[str]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_intersect(list_distinct({_TOKENS_DUCK}), [{arr}]))"


def _langid_duck_guess() -> str:
    expr = "'unknown'"
    best = "0"
    for lang in sorted(LANG_MARKERS, reverse=True):
        sc = _lang_score_duck(LANG_MARKERS[lang])
        expr = f"CASE WHEN {sc} >= greatest({best}, 1) THEN '{lang}' ELSE {expr} END"
        best = f"greatest({best}, {sc})"
    return expr


LANGUAGE_ID_SQL = f"""
SELECT doc_id, lang AS labeled_lang,
       {_langid_duck_guess()} AS guessed_lang,
       CAST(lang = ({_langid_duck_guess()}) AS INT) AS match
FROM documents
"""


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the document's characters
    (h = (h*31 + code) mod 2^31-1) — order-sensitive content
    fingerprint, computed as a sequential fold in both engines.

    Contract: defined over BMP text. For astral-plane characters
    Spark's ascii() yields the UTF-16 surrogate while DuckDB's yields
    the codepoint, so the two engines' fingerprints diverge; a
    cross-engine-stable variant would fold over unicode codepoints via
    a pandas UDF (slow path) or encode to bytes first."""
    d = io.load(spark, sf_dir, "documents")
    codes = F.expr("transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))")
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(2147483647).cast("long"),
    )
    return d.select("doc_id", fp.alias("fingerprint"), F.length("text").alias("text_len"))


ROLLING_FINGERPRINT_SQL = """
SELECT doc_id,
       CAST(list_reduce(
         list_prepend(0::BIGINT,
           list_transform(generate_series(1, length(text)),
                          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         (a, x) -> (a * 31 + x) % 2147483647) AS BIGINT) AS fingerprint,
       length(text) AS text_len
FROM documents
"""


# --- corpus-wide n-gram frequency ------------------------------------------

NGRAM_N = 3
NGRAM_TOP_K = 20


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k word trigrams — the standard contamination /
    boilerplate detector over a training corpus. One explode + one
    count shuffle + a global top-k (rank over counts, deterministic
    tie-break on the ngram string).

    Scale: the count groupBy is map-side combined; the top-k is a
    TakeOrderedAndProject (no full sort of the tail). The repartition
    before shingling is the interpreted-HOF parallelism fix documented
    in dedup._with_shingles."""
    from .dedup import _SHINGLES_FROM_TOKS_SPARK, _TOKENS_SPARK as _TS

    p = spark.sparkContext.defaultParallelism
    d = io.load(spark, sf_dir, "documents").repartition(p, "doc_id")
    grams = (
        d.select(F.expr(_TS).alias("toks"))
        .select(F.expr(_SHINGLES_FROM_TOKS_SPARK).alias("sh"))
        .select(F.explode("sh").alias("ngram"))
    )
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.orderBy(F.col("n_docs").desc(), F.col("ngram"))
        .limit(NGRAM_TOP_K)
        .select("ngram", "n_docs")
    )


NGRAM_TOPK_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents),
g AS (
  SELECT unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - {NGRAM_N - 1}),
           i -> array_to_string(list_slice(toks, i, i + {NGRAM_N - 1}), ' ')))) AS ngram
  FROM t
)
SELECT ngram, count(*) AS n_docs FROM g
GROUP BY ngram ORDER BY n_docs DESC, ngram LIMIT {NGRAM_TOP_K}
"""


def distinct_tokens_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counting (HyperLogLog++): corpus-wide
    approximate distinct token count per language — the only sane way
    to count distincts at 100 TB. No SQL oracle (sketch estimates are
    implementation-specific); accuracy is asserted against the exact
    count in tests (rows-only driver check)."""
    d = io.load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.expr(_TOKENS_SPARK)).alias("tok"))
    return toks.groupBy("lang").agg(
        F.approx_count_distinct("tok", 0.02).alias("n_distinct_tokens_approx")
    )


TFIDF_TOP_K = 3


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k terms by TF-IDF. Plan shape at scale: term
    frequencies are one (doc, term) shuffle; document frequencies
    aggregate FROM tf (no second corpus pass); the tf⋈df join shuffles
    on term (vocabulary-keyed — NOT broadcast, vocabularies at corpus
    scale are executor-memory-sized); the corpus row count is the only
    broadcast scalar. Ranking compares the ppm-rounded INTEGER score, so
    cross-engine ordering can't diverge on float ULPs; ties break on
    term."""
    from pyspark.sql import Window

    # r10: read the session-cached tokenized corpus (dedup._doc_toks)
    # — the interpreted tokenize lambda runs once per session across
    # the whole token-consumer family instead of once per query
    from .dedup import _doc_toks

    base = _doc_toks(spark, sf_dir)
    toks = base.select("doc_id", F.explode("toks").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = base.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 1_000_000
                + 0.5
            )
            .cast("bigint")
            .alias("tfidf_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_ppm").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf_ppm", "rk")
    )


TFIDF_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         CAST(floor(tf * ln(n_docs::DOUBLE / df) * 1000000 + 0.5) AS BIGINT)
           AS tfidf_ppm
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_ppm DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf_ppm, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {TFIDF_TOP_K}
"""


def length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length deciles (ntile) summarized to
    decile boundaries — the distribution profile a curation pipeline
    cuts on. ntile partitions by lang, so no global sort: each
    language sorts independently in its own partition (the scalable
    way to use ranking windows — a global ntile would be a
    single-partition sort)."""
    from pyspark.sql import Window

    d = io.load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        d.select("lang", "n_chars", F.ntile(10).over(w).alias("decile"))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


LENGTH_DECILES_SQL = """
WITH t AS (
  SELECT lang, n_chars,
         CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS INT)
           AS decile
  FROM documents
)
SELECT lang, decile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM t GROUP BY lang, decile
"""


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization profile: split text into the GPT-2-ish
    ASCII classes (letter runs / digit runs / single punctuation) and
    count each — the token-budget estimator for a pretraining corpus,
    next to token_stats' whitespace count. Pure regexp_count, so the
    whole row stays inside whole-stage codegen (the [A-Za-z0-9\\s]
    classes mean identical semantics in Java and RE2 regex dialects)."""
    d = io.load(spark, sf_dir, "documents")
    alpha = F.regexp_count("text", F.lit("[A-Za-z]+"))
    digit = F.regexp_count("text", F.lit("[0-9]+"))
    punct = F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]"))
    n_bpe = (alpha + digit + punct).alias("n_bpe_tokens")
    return d.select(
        "doc_id",
        "lang",
        n_bpe,
        alpha.alias("n_alpha_runs"),
        digit.alias("n_digit_runs"),
        punct.alias("n_punct"),
        F.floor(
            F.try_divide(F.col("n_chars"), alpha + digit + punct) * 1_000_000 + 0.5
        ).cast("bigint").alias("chars_per_token_ppm"),
    )


BPE_TOKEN_STATS_SQL = r"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_runs,
         len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
  FROM documents
)
SELECT doc_id, lang,
       n_alpha_runs + n_digit_runs + n_punct AS n_bpe_tokens,
       n_alpha_runs, n_digit_runs, n_punct,
       CAST(floor(n_chars::DOUBLE / (n_alpha_runs + n_digit_runs + n_punct)
                  * 1000000 + 0.5) AS BIGINT) AS chars_per_token_ppm
FROM t
"""


def token_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable sketch rollup: per-language Apache DataSketches
    HLL sketches of the token set, UNIONED into a corpus-total row
    (lang='*') — the pattern that makes distinct-counting rollups
    linear at 100 TB: partial sketches merge associatively, so daily/
    per-shard sketches roll up without re-touching raw data (unlike
    approx_count_distinct's one-shot estimate, the sketch itself is the
    stored artifact). No SQL oracle (sketch internals are
    implementation-specific); accuracy and union-consistency are
    asserted in tests."""
    d = io.load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.expr(_TOKENS_SPARK)).alias("tok"))
    per_lang = toks.groupBy("lang").agg(F.expr("hll_sketch_agg(tok)").alias("sk"))
    lang_rows = per_lang.select(
        "lang", F.expr("hll_sketch_estimate(sk)").alias("n_distinct_est")
    )
    total = per_lang.agg(
        F.lit("*").alias("lang"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_distinct_est"),
    )
    return lang_rows.unionByName(total).orderBy("lang")


# --- count-min sketch heavy hitters ------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 512  # counters per row
CMS_TOP_K = 10


def _cms_bucket(tok: "F.Column", depth: int) -> "F.Column":
    """Counter index for hash row ``depth``: first 32 md5 bits of
    "depth:token" mod CMS_W — deterministic, engine-portable (the same
    md5-slice idiom as minhash/sampling)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{depth}:"), tok)), 1, 8), 16, 10
        ).cast("bigint")
        % CMS_W
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: corpus token frequencies via a
    CMS (CMS_D hash rows × CMS_W counters), top-k tokens ranked by the
    SKETCH estimate, with the exact count alongside (est_n ≥ true_n is
    the CMS overcount guarantee — pinned in tests and visible in the
    output).

    This completes the sketch family (HLL → distincts, t-digest →
    quantiles, CMS → frequencies) and unlike those two it is fully
    DETERMINISTIC — md5-derived counter indexes, integer counts — so it
    carries an exact DuckDB oracle, not a rows-only check.

    Scale shape: the sketch build is ONE aggregation of (depth, bucket)
    pairs — CMS_D rows per token occurrence, map-side combined into at
    most CMS_D × CMS_W cells per partition; the sketch is
    RE-AGGREGATABLE (cells add), so per-shard/per-day sketches union by
    summing cells without touching raw data. At 100 TB the candidate
    probe runs over a candidate stream (new tokens, a watchlist), never
    the full vocabulary — the full-vocabulary probe here exists to
    exhibit est-vs-true on every token."""
    from pyspark.sql import Window

    from .dedup import _doc_toks

    toks = _doc_toks(spark, sf_dir).select(F.explode("toks").alias("tok"))
    buckets = lambda col: F.array(*[_cms_bucket(col, i) for i in range(CMS_D)])
    # r10 restructure: a CMS cell's count is Σ true_n over the tokens
    # hashing into it, so the sketch builds from the VOCABULARY-grain
    # exact-count table — CMS_D md5s per distinct token instead of per
    # token OCCURRENCE (the Zipf ratio), and the corpus is tokenized
    # once instead of twice. Cell values — and the oracle hash — are
    # identical; the occurrence-grain build stays the right shape only
    # when counts can't be pre-aggregated (it never is here: CMS cells
    # ARE additive counters). probe is lazily checkpointed: cms and
    # the est join both read it, one materialization per action.
    cand = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    probe = cand.select(
        "tok", "true_n", F.posexplode(buckets(F.col("tok"))).alias("depth", "bucket")
    ).localCheckpoint(eager=False)
    cms = (
        probe.groupBy("depth", "bucket")
        .agg(F.sum("true_n").alias("c"))
    )
    est = (
        probe.join(cms, ["depth", "bucket"])
        .groupBy("tok", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    # partial top-k, no global sort); the ranking window then runs over
    # only the surviving CMS_TOP_K rows
    top = est.orderBy(F.col("est_n").desc(), F.col("tok")).limit(CMS_TOP_K)
    w = Window.orderBy(F.col("est_n").desc(), F.col("tok"))
    return top.select(
        "tok",
        F.row_number().over(w).cast("int").alias("rk"),
        "est_n",
        "true_n",
    )


_CMS_BUCKET_DUCK = (
    "(('0x' || substr(md5(CAST(d.range AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % "
    + str(CMS_W)
    + ")"
)

CMS_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents
), pairs AS (
  SELECT CAST(d.range AS INT) AS depth, {_CMS_BUCKET_DUCK} AS bucket
  FROM toks CROSS JOIN range({CMS_D}) d
), cms AS (
  SELECT depth, bucket, count(*) AS c FROM pairs GROUP BY depth, bucket
), cand AS (
  SELECT tok, count(*) AS true_n FROM toks GROUP BY tok
), probe AS (
  SELECT tok, true_n, CAST(d.range AS INT) AS depth, {_CMS_BUCKET_DUCK} AS bucket
  FROM cand CROSS JOIN range({CMS_D}) d
), est AS (
  SELECT tok, true_n, CAST(min(c) AS BIGINT) AS est_n
  FROM probe JOIN cms USING (depth, bucket)
  GROUP BY tok, true_n
)
SELECT tok, CAST(rk AS INT) AS rk, est_n, true_n FROM (
  SELECT *, row_number() OVER (ORDER BY est_n DESC, tok) AS rk FROM est
) WHERE rk <= {CMS_TOP_K}
"""


# --- BPE merge training ------------------------------------------------------

BPE_TRAIN_ITERS = 3  # unrolled in the oracle SQL; keep the two in sync


def _bpe_pair_counts(syms: DataFrame, weight) -> DataFrame:
    """Weighted adjacent-pair counts of a symbol-sequence table —
    the recount primitive (also used with a NEGATIVE weight to emit
    retraction deltas in the incremental trainer)."""
    return (
        syms.select(weight.alias("w"), F.split("s", " ").alias("a"))
        .select(
            "w",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(a, 1, size(a) - 1)"),
                    F.expr("slice(a, 2, size(a) - 1)"),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.0").alias("l"), F.col("p.1").alias("r"))
        .agg(F.sum("w").alias("cnt"))
    )


def _bpe_train(
    spark: SparkSession,
    syms: DataFrame,
    n_iters: int,
    keys: tuple[str, ...],
    stats: list | None = None,
):
    """BPE merge loop with INCREMENTAL pair-count maintenance: the full
    adjacent-pair count runs ONCE (init); each merge then updates the
    count table by exact delta from only the AFFECTED words (those
    containing the fused pair) — retract their old pairs, assert their
    rewritten pairs. counts ≡ init + Σ deltas ≡ a full recount at every
    step (unaffected words contribute identically to both sides), so
    the argmax sequence — and therefore every merge and the final
    vocab — is bit-identical to the naive recount formulation, which
    remains the DuckDB oracle path. At the documented 30k-merge target
    this is the difference between 30k full vocab-table pair shuffles
    and 30k affected-word-volume deltas (Sennrich et al. 2016 §3;
    the classic incremental trainer bookkeeping, set-oriented).

    The winning pair is one collected row (bounded: 1 row/merge), so
    the apply/filter embed it as LITERALS — pure codegen string ops,
    no broadcast join of any kind in the loop. Checkpoints per merge
    are vocab-sized (counts table + symbol table), cutting lineage
    exactly as before.

    Returns (final syms, merges rows [(step, l, r, cnt), ...])."""
    # counts is LAZY-checkpointed: the step's top-1 collect is the
    # first (and only) action that reads it, so the delta maintenance
    # fuses into that job instead of running as its own eager
    # materialization — one job per merge instead of three (r10; syms
    # stays eager because n_parts below needs its partitioning and
    # every step's hit-filter re-reads it).
    counts = _bpe_pair_counts(syms, F.col("freq")).localCheckpoint(eager=False)
    # syms STAYS eager (r11 A/B): the lazy form measured slower both
    # warm (+0.05 s best-of-2, 4/5 interleaved pairings) and cold
    # (run-1 11.1/10.5 -> 14.9/12.9 s) — fusing the syms
    # materialization into step 1's top-1 collect serializes work the
    # dedicated parallel checkpoint job overlaps
    syms = syms.localCheckpoint(eager=True)
    # the per-merge union (untouched ∪ rewritten) would otherwise DOUBLE
    # the partition count every merge (rewritten is a narrow child of
    # syms, union adds both sides' partitions: 32 → 32k tasks by merge
    # 15 — found by the 100-merge rehearsal); coalesce back to the
    # input's partitioning before every checkpoint
    import time as _time

    n_parts = syms.rdd.getNumPartitions()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_iters + 1):
        _t0 = _time.time()
        best = (
            counts.orderBy(
                F.col("cnt").desc(), F.col("l").desc(), F.col("r").desc()
            )
            .limit(1)
            .collect()
        )
        if not best or best[0].cnt <= 0:
            # no pairs left (all-single-symbol vocab): remaining steps
            # are no-ops, same graceful degradation as the sentinel row
            # in the oracle's unrolled formulation
            break
        l, r, cnt = best[0].l, best[0].r, best[0].cnt
        merges.append((step, l, r, cnt))
        pat, fused = f" {l} {r} ", f" {l}{r} "
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        hit = F.instr(padded, pat) > 0
        rewritten = syms.filter(hit).select(
            *keys, F.trim(F.replace(padded, F.lit(pat), F.lit(fused))).alias("s")
        )
        delta = (
            _bpe_pair_counts(rewritten, F.col("freq"))
            .unionByName(_bpe_pair_counts(syms.filter(hit), -F.col("freq")))
            .groupBy("l", "r")
            .agg(F.sum("cnt").alias("d"))
        )
        counts = (
            counts.join(delta, ["l", "r"], "full_outer")
            .select(
                "l",
                "r",
                (
                    F.coalesce(F.col("cnt"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0))
                ).alias("cnt"),
            )
            .filter(F.col("cnt") > 0)
            # lazy: materializes inside the NEXT step's top-1 collect
            # (lineage still truncates at the checkpoint); the eager
            # form cost one extra full job per merge
            .localCheckpoint(eager=False)
        )
        syms = (
            syms.filter(~hit)
            .unionByName(rewritten)
            .coalesce(n_parts)
            .localCheckpoint(eager=False)
        )
        if stats is not None:
            # (step, fused-pair occurrence mass, wall seconds) — lets a
            # rehearsal correlate per-merge cost with affected volume
            stats.append((step, cnt, _time.time() - _t0))
    return syms, merges


def _bpe_words(spark: SparkSession, sf_dir: str, with_tok: bool) -> DataFrame:
    from .dedup import _doc_toks

    words = (
        _doc_toks(spark, sf_dir)
        .select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    keys = ("tok", "freq") if with_tok else ("freq",)
    return words.select(
        *keys, F.expr("trim(regexp_replace(tok, '(.)', '$1 '))").alias("s")
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first BPE_TRAIN_ITERS byte-pair-encoding merges on the
    corpus (Sennrich et al. 2016) — the distributed tokenizer-training
    step of an LLM data pipeline. Classic formulation: training runs on
    the WORD-FREQUENCY table (Zipf-bounded — a vocabulary, not the
    corpus), each word held as a space-delimited symbol sequence; per
    iteration, count adjacent symbol pairs weighted by word frequency,
    pick the most frequent pair (ties to the lexicographically largest,
    so argmax is a plain struct max), and fuse it everywhere.

    Merge application is one left-to-right replace() pass over the
    padded sequence (' l r ' -> ' lr ') — the standard replace-trick:
    a run like 'a a a a' fuses its FIRST pair per pass because the
    match consumes the separator; both engines' replace() scans
    resume after the insertion, so the pass is deterministic and
    engine-identical (the documented contract; canonical run
    collapsing converges over subsequent iterations).

    Scale design: the full pair count runs ONCE; each merge then
    maintains the count table incrementally — retract/assert deltas
    from only the words containing the fused pair (`_bpe_train`), one
    global top-1 per merge (TakeOrdered over the persisted count
    table), winning pair embedded as literals. The corpus is touched
    once, for word counts. 30k merges at 100 TB are 30k
    affected-word-volume delta stages — a driver loop, never a driver
    dataset, and never a full vocab recount per merge."""
    # r10: read the shared session training (``_bpe_trained``) instead
    # of re-running the loop with the tok column projected away — the
    # trajectory is a deterministic function of the (s, freq) multiset,
    # identical either way (oracle re-verified), and the family now
    # trains once per session instead of twice.
    _final, merges = _bpe_trained(spark, sf_dir)
    return spark.createDataFrame(
        [(s, l, r, l + r, c) for s, l, r, c in merges],
        "step int, lhs string, rhs string, merged string, pair_count bigint",
    )


def _bpe_trained(spark: SparkSession, sf_dir: str):
    """Session-cached tok-keyed BPE training: (final syms, merges) —
    THREE registered consumers (train-merge gate, encode stats,
    fertility grid), so the merge loop runs once per (session,
    sf_dir): the ``_wp_trained`` / ``_uni_state`` materialize-once
    framing. (Round-8 gave the encode/fertility pair a shared cache;
    r10 folds the TRAIN query in too — its merge trajectory is a
    deterministic function of the (s, freq) multiset, which the
    passthrough tok column does not change, so one training serves
    all three.)"""
    from .dedup import _CORPUS_CACHE

    io.ensure_session_conf(spark)
    per_session = _CORPUS_CACHE.setdefault(spark, {})
    key = (sf_dir, "bpe_trained")
    st = per_session.get(key)
    if st is None:
        st = _bpe_train(
            spark, _bpe_words(spark, sf_dir, with_tok=True), BPE_TRAIN_ITERS,
            keys=("tok", "freq"),
        )
        per_session[key] = st
    return st


def _bpe_tok_syms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_trained(spark, sf_dir)[0]


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE merges (the encode path to
    `bpe_train_merges`' train path): run the same BPE_TRAIN_ITERS
    merge passes over the word table, producing each word's symbol
    count, then roll up per document — whitespace token count vs BPE
    symbol count and the resulting compression in ppm. This is the
    tokenizer's deployment shape: training touches the corpus once
    for word counts; ENCODING is a vocab-table lookup joined back to
    the token stream, never a per-document scan of the merge list.

    Scale design: the merge loop runs on the vocab (Zipf-bounded);
    the corpus-sized work is one token explode + one join against the
    (word → n_symbols) table — AQE broadcasts it — and one per-doc
    aggregate. Compression is an exact-integer ppm ratio."""
    from .dedup import _doc_toks

    syms = _bpe_tok_syms(spark, sf_dir)
    enc = syms.select("tok", F.size(F.split("s", " ")).alias("n_syms"))
    per_doc = (
        _doc_toks(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("tok"))
        .join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_syms").alias("n_bpe_symbols"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_bpe_symbols",
        F.expr("CAST(n_tokens * 1000000 div n_bpe_symbols AS BIGINT)").alias(
            "compression_ppm"
        ),
    )


def _bpe_pairs_duck(src: str) -> str:
    return f"""(
  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq,
           unnest(list_slice(a, 1, len(a) - 1)) AS l,
           unnest(list_slice(a, 2, len(a))) AS r
    FROM (SELECT freq, string_split(s, ' ') AS a FROM {src})
  ) GROUP BY l, r
  UNION ALL SELECT '', '', CAST(-1 AS BIGINT))"""


def _bpe_best_duck(pairs: str) -> str:
    return f"(SELECT l, r, cnt FROM {pairs} ORDER BY cnt DESC, l DESC, r DESC LIMIT 1)"


def _bpe_apply_duck(src: str, best: str, keys: str) -> str:
    return f"""(
  SELECT {keys},
         trim(replace(' ' || s || ' ',
                      ' ' || b.l || ' ' || b.r || ' ',
                      ' ' || b.l || b.r || ' ')) AS s
  FROM {src} CROSS JOIN {best} b)"""


def _bpe_chain_duck(keys: str) -> str:
    out = []
    for k in range(1, BPE_TRAIN_ITERS + 1):
        out.append(f"p{k} AS {_bpe_pairs_duck(f's{k-1}')}")
        out.append(f"b{k} AS {_bpe_best_duck(f'p{k}')}")
        out.append(f"s{k} AS {_bpe_apply_duck(f's{k-1}', f'b{k}', keys)}")
    return ",\n".join(out)


BPE_TRAIN_MERGES_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents
), words AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), s0 AS (
  SELECT freq, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS s FROM words
),
{_bpe_chain_duck('freq')}
SELECT * FROM (
{" UNION ALL ".join(
    f"SELECT {k} AS step, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM b{k}"
    for k in range(1, BPE_TRAIN_ITERS + 1))}
) WHERE pair_count > 0
"""

BPE_ENCODE_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents
), words AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), s0 AS (
  SELECT tok, freq, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS s FROM words
),
{_bpe_chain_duck('tok, freq')},
enc AS (
  SELECT tok, CAST(len(string_split(s, ' ')) AS INT) AS n_syms
  FROM s{BPE_TRAIN_ITERS}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_syms) AS BIGINT) AS n_bpe_symbols,
       CAST(count(*) * 1000000 // sum(n_syms) AS BIGINT) AS compression_ppm
FROM toks JOIN enc USING (tok)
GROUP BY doc_id
"""


# --- WordPiece merge training -------------------------------------------------

WORDPIECE_TRAIN_ITERS = 3  # unrolled in the oracle SQL; keep the two in sync


def _unary_counts(syms: DataFrame, weight) -> DataFrame:
    """Weighted per-symbol occurrence counts of a symbol-sequence table
    — the unary companion to ``_bpe_pair_counts`` (negative weight emits
    retraction deltas for the incremental trainer)."""
    return (
        syms.select(weight.alias("w"), F.explode(F.split("s", " ")).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("w").alias("ucnt"))
    )


# score = floor((cnt * 1e12) / (ucnt_l * ucnt_r)) — the WordPiece
# likelihood gain cnt(ab)/(cnt(a)·cnt(b)) in parts-per-trillion. The
# cross-engine contract is IDENTICAL-IEEE-OPS, not exactness: both
# engines evaluate the same double multiply, divide, and floor
# (each correctly rounded), so the bigint is bit-identical even where
# cnt·1e12 exceeds the 2^53 exact-integer range; ties break on the
# lexicographically largest pair, same as BPE.
_WP_SCORE = (
    "CAST(floor((CAST({cnt} AS DOUBLE) * 1e12)"
    " / (CAST({ul} AS DOUBLE) * CAST({ur} AS DOUBLE))) AS BIGINT)"
)


def _wordpiece_train(
    spark: SparkSession,
    syms: DataFrame,
    n_iters: int,
    keys: tuple[str, ...],
    stats: list | None = None,
):
    """WordPiece merge loop (Schuster & Nakajima, ICASSP 2012; the
    BERT tokenizer's trainer, Devlin et al. 2019): identical mechanics
    to ``_bpe_train`` — incremental pair-count maintenance, one
    bounded top-1 per merge, literal-embedded apply — but the argmax
    maximizes the LIKELIHOOD GAIN cnt(ab)/(cnt(a)·cnt(b)) instead of
    raw pair frequency, so rare-but-strongly-associated pairs merge
    before frequent-but-independent ones.

    The unary symbol counts the score needs are maintained by the same
    retract/assert delta discipline as the pair table (affected words
    only); both tables are vocab-grain, so per-merge cost is bounded by
    affected-word volume exactly like BPE — the trainer never rescans
    the corpus after the initial word count.

    Returns (final syms, merges rows [(step, l, r, cnt, score), ...]).
    """
    # counts/unary LAZY-checkpointed — both materialize inside each
    # step's top-1 collect (the only action), collapsing the eager
    # three-jobs-per-merge shape to one job per merge (r10); syms
    # stays eager for n_parts + the per-step hit-filter re-reads.
    counts = _bpe_pair_counts(syms, F.col("freq")).localCheckpoint(eager=False)
    unary = _unary_counts(syms, F.col("freq")).localCheckpoint(eager=False)
    syms = syms.localCheckpoint(eager=True)  # stays eager: r11 A/B (see _bpe_train)
    import time as _time

    n_parts = syms.rdd.getNumPartitions()
    merges: list[tuple[int, str, str, int, int]] = []
    for step in range(1, n_iters + 1):
        _t0 = _time.time()
        # the unary side is symbol-vocab-grain (alphabet + one entry per
        # completed merge) — orders smaller than the pair table and a
        # broadcast at any corpus size; without the hint the
        # checkpointed frame has no size stats and falls into two
        # sort-merge shuffles per step (measured 7.0 s -> 4.2 s
        # best-of-2 at sf0.1 for the 3-merge query)
        ul = F.broadcast(
            unary.select(F.col("sym").alias("l"), F.col("ucnt").alias("ul"))
        )
        ur = F.broadcast(
            unary.select(F.col("sym").alias("r"), F.col("ucnt").alias("ur"))
        )
        best = (
            counts.filter(F.col("cnt") > 0)
            .join(ul, "l")
            .join(ur, "r")
            .select(
                "l", "r", "cnt",
                F.expr(
                    _WP_SCORE.format(cnt="cnt", ul="ul", ur="ur")
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("l").desc(), F.col("r").desc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt, score = best[0].l, best[0].r, best[0].cnt, best[0].score
        merges.append((step, l, r, cnt, score))
        pat, fused = f" {l} {r} ", f" {l}{r} "
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        hit = F.instr(padded, pat) > 0
        rewritten = syms.filter(hit).select(
            *keys, F.trim(F.replace(padded, F.lit(pat), F.lit(fused))).alias("s")
        )
        pair_delta = (
            _bpe_pair_counts(rewritten, F.col("freq"))
            .unionByName(_bpe_pair_counts(syms.filter(hit), -F.col("freq")))
            .groupBy("l", "r")
            .agg(F.sum("cnt").alias("d"))
        )
        counts = (
            counts.join(pair_delta, ["l", "r"], "full_outer")
            .select(
                "l", "r",
                (
                    F.coalesce(F.col("cnt"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0))
                ).alias("cnt"),
            )
            .filter(F.col("cnt") > 0)
            # lazy: materializes inside the next step's top-1 collect
            .localCheckpoint(eager=False)
        )
        unary_delta = (
            _unary_counts(rewritten, F.col("freq"))
            .unionByName(_unary_counts(syms.filter(hit), -F.col("freq")))
            .groupBy("sym")
            .agg(F.sum("ucnt").alias("d"))
        )
        unary = (
            unary.join(unary_delta, "sym", "full_outer")
            .select(
                "sym",
                (
                    F.coalesce(F.col("ucnt"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0))
                ).alias("ucnt"),
            )
            .filter(F.col("ucnt") > 0)
            .localCheckpoint(eager=False)
        )
        syms = (
            syms.filter(~hit)
            .unionByName(rewritten)
            .coalesce(n_parts)
            .localCheckpoint(eager=False)
        )
        if stats is not None:
            # (step, fused-pair occurrence mass, wall seconds) — the
            # rehearsal correlates per-merge cost with affected volume
            stats.append((step, cnt, _time.time() - _t0))
    return syms, merges


def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first WORDPIECE_TRAIN_ITERS WordPiece merges on the
    corpus — the third tokenizer-trainer family next to BPE
    (frequency-greedy) and unigram-LM (EM pruning): WordPiece is
    likelihood-greedy, fusing the pair that most increases corpus
    likelihood under a unigram factorization, score
    cnt(ab)/(cnt(a)·cnt(b)).

    Same scale shape as ``bpe_train_merges``: the corpus is touched
    once for word frequencies; every merge is affected-word-volume
    delta maintenance on vocab-grain tables plus one bounded top-1."""
    # r10: read the shared session training (``_wp_trained``) — one
    # training serves the train/encode/fertility family; trajectory
    # identical with or without the tok passthrough column.
    _final, merges = _wp_trained(spark, sf_dir)
    return spark.createDataFrame(
        [(s, l, r, l + r, c, sc) for s, l, r, c, sc in merges],
        "step int, lhs string, rhs string, merged string,"
        " pair_count bigint, score_ppt bigint",
    )


def _wp_best_duck(pairs: str, unary: str) -> str:
    score = _WP_SCORE.format(cnt="p.cnt", ul="ua.ucnt", ur="ub.ucnt")
    return f"""(
  SELECT l, r, cnt, score FROM (
    SELECT p.l, p.r, p.cnt, {score} AS score
    FROM {pairs} p JOIN {unary} ua ON ua.sym = p.l
                   JOIN {unary} ub ON ub.sym = p.r
    WHERE p.cnt > 0
    UNION ALL SELECT '', '', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
  ) ORDER BY score DESC, l DESC, r DESC LIMIT 1)"""


def _wp_unary_duck(src: str) -> str:
    return f"""(
  SELECT sym, CAST(sum(freq) AS BIGINT) AS ucnt FROM (
    SELECT freq, unnest(string_split(s, ' ')) AS sym FROM {src}
  ) GROUP BY sym)"""


def _wp_chain_duck(keys: str) -> str:
    out = []
    for k in range(1, WORDPIECE_TRAIN_ITERS + 1):
        out.append(f"u{k} AS {_wp_unary_duck(f's{k-1}')}")
        out.append(f"p{k} AS {_bpe_pairs_duck(f's{k-1}')}")
        out.append(f"b{k} AS {_wp_best_duck(f'p{k}', f'u{k}')}")
        out.append(f"s{k} AS {_bpe_apply_duck(f's{k-1}', f'b{k}', keys)}")
    return ",\n".join(out)


def _wordpiece_train_merges_sql() -> str:
    return f"""
WITH toks AS (
  SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents
), words AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), s0 AS (
  SELECT freq, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS s FROM words
),
{_wp_chain_duck('freq')}
SELECT * FROM (
{" UNION ALL ".join(
    f"SELECT {k} AS step, l AS lhs, r AS rhs, l || r AS merged,"
    f" cnt AS pair_count, score AS score_ppt FROM b{k}"
    for k in range(1, WORDPIECE_TRAIN_ITERS + 1))}
) WHERE pair_count > 0
"""


WORDPIECE_TRAIN_MERGES_SQL = _wordpiece_train_merges_sql()


def _wp_trained(spark: SparkSession, sf_dir: str):
    """Session-cached tok-keyed WordPiece training: (final syms,
    merges) — THREE registered consumers (train-merge gate, encode
    stats, fertility grid), so the merge loop runs once per (session,
    sf_dir), the ``_uni_state`` materialize-once framing. r10 folds
    the TRAIN query in (the ``_bpe_trained`` rationale: the merge
    trajectory is a deterministic function of the (s, freq) multiset,
    which the passthrough tok column does not change)."""
    from .dedup import _CORPUS_CACHE

    io.ensure_session_conf(spark)
    per_session = _CORPUS_CACHE.setdefault(spark, {})
    key = (sf_dir, "wp_trained")
    st = per_session.get(key)
    if st is None:
        st = _wordpiece_train(
            spark, _bpe_words(spark, sf_dir, with_tok=True),
            WORDPIECE_TRAIN_ITERS, keys=("tok", "freq"),
        )
        per_session[key] = st
    return st


def _wp_tok_syms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wp_trained(spark, sf_dir)[0]


def wordpiece_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained WordPiece merges (the encode path to
    ``wordpiece_train_merges``, mirroring ``bpe_encode_stats``): run
    the same WORDPIECE_TRAIN_ITERS likelihood-greedy merge passes over
    the word table, then roll up per document — whitespace token count
    vs WordPiece symbol count and the compression in ppm. Same scale
    shape as the BPE encode: the merge loop is vocab-grain, the
    corpus-sized work is one token explode + one AQE-broadcast join
    against the (word -> n_symbols) table + one per-doc aggregate."""
    from .dedup import _doc_toks

    syms = _wp_tok_syms(spark, sf_dir)
    enc = syms.select("tok", F.size(F.split("s", " ")).alias("n_syms"))
    per_doc = (
        _doc_toks(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("tok"))
        .join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_syms").alias("n_wp_symbols"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_wp_symbols",
        F.expr("CAST(n_tokens * 1000000 div n_wp_symbols AS BIGINT)").alias(
            "compression_ppm"
        ),
    )


WORDPIECE_ENCODE_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents
), words AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), s0 AS (
  SELECT tok, freq, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS s FROM words
),
{_wp_chain_duck('tok, freq')},
enc AS (
  SELECT tok, CAST(len(string_split(s, ' ')) AS INT) AS n_syms
  FROM s{WORDPIECE_TRAIN_ITERS}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_syms) AS BIGINT) AS n_wp_symbols,
       CAST(count(*) * 1000000 // sum(n_syms) AS BIGINT) AS compression_ppm
FROM toks JOIN enc USING (tok)
GROUP BY doc_id
"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the language-ID heuristic against the
    labeled lang column — the model-eval-as-registered-query pattern
    (cf. embed_ann_recall): per (labeled, guessed) cell, the count and
    its exact-ppm share of the labeled language's documents, so
    precision/recall per language read straight off the table and the
    driver hash-verifies the whole evaluation. Two map-side-combined
    aggregates over the per-doc guesses; the totals table is
    |languages|-sized and broadcast back."""
    per_doc = language_id(spark, sf_dir)
    cells = per_doc.groupBy("labeled_lang", "guessed_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = per_doc.groupBy("labeled_lang").agg(
        F.count(F.lit(1)).alias("n_labeled")
    )
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang",
        "guessed_lang",
        "n_docs",
        "n_labeled",
        F.expr("CAST(n_docs * 1000000 div n_labeled AS BIGINT)").alias("share_ppm"),
    )


LANGID_CONFUSION_SQL = f"""
WITH per_doc AS ({LANGUAGE_ID_SQL}),
cells AS (
  SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY 1, 2
), totals AS (
  SELECT labeled_lang, CAST(count(*) AS BIGINT) AS n_labeled
  FROM per_doc GROUP BY 1
)
SELECT labeled_lang, guessed_lang, n_docs, n_labeled,
       CAST(n_docs * 1000000 // n_labeled AS BIGINT) AS share_ppm
FROM cells JOIN totals USING (labeled_lang)
"""


# --- BM25 retrieval ----------------------------------------------------------

BM25_N_QUERIES = 20  # doc_id < N act as queries; the rest are the corpus
BM25_TOP_K = 5
BM25_K1 = 1.2
BM25_B = 0.75
# literals shared verbatim with the oracle SQL: both engines must parse
# the SAME decimal string (computing k1+1 on one side and writing "2.2"
# on the other risks a ties-to-even ULP split)
_BM25_K1P1 = BM25_K1 + 1.0  # 2.2, round-trips exactly
_BM25_1MB = 1.0 - BM25_B    # 0.25, exact


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document retrieval: the first N documents act as queries
    against the rest of the corpus; per query, the top-k docs by
    Okapi BM25 (Lucene idf variant: ln((N-df+0.5)/(df+0.5)+1), so
    weights are never negative). The text-side counterpart of the
    embedding ANN family — same query/corpus split, same two-phase
    exact top-k.

    Plan shape at scale: term frequencies and doc lengths are ONE
    (doc, term) shuffle each; document frequencies aggregate FROM the
    tf table (no second corpus pass); the query-term table is bounded
    (N_QUERIES × query length) and BROADCAST onto the corpus postings
    — the classic inverted-index probe, candidate mass = the posting
    lists of the query's terms, never corpus × queries. The corpus
    stats (n_docs, avgdl) are a 1-row broadcast. Top-k is two-phase
    (local per-partition window, then global over ≤ k×partitions
    survivors per query) so no single reducer sorts a posting list's
    worth of candidates.

    Determinism: each per-term contribution is ONE fixed-shape double
    expression over exact integer counts (identical IEEE op order both
    engines), quantized to ppm BEFORE the per-(query,doc) sum — the
    cross-row aggregation is integer, so partial-sum order can't move
    the result. Ranking compares the integer; ties break on doc_id.

    Scored-mass control (the 2M-doc rehearsal's 1.35×/decade drift):
    dl is CARRIED through the tf aggregate (dl = size of the token
    array — one extra constant column through the shuffle that builds
    ctf anyway), and corpus stats come from the DOC grain (one narrow
    aggregate over the documents scan). Neither needs the per-doc dl
    table as a join side any more — previously, once dl outgrew the
    broadcast threshold (~300k docs), Catalyst sort-merge-shuffled the
    ENTIRE (doc, term) tf table on doc_id BEFORE the bounded
    query-term filter could cut it down; now the only full-width
    shuffles are ctf's own groupBy and the post-probe (query, doc)
    aggregate over the query terms' posting lists."""
    return bm25_rankings(spark, sf_dir, BM25_N_QUERIES, BM25_TOP_K)


def bm25_rankings(
    spark: SparkSession, sf_dir: str, n_queries: int, top_k: int,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """The parameterized batch BM25 core (`bm25_topk`'s plan, any
    query-count/depth) — shared with the hybrid fusion's lexical leg
    (operators/retrieval.py), so both ride the dl-carry shape instead
    of a per-doc lengths join."""
    # r10: the tokenized corpus comes from the session-cached
    # dedup._doc_toks base (identical expression, tokenize runs once
    # per session); three plan positions below (corpus postings,
    # corpus stats, query terms) read materialized arrays
    from .dedup import _doc_toks

    base = _doc_toks(spark, sf_dir)
    toks = base.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    corpus = toks.filter(F.col("doc_id") >= n_queries)
    ctf = corpus.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # corpus stats from the doc grain — one row per doc already, no
    # countDistinct and no join-back; docs whose text tokenizes empty
    # contribute no ctf rows, so they are excluded here too
    stats = (
        base.filter(F.col("doc_id") >= n_queries)
        .select(F.size("toks").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    dfreq = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        toks.filter(F.col("doc_id") < n_queries)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    return bm25_score_topk(ctf, None, stats, dfreq, qterms, top_k=top_k,
                           max_df_ratio=max_df_ratio)


def bm25_from_tf(
    ctf: DataFrame, qterms: DataFrame, top_k: int = BM25_TOP_K
) -> DataFrame:
    """The BM25 scoring/top-k pipeline from a (doc_id, term, tf) table
    and a (query_id, term) query-term table — shared by the streaming
    inverted-index dual (streaming_bm25.py) and the hybrid lexical leg,
    so stream≡batch equivalence is equality of the resolved tf tables,
    not of two scoring implementations. Doc lengths, document
    frequencies and corpus stats all derive FROM the tf table (dl =
    Σtf per doc — no second corpus pass). The batch ``bm25_topk``
    carries dl through its own tf aggregate instead and skips the dl
    join entirely."""
    dl = ctf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return bm25_score_topk(ctf, dl, stats, dfreq, qterms, top_k=top_k)


def bm25_score_topk(
    ctf: DataFrame,
    dl: DataFrame | None,
    stats: DataFrame,
    dfreq: DataFrame,
    qterms: DataFrame,
    top_k: int = BM25_TOP_K,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Scoring + two-phase top-k from pre-resolved inputs. Split out of
    ``bm25_from_tf`` so a partition-pruned serving path (the streaming
    index's ``search``) can pass postings restricted to the QUERY's
    term buckets while dl/stats come from the full-corpus lengths
    table — the pruning changes which rows are scanned, never a score.
    Pass ``dl=None`` when ctf already carries a dl column (the batch
    path threads it through the tf aggregate).

    Join order is scored-mass-aware: the BOUNDED broadcasts apply
    first — qterms (queries × query length) prunes ctf to the query
    terms' posting lists in the scan stage, and dfreq is semi-join-
    restricted to the query terms BEFORE it is broadcast (the full
    vocabulary's dfreq is corpus-scale; the query slice is bounded).
    Only then does the per-doc dl join run, over the already-pruned
    posting mass — previously dl joined the FULL tf table, and past
    the broadcast threshold that was a corpus-wide sort-merge shuffle
    (the measured super-linear decade at 2M docs)."""
    qdf = dfreq.join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
    )
    if max_df_ratio is not None:
        # OPT-IN idf-floor prune (changes scores — never on the
        # hash-verified default path): drop query terms whose posting
        # lists cover more than max_df_ratio of the corpus. Measured
        # NEGATIVE on the Zipf rehearsal and kept only as the measured
        # artifact (SCALING.md, "BM25 idf-floor pruning on a Zipf corpus"):
        # the candidate-mass cut is real (19-229x) but wall time is
        # probe-bound elsewhere and top-k recall collapses on
        # document-length queries. n_docs comes from a bounded 1-row
        # collect — folding stats into the broadcast build re-ran the
        # full corpus aggregate inside it (measured).
        n_docs_row = stats.select("n_docs").collect()[0][0]
        qdf = qdf.filter(
            F.col("df").cast("double")
            <= F.lit(float(max_df_ratio) * float(n_docs_row or 0))
        )
    qdf = F.broadcast(qdf)
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    wtf = (F.col("tf") * F.lit(_BM25_K1P1)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(_BM25_1MB) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl")))
    )
    probed = ctf.join(qdf, "term")  # broadcast prune + df attach, one pass
    if dl is not None:
        probed = probed.join(dl, "doc_id")  # over the pruned mass only
    probed = probed.join(F.broadcast(qterms), "term")  # per-query fan-out last
    contrib = (
        probed.crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(idf * wtf * 1_000_000 + 0.5).cast("bigint").alias("c_upm"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c_upm").cast("bigint").alias("bm25_ppm")
    )
    from pyspark.sql import Window

    order = (F.col("bm25_ppm").desc(), F.asc("doc_id"))
    local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= top_k)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "bm25_ppm", "rank")
    )


BM25_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents
), ctf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE doc_id >= {BM25_N_QUERIES} GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks
  WHERE doc_id >= {BM25_N_QUERIES} GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfreq AS (
  SELECT term, count(*) AS df FROM ctf GROUP BY 1
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM toks
  WHERE doc_id < {BM25_N_QUERIES}
), contrib AS (
  SELECT q.query_id, c.doc_id,
         CAST(floor(
           ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
           * ((tf * {_BM25_K1P1!r}) / (tf + {BM25_K1!r}
              * ({_BM25_1MB!r} + {BM25_B!r} * (dl / avgdl))))
           * 1000000 + 0.5) AS BIGINT) AS c_upm
  FROM ctf c
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  JOIN qterms q USING (term)
  CROSS JOIN stats
), scored AS (
  SELECT query_id, doc_id, CAST(sum(c_upm) AS BIGINT) AS bm25_ppm
  FROM contrib GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25_ppm DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, bm25_ppm, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


# --- vocabulary growth (Heaps' law) ------------------------------------------

VOCAB_BUCKETS = 50


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth audit: walk the corpus in doc_id
    order, bucket it into a fixed grid, and report cumulative token
    mass vs cumulative DISTINCT vocabulary plus the implied Heaps
    exponent ln(V)/ln(N) per bucket. Flat new-term counts late in the
    corpus flag template/duplicated content; a jump flags a
    distribution shift — the standard ingest-order audit before
    training-data freezing.

    Scale shape: "cumulative distinct" never materializes a running
    set — each term's FIRST occurrence (min doc_id, one vocab-keyed
    shuffle) is attributed to its bucket, so cumulative vocabulary =
    running sum of per-bucket first-occurrence counts. All cumulative
    windows run over the POST-AGGREGATE bucket grid (≤ VOCAB_BUCKETS
    rows by construction — the bounded-window exemption, same class as
    the calendar-bounded EWMA); the max-doc-id scalar is a 1-row
    broadcast. Bucketing is exact integer arithmetic (never a float
    boundary), so the grid is identical across engines."""
    from .dedup import _doc_toks

    d = _doc_toks(spark, sf_dir)
    doc_stats = d.select(
        "doc_id",
        F.size(F.coalesce(F.col("toks"), F.expr("array()")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    term_first = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    return vocab_growth_from(doc_stats, term_first)


def vocab_growth_from(doc_stats: DataFrame, term_first: DataFrame) -> DataFrame:
    """The bucket-grid math from a (doc_id, n_tokens) table and a
    (term, first_doc) table — shared by the batch operator above and
    the streaming vocabulary store (streaming_vocab.py): per-doc token
    counts are additive and per-term first occurrences are
    min-mergeable, so both resolve from batch partials."""
    B = VOCAB_BUCKETS
    bucket = f"least({B - 1}, doc_id * {B} div (max_id + 1))"
    maxid = doc_stats.agg(F.max("doc_id").alias("max_id"))
    docs_b = (
        doc_stats.crossJoin(F.broadcast(maxid))
        .select(F.expr(bucket).alias("bucket"), "n_tokens")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    first_b = (
        term_first.select(F.col("first_doc").alias("doc_id"))
        .crossJoin(F.broadcast(maxid))
        .select(F.expr(bucket).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_terms"))
    )
    grid = docs_b.join(first_b, "bucket", "left").select(
        "bucket",
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_new_terms", F.lit(0)).alias("n_new_terms"),
    )
    from pyspark.sql import Window

    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    out = grid.select(
        "bucket",
        "n_docs",
        "n_new_terms",
        F.sum("n_tokens").over(cum).cast("bigint").alias("cum_tokens"),
        F.sum("n_new_terms").over(cum).cast("bigint").alias("cum_terms"),
    )
    beta = F.when(
        (F.col("cum_tokens") > 1) & (F.col("cum_terms") > 0),
        F.floor(
            F.log(F.col("cum_terms").cast("double"))
            / F.log(F.col("cum_tokens").cast("double"))
            * 1_000_000
            + 0.5
        ).cast("bigint"),
    )
    return out.select(
        "bucket", "n_docs", "n_new_terms", "cum_tokens", "cum_terms",
        beta.alias("heaps_beta_ppm"),
    )


VOCAB_GROWTH_SQL = f"""
WITH m AS (SELECT max(doc_id) AS max_id FROM documents),
db AS (
  SELECT least({VOCAB_BUCKETS - 1},
               doc_id * {VOCAB_BUCKETS} // (max_id + 1)) AS bucket,
         doc_id, {_TOKENS_DUCK} AS toks
  FROM documents CROSS JOIN m
), docs_b AS (
  SELECT bucket, count(*) AS n_docs FROM db GROUP BY 1
), tt AS (
  SELECT bucket, doc_id, unnest(toks) AS term FROM db
), toks_b AS (
  SELECT bucket, count(*) AS n_tokens FROM tt GROUP BY 1
), first_b AS (
  SELECT least({VOCAB_BUCKETS - 1},
               fd * {VOCAB_BUCKETS} // (max_id + 1)) AS bucket,
         count(*) AS n_new_terms
  FROM (SELECT term, min(doc_id) AS fd FROM tt GROUP BY 1) CROSS JOIN m
  GROUP BY 1
), grid AS (
  SELECT d.bucket, d.n_docs,
         coalesce(t.n_tokens, 0) AS n_tokens,
         coalesce(f.n_new_terms, 0) AS n_new_terms
  FROM docs_b d
  LEFT JOIN toks_b t USING (bucket)
  LEFT JOIN first_b f USING (bucket)
), cum AS (
  SELECT bucket, n_docs, n_new_terms,
         CAST(sum(n_tokens) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CAST(sum(n_new_terms) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_terms
  FROM grid
)
SELECT bucket, n_docs, n_new_terms, cum_tokens, cum_terms,
       CASE WHEN cum_tokens > 1 AND cum_terms > 0
            THEN CAST(floor(ln(CAST(cum_terms AS DOUBLE))
                            / ln(CAST(cum_tokens AS DOUBLE))
                            * 1000000 + 0.5) AS BIGINT)
       END AS heaps_beta_ppm
FROM cum
"""


# --- RAKE keyword extraction ---------------------------------------------------

RAKE_STOPWORDS = ("the", "a", "of", "and", "to")  # the en marker set
RAKE_TOP_K = 3


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal token runs between stopwords; each word scores
    degree/freq over the corpus phrase set (degree = summed length of
    the phrases its occurrences sit in — co-occurrence reach; freq =
    plain occurrence count), and a phrase scores the sum of its words'
    scores. Top-RAKE_TOP_K phrases per document — the classic
    unsupervised document-keyword op of the text-analysis pillar.

    Determinism: degree/freq are exact integers, word scores are
    exact-ppm integer divisions, phrase scores exact bigint sums; the
    per-doc rank breaks ties on (phrase, phrase_id).

    Scale shape: one posexplode scan; phrase segmentation is a per-doc
    PARTITIONED running sum over the stopword flags (the
    gaps-and-islands idiom — no global window); word stats are one
    vocab-grain aggregate joined back (AQE broadcast); the per-doc
    top-k is a doc-partitioned window. Nothing data-proportional runs
    in one task."""
    from pyspark.sql import Window

    stop_list = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    from .dedup import _doc_toks

    pos = _doc_toks(spark, sf_dir).select(
        "doc_id", F.posexplode("toks").alias("p", "tok")
    ).withColumn("is_stop", F.expr(f"tok IN ({stop_list})"))
    w = Window.partitionBy("doc_id").orderBy("p")
    ph = (
        pos.withColumn(
            "phrase_id", F.sum(F.col("is_stop").cast("int")).over(w)
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "phrase_id", "p", "tok")
        # three consumers (phrase assembly, word stats, phrase scoring)
        # — lazy checkpoint so the tokenize + posexplode + island
        # window computes once per action, not three times (r10)
        .localCheckpoint(eager=False)
    )
    phrases = ph.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(p, tok))),"
            " x -> x.tok), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
    ).localCheckpoint(eager=False)  # two consumers: word stats + final join
    wordstats = (
        ph.join(
            phrases.select("doc_id", "phrase_id", "n_words"),
            ["doc_id", "phrase_id"],
        )
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("degree"),
        )
        .select(
            "tok",
            F.expr("CAST(degree * 1000000 div freq AS BIGINT)").alias(
                "wscore_ppm"
            ),
        )
    )
    scored = (
        ph.join(wordstats, "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("wscore_ppm").alias("score_ppm"))
        .join(phrases, ["doc_id", "phrase_id"])
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.asc("phrase"), F.asc("phrase_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= RAKE_TOP_K)
        .select("doc_id", "rank", "phrase", "n_words", "score_ppm")
    )


RAKE_KEYWORDS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
), pos AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
  FROM t
), flag AS (
  SELECT doc_id, p, toks[p] AS tok,
         CASE WHEN toks[p] IN ({", ".join(f"'{w}'" for w in RAKE_STOPWORDS)})
              THEN 1 ELSE 0 END AS is_stop
  FROM pos
), ph AS (
  SELECT doc_id, phrase_id, p, tok FROM (
    SELECT doc_id, p, tok, is_stop,
           sum(is_stop) OVER (PARTITION BY doc_id ORDER BY p) AS phrase_id
    FROM flag
  ) WHERE is_stop = 0
), phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(tok, ' ' ORDER BY p) AS phrase,
         CAST(count(*) AS BIGINT) AS n_words
  FROM ph GROUP BY 1, 2
), wordstats AS (
  SELECT tok,
         CAST(sum(n_words) * 1000000 // count(*) AS BIGINT) AS wscore_ppm
  FROM ph JOIN phrases USING (doc_id, phrase_id)
  GROUP BY tok
), scored AS (
  SELECT h.doc_id, h.phrase_id, CAST(sum(w.wscore_ppm) AS BIGINT) AS score_ppm
  FROM ph h JOIN wordstats w USING (tok)
  GROUP BY 1, 2
)
SELECT doc_id, CAST(rank AS INT) AS rank, phrase, n_words, score_ppm FROM (
  SELECT s.doc_id, s.score_ppm, f.phrase, f.n_words,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY s.score_ppm DESC, f.phrase, s.phrase_id)
           AS rank
  FROM scored s JOIN phrases f USING (doc_id, phrase_id)
) WHERE rank <= {RAKE_TOP_K}
"""


# --- Zipf's-law rank-frequency fit --------------------------------------------

ZIPF_TOP_RANKS = 64


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency curve: OLS of
    ln(freq) on ln(rank) for the top-ZIPF_TOP_RANKS terms — the
    companion corpus-law audit to ``vocab_growth`` (Heaps). A healthy
    natural-language corpus fits slope ≈ −1; a much flatter slope flags
    template/synthetic content, a much steeper one a vocabulary
    collapse (the cheap distribution-shift detector run before
    training-data freezing).

    Determinism: per-term contributions are the engine's ln-fixed-point
    idiom (floor(ln(x)·1e6 + 0.5) bigints — the nll_ppm / heaps_beta
    contract), so the regression sums are EXACT integer arithmetic and
    slope/intercept come out of integer division (both engines
    truncate: Spark `div` ≡ DuckDB `//`).

    Scale shape: one token explode + map-side-combined word count; the
    top-K survives a partition-local top-k (partitioned window) then a
    global TakeOrdered(K); the regression is a single aggregate over
    ≤ K rows. The whole-vocab context stats (n_terms / n_tokens /
    top_freq) ride the same word-count base. Nothing data-proportional
    ever sorts in one task."""
    from .dedup import _doc_toks

    words = (
        _doc_toks(spark, sf_dir)
        .select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return zipf_fit_from(words)


def zipf_fit_from(words: DataFrame) -> DataFrame:
    """The fit from a (tok, freq) word-count table — shared by the
    batch operator above and the streaming vocabulary store
    (streaming_vocab.py): term counts are additive, so the same fit
    resolves from accumulated batch partials."""
    from pyspark.sql import Window

    K = ZIPF_TOP_RANKS
    totals = words.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("freq").alias("n_tokens"),
        F.max("freq").alias("top_freq"),
    )
    order = (F.col("freq").desc(), F.asc("tok"))
    local_w = Window.partitionBy("pid").orderBy(*order)
    top = (
        words.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= K)
        .drop("pid", "lrank")
        .orderBy(*order)
        .limit(K)
    )
    # rank window runs post-limit: ≤ K rows by construction (the
    # doc_cms_heavy_hitters exemption class)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(*order)).cast("bigint")
    )
    xy = ranked.select(
        F.floor(F.log(F.col("rk").cast("double")) * 1_000_000 + 0.5)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("freq").cast("double")) * 1_000_000 + 0.5)
        .cast("bigint")
        .alias("y"),
    )
    reg = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    fitted = reg.select(
        "n", "sy", "sx",
        F.expr(
            "(n * sxy - sx * sy) div"
            " nullif((n * sxx - sx * sx) div 1000000, 0)"
        ).alias("slope_ppm"),
    ).select(
        F.col("n").cast("int").alias("n_ranks"),
        F.col("slope_ppm").cast("bigint"),
        F.expr("(sy - (slope_ppm * sx) div 1000000) div n")
        .cast("bigint")
        .alias("intercept_ppm"),
    )
    return fitted.crossJoin(F.broadcast(totals)).select(
        "n_ranks", "slope_ppm", "intercept_ppm",
        "n_terms", "n_tokens", "top_freq",
    )


ZIPF_FIT_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents
), words AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(freq) AS BIGINT) AS n_tokens,
         CAST(max(freq) AS BIGINT) AS top_freq
  FROM words
), ranked AS (
  SELECT freq,
         CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rk
  FROM words
  ORDER BY freq DESC, tok LIMIT {ZIPF_TOP_RANKS}
), xy AS (
  SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
  FROM ranked
), reg AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
), fitted AS (
  SELECT n, sy, sx,
         (n * sxy - sx * sy)
           // nullif((n * sxx - sx * sx) // 1000000, 0) AS slope_ppm
  FROM reg
)
SELECT CAST(n AS INT) AS n_ranks,
       CAST(slope_ppm AS BIGINT) AS slope_ppm,
       CAST((sy - (slope_ppm * sx) // 1000000) // n AS BIGINT)
         AS intercept_ppm,
       n_terms, n_tokens, top_freq
FROM fitted CROSS JOIN totals
"""


# --- unigram-LM tokenizer training (SentencePiece-style) ---------------------
#
# Kudo 2018 ("Subword Regularization", the SentencePiece unigram
# trainer): seed a substring vocabulary, then EM — segment every word
# under current piece log-probs, re-estimate piece probabilities from
# the segmentation counts. This is the HARD-EM (Viterbi) variant: the
# E-step takes the single best segmentation rather than lattice
# expectations — deterministic, exactly SQL-expressible, and the
# encode path of the soft trainer is this same Viterbi DP anyway.
#
# Everything runs on the WORD-FREQUENCY table (Zipf-bounded, the same
# framing as the BPE trainer): the corpus is touched once for word
# counts; DP, backtrace, and re-estimation are vocab-grain. The DP is
# a driver LOOP but never a driver DATASET — positions 1..max_word_len
# build one lazy plan per EM iteration, actions happen only at the
# iteration's count aggregate and checkpoint.

UNI_MAX_PIECE = 4    # max piece length (chars)
UNI_MAX_WORD = 16    # trainer word cap — longer words are excluded
                     # (SentencePiece's trainer similarly caps input
                     # lengths); oracle DP unrolls to this bound
UNI_MIN_SEED = 2     # corpus-weighted floor for multi-char seed pieces
UNI_EM_ITERS = 2     # unrolled in the oracle SQL; keep the two in sync
UNI_TOP = 40         # output rows: top pieces by final count


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _doc_toks

    return (
        _doc_toks(spark, sf_dir)
        .select(F.explode("toks").alias("tok"))
        .filter(F.length("tok") <= UNI_MAX_WORD)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("len", F.length("tok").cast("int"))
    )


def _uni_pieces_of_words(words: DataFrame) -> DataFrame:
    """(piece, cnt): every substring of length 1..UNI_MAX_PIECE,
    corpus-weighted (word freq × occurrences within the word)."""
    return (
        words.select(
            "tok", "freq", "len",
            F.explode(F.expr("sequence(1, len)")).alias("i"),
        )
        .select(
            "tok", "freq", "i",
            F.explode(
                F.expr(f"sequence(1, least({UNI_MAX_PIECE}, len - i + 1))")
            ).alias("l"),
        )
        .select("freq", F.expr("substring(tok, i, l)").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def _uni_logp(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """Add-one-smoothed piece log-probs in ppm integers:
    lp = floor(ln((cnt+1)/(T+V)) · 1e6 + 0.5). T and V are bounded
    vocab-grain scalars collected to literals (the DSIR pattern — no
    1-row broadcast stitch); quantization happens per piece BEFORE any
    cross-piece sum, so DP scores are exact integer arithmetic."""
    counts = counts.localCheckpoint(eager=True)
    row = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("t"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    t, v = int(row.t), int(row.v)
    return counts.select(
        "piece",
        F.expr(
            f"CAST(floor(ln((cnt + 1) / CAST({t} + {v} AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("lp"),
    )


def _uni_dp_expr() -> str:
    """The whole Viterbi DP as ONE codegen expression over (tok, len,
    m: map<piece, lp>): fold end positions j = 1..len, appending
    dp[j] = best struct(s, l) over piece lengths 1..UNI_MAX_PIECE.
    `greatest` over structs compares (s, l) lexicographically and
    skips NULLs (out-of-range or out-of-vocab candidates), so the
    tie-break is highest score then longest piece — mirrored by the
    oracle's list_sort(...)[-1]. A single expression per word means
    NO per-position join or driver loop: the first formulation built
    one lazy level per position, and each level re-embedded the
    previous plan twice (union + join) — a 2^len plan blow-up that
    cost ~25 s in pure compilation at ANY data size."""
    cands = []
    for l in range(1, UNI_MAX_PIECE + 1):
        piece = f"substring(tok, j - {l} + 1, {l})"
        prev = f"element_at(acc, j - {l} + 1)"
        cands.append(
            f"CASE WHEN j >= {l} AND try_element_at(m, {piece}) IS NOT NULL "
            f"THEN named_struct('s', {prev}.s + try_element_at(m, {piece}), "
            f"'l', {l}) END"
        )
    return (
        "aggregate(sequence(1, len), "
        "array(named_struct('s', CAST(0 AS BIGINT), 'l', 0)), "
        f"(acc, j) -> array_append(acc, greatest({', '.join(cands)})))"
    )


_UNI_TRACE_EXPR = (
    # walk bestl pointers from pos = len down to 0; sequence(1, len)
    # gives exactly enough steps (every step consumes ≥ 1 char)
    "aggregate(sequence(1, len), "
    "named_struct('p', len, 'ps', CAST(array() AS array<string>)), "
    "(st, k) -> CASE WHEN st.p > 0 THEN named_struct("
    "'p', st.p - element_at(dparr, st.p + 1).l, "
    "'ps', array_append(st.ps, substring(tok, "
    "st.p - element_at(dparr, st.p + 1).l + 1, "
    "element_at(dparr, st.p + 1).l))) ELSE st END, "
    "st -> st.ps)"
)


def _uni_segment(words: DataFrame, lp: DataFrame) -> DataFrame:
    """Viterbi-segment every word under ``lp``: (tok, freq, ps) with
    ps = the word's best piece sequence (reversed order — counts and
    sizes don't care).

    Shape: one explode (word substrings) + one equi-join (vocab probe)
    + one groupBy builds the per-word piece→lp map (≤ len·UNI_MAX_PIECE
    entries); the DP and backtrace then run as two codegen expressions
    per word — the corpus-scale cost is ~3 vocab-grain shuffles total,
    independent of word length. Single-char pieces are always in the
    vocabulary (M-step retention), so the DP is total."""
    wp = (
        words.select(
            "tok", "freq", "len",
            F.explode(F.expr("sequence(1, len)")).alias("i"),
        )
        .select(
            "tok",
            F.explode(
                F.expr(f"sequence(1, least({UNI_MAX_PIECE}, len - i + 1))")
            ).alias("l"),
            "i",
        )
        .select("tok", F.expr("substring(tok, i, l)").alias("piece"))
        .distinct()
        .join(lp, "piece")
        .groupBy("tok")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("piece", "lp"))).alias("m")
        )
    )
    return (
        words.join(wp, "tok")
        .withColumn("dparr", F.expr(_uni_dp_expr()))
        .withColumn("ps", F.expr(_UNI_TRACE_EXPR))
        .select("tok", "freq", "ps")
    )


def _uni_viterbi_counts(words: DataFrame, lp: DataFrame) -> DataFrame:
    """One hard-EM E-step: (piece, cnt) corpus-weighted segmentation
    counts from the Viterbi segmentation."""
    return (
        _uni_segment(words, lp)
        .select("freq", F.explode("ps").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def _uni_state(spark: SparkSession, sf_dir: str, stats: dict | None = None):
    """Session-cached trainer state: (words, final-E-step counts,
    final lp). Two registered consumers (the trainer's piece table and
    the encode stats) — the EM rounds run once per (session, sf_dir),
    the same materialize-once framing as the dedup/pair bases. counts
    and lp are None for an empty corpus. Pass ``stats`` (rehearsal
    instrumentation) to receive {"iter_sec": [...]} — each entry is
    one EM round's wall time; ``_uni_logp``'s smoothing-scalar collect
    forces that round's E-step, so the per-iteration split is real
    work, not lazy-plan accounting."""
    from .dedup import _CORPUS_CACHE

    io.ensure_session_conf(spark)
    per_session = _CORPUS_CACHE.setdefault(spark, {})
    key = (sf_dir, "uni_state")
    st = per_session.get(key)
    if st is not None:
        return st

    words = _uni_words(spark, sf_dir).localCheckpoint(eager=True)
    if words.limit(1).count() == 0:
        st = (words, None, None)
        per_session[key] = st
        return st
    singles = (
        words.select("tok", "freq", F.explode(F.expr("sequence(1, len)")).alias("i"))
        .select(F.expr("substring(tok, i, 1)").alias("piece"))
        .distinct()
    )
    seed = _uni_pieces_of_words(words).filter(
        (F.length("piece") == 1) | (F.col("cnt") >= UNI_MIN_SEED)
    )
    lp = _uni_logp(spark, seed)
    counts = None
    for _ in range(UNI_EM_ITERS):
        t0 = _time.time()
        counts = _uni_viterbi_counts(words, lp)
        # retain used pieces ∪ ALL single chars (keeps the next DP
        # total: any word can fall back to characters)
        retained = (
            singles.join(counts, "piece", "left")
            .select("piece", F.coalesce("cnt", F.lit(0)).alias("cnt"))
            .unionByName(counts.join(singles, "piece", "left_anti"))
        )
        lp = _uni_logp(spark, retained)
        if stats is not None:
            stats.setdefault("iter_sec", []).append(round(_time.time() - t0, 3))
    st = (words, counts.localCheckpoint(eager=True), lp.localCheckpoint(eager=True))
    per_session[key] = st
    return st


def unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a unigram-LM subword tokenizer (SentencePiece family,
    Kudo 2018) on the corpus word table — hard-EM: substring seed
    vocabulary → UNI_EM_ITERS rounds of (Viterbi segment, re-estimate)
    → final piece inventory. Output: the top UNI_TOP pieces by final
    segmentation count with exact ppm corpus share and rank — the
    registered, driver-hash-verified face of the whole trainer (seed,
    both DP pyramids, both re-estimations).

    Scale: the corpus is read once (word counts); every other table is
    vocab-grain. Per EM iteration: one lazy DP plan (max_word_len
    levels, each a bounded-fanout join on the piece table), one
    backtrace walk over the checkpointed DP, one count aggregate, and
    the smoothing scalars collect as literals. Words over UNI_MAX_WORD
    chars are excluded from training (the documented trainer cap —
    SentencePiece caps trainer input the same way), which is what lets
    the oracle unroll the DP to a constant depth."""
    words, counts, _lp = _uni_state(spark, sf_dir)
    if counts is None:
        return spark.createDataFrame(
            [], "piece string, piece_len int, cnt bigint, share_ppm bigint, rank int"
        )
    # r10: the same 1-row collect also carries the piece-vocab
    # cardinality, so dc's internal count job is skipped
    total_row = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)), F.count(F.lit(1))
    ).collect()[0]
    total = max(int(total_row[0]), 1)
    # final counts are piece-vocab-grain, but the global rank still
    # rides the two-phase distributed cumsum (size-adaptive: one range
    # at this grain, full width if a real corpus's piece vocab grows)
    from .windows import distributed_cumulative

    ranked = distributed_cumulative(
        counts, [F.col("cnt").desc(), F.asc("piece")], n_rows=int(total_row[1])
    ).withColumn("rank", F.col("_grank").cast("int"))
    return (
        ranked.filter(F.col("rank") <= UNI_TOP)
        .select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr(f"CAST(cnt * 1000000 div {total} AS BIGINT)").alias("share_ppm"),
            "rank",
        )
    )


def _uni_words_duck() -> str:
    return f"""words AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq, CAST(length(tok) AS INT) AS len
  FROM (SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents)
  WHERE length(tok) <= {UNI_MAX_WORD}
  GROUP BY tok
)"""


def _uni_lp_duck(tag: str, counts: str) -> str:
    return f"""lp{tag} AS MATERIALIZED (
  SELECT piece,
         CAST(floor(ln((cnt + 1) / CAST(t.t + t.v AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS lp
  FROM {counts} CROSS JOIN
       (SELECT coalesce(sum(cnt), 0) AS t, count(*) AS v FROM {counts}) t
)"""


def _uni_em_duck(tag: str, lp: str) -> str:
    """One hard-EM E-step as recursive CTEs: dp{tag} carries each
    word's DP array (struct(s, l) per position) forward one position
    per recursion level, probing the {lp} piece table with one LEFT
    JOIN per piece length; tr{tag} walks the bestl pointers back;
    cnt{tag} aggregates the corpus-weighted piece counts. Candidate
    selection is list_sort(non-null candidates)[-1] — struct (s, l)
    lexicographic max, identical to the engine's greatest(structs)."""
    cands, joins = [], []
    for l in range(1, UNI_MAX_PIECE + 1):
        cands.append(
            f"CASE WHEN d.pos + 1 >= {l} AND j{l}.lp IS NOT NULL THEN "
            f"{{'s': d.arr[d.pos + 2 - {l}].s + j{l}.lp, 'l': {l}}} END"
        )
        joins.append(
            f"  LEFT JOIN {lp} j{l} ON d.pos + 1 >= {l} "
            f"AND j{l}.piece = substr(d.tok, d.pos + 2 - {l}, {l})"
        )
    nl = "\n"
    return f"""dp{tag}(tok, freq, len, pos, arr) AS (
  SELECT tok, freq, len, 0,
         [{{'s': CAST(0 AS BIGINT), 'l': 0}}] FROM words
  UNION ALL
  SELECT d.tok, d.freq, d.len, d.pos + 1,
         list_append(d.arr, list_sort(list_filter([
           {("," + nl + "           ").join(cands)}
         ], x -> x IS NOT NULL))[-1])
  FROM dp{tag} d
{nl.join(joins)}
  WHERE d.pos < d.len
), tr{tag}(tok, freq, p, piece, arr) AS (
  SELECT tok, freq, len, CAST(NULL AS VARCHAR), arr
  FROM dp{tag} WHERE pos = len
  UNION ALL
  SELECT tok, freq, p - arr[p + 1].l,
         substr(tok, p - arr[p + 1].l + 1, arr[p + 1].l), arr
  FROM tr{tag} WHERE p > 0
), cnt{tag} AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM tr{tag} WHERE piece IS NOT NULL GROUP BY piece
)"""


UNIGRAM_TOKENIZER_SQL = f"""
WITH RECURSIVE {_uni_words_duck()},
singles AS (
  SELECT DISTINCT unnest(list_transform(generate_series(1, len),
                         i -> substr(tok, i, 1))) AS piece
  FROM words
),
seed AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(flatten(list_transform(generate_series(1, len),
      i -> list_transform(generate_series(1, least({UNI_MAX_PIECE}, len - i + 1)),
                          l -> substr(tok, i, l))))) AS piece
    FROM words
  ) GROUP BY piece
  HAVING length(piece) = 1 OR sum(freq) >= {UNI_MIN_SEED}
),
{_uni_lp_duck("0", "seed")},
{_uni_em_duck("1", "lp0")},
ret1 AS MATERIALIZED (
  SELECT s.piece, coalesce(c.cnt, 0) AS cnt
  FROM singles s LEFT JOIN cnt1 c USING (piece)
  UNION ALL
  SELECT c.piece, c.cnt FROM cnt1 c ANTI JOIN singles s USING (piece)
),
{_uni_lp_duck("1", "ret1")},
{_uni_em_duck("2", "lp1")},
tot AS (
  SELECT greatest(CAST(coalesce(sum(cnt), 0) AS BIGINT), 1) AS total FROM cnt2
)
SELECT piece, CAST(length(piece) AS INT) AS piece_len, cnt,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
  FROM cnt2 CROSS JOIN tot
) WHERE rn <= {UNI_TOP}
"""


def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained unigram model (the encode path to
    `doc_unigram_tokenizer`'s train path, mirroring the BPE pair):
    Viterbi-segment the word table under the FINAL piece log-probs —
    in SentencePiece the encoder IS this DP — and roll up per
    document: whitespace token count vs unigram piece count and the
    exact-integer compression ppm. Words over the UNI_MAX_WORD trainer
    cap encode as characters (the documented fallback: they never
    entered training, so the model owes them nothing better).

    Scale: training state is session-cached (one EM run per session);
    encoding is one vocab-grain DP plus one (word → n_pieces) join
    back to the token stream and a per-doc aggregate — the same
    deployment shape as bpe_encode_stats."""
    from .dedup import _doc_toks

    dtoks = _doc_toks(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    words, _counts, lp = _uni_state(spark, sf_dir)
    if lp is None:
        return spark.createDataFrame(
            [], "doc_id bigint, n_tokens bigint, n_pieces bigint, compression_ppm bigint"
        )
    enc = _uni_segment(words, lp).select(
        "tok", F.size("ps").cast("bigint").alias("np")
    )
    fallback = (
        dtoks.filter(F.length("tok") > UNI_MAX_WORD)
        .select("tok")
        .distinct()
        .select("tok", F.length("tok").cast("bigint").alias("np"))
    )
    per_doc = (
        dtoks.join(enc.unionByName(fallback), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("np").alias("n_pieces"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_pieces").cast("bigint").alias("n_pieces"),
        F.expr("CAST(n_tokens * 1000000 div n_pieces AS BIGINT)").alias(
            "compression_ppm"
        ),
    )


UNIGRAM_ENCODE_STATS_SQL = f"""
WITH RECURSIVE {_uni_words_duck()},
singles AS (
  SELECT DISTINCT unnest(list_transform(generate_series(1, len),
                         i -> substr(tok, i, 1))) AS piece
  FROM words
),
seed AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(flatten(list_transform(generate_series(1, len),
      i -> list_transform(generate_series(1, least({UNI_MAX_PIECE}, len - i + 1)),
                          l -> substr(tok, i, l))))) AS piece
    FROM words
  ) GROUP BY piece
  HAVING length(piece) = 1 OR sum(freq) >= {UNI_MIN_SEED}
),
{_uni_lp_duck("0", "seed")},
{_uni_em_duck("1", "lp0")},
ret1 AS MATERIALIZED (
  SELECT s.piece, coalesce(c.cnt, 0) AS cnt
  FROM singles s LEFT JOIN cnt1 c USING (piece)
  UNION ALL
  SELECT c.piece, c.cnt FROM cnt1 c ANTI JOIN singles s USING (piece)
),
{_uni_lp_duck("1", "ret1")},
{_uni_em_duck("2", "lp1")},
ret2 AS MATERIALIZED (
  SELECT s.piece, coalesce(c.cnt, 0) AS cnt
  FROM singles s LEFT JOIN cnt2 c USING (piece)
  UNION ALL
  SELECT c.piece, c.cnt FROM cnt2 c ANTI JOIN singles s USING (piece)
),
{_uni_lp_duck("2", "ret2")},
{_uni_em_duck("3", "lp2")},
dt AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents
),
np AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS np
  FROM tr3 WHERE piece IS NOT NULL GROUP BY tok
  UNION ALL
  SELECT tok, CAST(length(tok) AS BIGINT) AS np
  FROM (SELECT DISTINCT tok FROM dt WHERE length(tok) > {UNI_MAX_WORD})
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(np) AS BIGINT) AS n_pieces,
       CAST(count(*) * 1000000 // sum(np) AS BIGINT) AS compression_ppm
FROM dt JOIN np USING (tok)
GROUP BY doc_id
"""

# --- cross-tokenizer fertility grid -------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-selection eval grid: corpus-level fertility (subword
    units per whitespace word, the standard cross-tokenizer comparison
    metric) and compression for ALL THREE trained tokenizer families —
    the BPE merge table, the unigram-LM Viterbi segmenter, and the
    WordPiece likelihood-greedy merge table — in one hash-verified row
    per system. This is the decision step between the encode paths: a
    team picking a tokenizer reads exactly this grid.

    Pure composition: each system's per-word symbol counts come from
    the SAME session-cached trained state the registered encode
    queries use (`bpe_encode_stats`, `unigram_encode_stats`,
    `wordpiece_encode_stats`), so a green hash here re-binds all
    three trainers and encoders through a second aggregation shape.

    Scale (round-8 shared-scan rewrite): the three per-system vocab
    tables merge into ONE (tok → bpe/uni/wp symbol counts) enc table
    — vocab-grain joins — and the corpus is touched ONCE: one token
    explode, one AQE-broadcast enc join, one aggregate producing all
    three unit sums together (the prior formulation ran three
    independent per-doc legs, i.e. three corpus scans and a full BPE
    re-train per call — measured 4.6 s at sf0.1, vs ~1.4 s fused).
    Every system covers every token by construction (BPE/WordPiece
    train on the full word table; unigram's over-cap words encode as
    characters), which is WHY the three legs always agreed on
    n_docs/n_words and the inner 3-way join drops nothing. The 3-row
    grid unpivots from the single corpus-grain row; empty corpora
    keep the legacy NULL shape via nullif."""
    from .dedup import _doc_toks

    dtoks = _doc_toks(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    bpe_enc = _bpe_tok_syms(spark, sf_dir).select(
        "tok", F.size(F.split("s", " ")).cast("bigint").alias("bpe_syms")
    )
    wp_enc = _wp_tok_syms(spark, sf_dir).select(
        "tok", F.size(F.split("s", " ")).cast("bigint").alias("wp_syms")
    )
    words, _counts, lp = _uni_state(spark, sf_dir)
    if lp is None:
        uni_enc = spark.createDataFrame([], "tok string, uni_syms bigint")
    else:
        seg = _uni_segment(words, lp).select(
            "tok", F.size("ps").cast("bigint").alias("uni_syms")
        )
        fallback = (
            dtoks.filter(F.length("tok") > UNI_MAX_WORD)
            .select("tok")
            .distinct()
            .select("tok", F.length("tok").cast("bigint").alias("uni_syms"))
        )
        uni_enc = seg.unionByName(fallback)
    enc = bpe_enc.join(uni_enc, "tok").join(wp_enc, "tok")
    tot = dtoks.join(enc, "tok").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.expr("nullif(count(*), 0)").cast("bigint").alias("n_words"),
        F.sum("bpe_syms").cast("bigint").alias("bpe_units"),
        F.sum("uni_syms").cast("bigint").alias("uni_units"),
        F.sum("wp_syms").cast("bigint").alias("wp_units"),
    )
    sys_units = F.explode(
        F.array(
            F.struct(F.lit("bpe").alias("system"),
                     F.col("bpe_units").alias("n_units")),
            F.struct(F.lit("unigram").alias("system"),
                     F.col("uni_units").alias("n_units")),
            F.struct(F.lit("wordpiece").alias("system"),
                     F.col("wp_units").alias("n_units")),
        )
    )
    return tot.select(sys_units.alias("s"), "n_docs", "n_words").select(
        F.col("s.system").alias("system"),
        "n_docs",
        "n_words",
        F.col("s.n_units").alias("n_units"),
        F.expr(
            "CAST(s.n_units * 1000000 div n_words AS BIGINT)"
        ).alias("fertility_ppm"),
        F.expr(
            "CAST(n_words * 1000000 div s.n_units AS BIGINT)"
        ).alias("compression_ppm"),
    )


# oracle: each system's per-doc SQL wrapped as a derived table (DuckDB
# accepts WITH RECURSIVE inside a subquery), so the grid aggregates the
# EXACT per-doc rows the sibling oracles produce — no re-derivation
TOKENIZER_FERTILITY_SQL = f"""
SELECT 'bpe' AS system,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_words,
       CAST(sum(n_bpe_symbols) AS BIGINT) AS n_units,
       CAST(sum(n_bpe_symbols) * 1000000 // sum(n_tokens) AS BIGINT)
         AS fertility_ppm,
       CAST(sum(n_tokens) * 1000000 // sum(n_bpe_symbols) AS BIGINT)
         AS compression_ppm
FROM ({BPE_ENCODE_STATS_SQL}) bpe_doc
UNION ALL
SELECT 'unigram' AS system,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_words,
       CAST(sum(n_pieces) AS BIGINT) AS n_units,
       CAST(sum(n_pieces) * 1000000 // sum(n_tokens) AS BIGINT)
         AS fertility_ppm,
       CAST(sum(n_tokens) * 1000000 // sum(n_pieces) AS BIGINT)
         AS compression_ppm
FROM ({UNIGRAM_ENCODE_STATS_SQL}) uni_doc
UNION ALL
SELECT 'wordpiece' AS system,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_words,
       CAST(sum(n_wp_symbols) AS BIGINT) AS n_units,
       CAST(sum(n_wp_symbols) * 1000000 // sum(n_tokens) AS BIGINT)
         AS fertility_ppm,
       CAST(sum(n_tokens) * 1000000 // sum(n_wp_symbols) AS BIGINT)
         AS compression_ppm
FROM ({WORDPIECE_ENCODE_STATS_SQL}) wp_doc
"""
