"""Deduplication operators over the ``documents`` table — the
training-data-pipeline surface: exact, MinHash+LSH, SimHash, and
blocked n-gram Jaccard near-dup detection.

All hashing is md5-based (hex strings order-compare identically in
Spark and DuckDB), so every stage — shingling, signatures, banding,
candidate pairs, verification — is SQL-expressible and oracle-checked.

Scale design (100 TB):
  * Exact dedup: hash-groupBy on a fingerprint — one shuffle, no
    full-row comparisons.
  * Near-dup runs on exact-dedup REPRESENTATIVES (one doc per
    (lang, text)), the production pipeline order (exact pass first,
    MinHash on unique texts — e.g. SlimPajama/RefinedWeb): a corpus
    with 10^7 byte-identical boilerplate copies contributes ONE row to
    signature/banding/verification instead of 10^7 rows that would all
    land in the same LSH buckets. Tokenize/shingle/hash run per unique
    text, not per copy.
  * MinHash/LSH: per-rep signature is a single explode + groupBy
    (map-side combined); candidate generation buckets docs by (band,
    band_hash) — the bucket key IS the blocking key, so candidate
    generation never goes quadratic in the corpus.
  * In-bucket pair expansion is BOUNDED (``_pairs_within_groups``):
    buckets up to ``BUCKET_CAP`` ids expand via an in-row array (two
    chained explodes, O(cap) row width); oversize buckets fall back to
    a salted triangular self-join that spreads one hot bucket over
    ~salt^2/2 parallel tasks with O(1) row width. No single row ever
    holds an unbounded id set (the round-1 OOM risk under adversarial
    duplicate mass).
  * Shared materialized bases: members / reps / signatures are
    computed once per (session, sf_dir) and persisted — the query-side
    analogue of the materialized "deduped corpus" table a production
    pipeline writes between stages. Five registered queries share them.

Reference parity: the reference engine (maillog2db.go:283-442) dedups
rows by exact-match lookups before INSERT; exact_dedup is that
operator's set-semantics form, and the near-dup family is the
training-data extension the reference does not have.
"""

from __future__ import annotations

import weakref
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import io

N_HASHES = 8
N_BANDS = 4  # rows-per-band = 2
SHINGLE_W = 3
JACCARD_THRESHOLD = 0.7

# in-row bucket expansion bound: a collected id array never exceeds
# this many elements (~tens of KB), regardless of how degenerate the
# corpus is; bigger buckets take the salted-join path
BUCKET_CAP = 1024
# chunk count for the oversize-bucket triangular join: one hot bucket
# becomes ~salt*(salt+1)/2 independent tasks
PAIR_SALT = 32

# tokens: lowercase, whitespace-split, empties removed (identical
# semantics spelled in both engines)
# Case folding is ASCII-only (translate, not lower()): full Unicode
# lowercasing diverges between engines (Java/Python full context-
# sensitive mapping vs DuckDB's utf8proc simple mapping — final sigma,
# Turkish İ), so every token/shingle op built on lower() would drift
# on non-ASCII-cased text. translate is byte-identical everywhere and
# equals lower() on ASCII. Same contract as textnorm.nfc_fold.
_AZ = "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'"
# array_remove, not filter(x -> x <> ''): identical semantics (strip
# the empty strings split() emits for leading/consecutive whitespace),
# but array_remove is a regular codegen expression while the filter()
# lambda is CodegenFallback — interpreted per element, and this runs on
# every text row of every token-family query (the measured CPU floor).
_TOKENS_SPARK = f"array_remove(split(translate(trim(text), {_AZ}), '\\\\s+'), '')"
_TOKENS_DUCK = (
    f"list_filter(string_split_regex(translate(trim(text), {_AZ}), '\\s+'), x -> x <> '')"
)

# 3-word shingles, deduplicated. The Spark variant is built FROM a
# materialized tokens column (see _with_shingles / _reps) so the
# split() runs once per row, not once per textual reference.
_SHINGLES_FROM_TOKS_SPARK = (
    f"array_distinct(CASE WHEN size(toks) >= {SHINGLE_W} THEN "
    f"transform(sequence(1, size(toks) - {SHINGLE_W - 1}), "
    f"i -> array_join(slice(toks, i, {SHINGLE_W}), ' ')) "
    "ELSE array() END)"
)
_SHINGLES_DUCK = (
    f"list_distinct(list_transform(generate_series(1, len({_TOKENS_DUCK}) - {SHINGLE_W - 1}), "
    f"i -> array_to_string(list_slice({_TOKENS_DUCK}, i, i + {SHINGLE_W - 1}), ' ')))"
)


def _doc_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, toks): the tokenized corpus, the base
    every shingle/span operator starts from. Tokenization (a split +
    filter lambda chain — interpreted, the expensive part of the
    shingle family) runs ONCE per (session, sf_dir); span_scrub,
    span_dedup, and the no-extras _with_shingles all read the
    materialized rows. Repartitioned on doc_id before the lambdas for
    the same single-core reason as _with_shingles below."""
    def build():
        p = spark.sparkContext.defaultParallelism
        d = io.load(spark, sf_dir, "documents").repartition(p, "doc_id")
        return d.select("doc_id", F.expr(_TOKENS_SPARK).alias("toks"))

    return _cached(spark, sf_dir, "doc_toks", build)


def _with_shingles(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """documents → (doc_id, *extra_cols, sh): distinct 3-word shingle
    arrays PER DOC (no rep collapse — decontamination needs every doc
    scored), with any passthrough columns carried in the SAME scan.

    Session-cached per extra_cols variant (r9): shingle_novelty,
    source_overlap, and the two decontamination passes each consumed a
    fresh plan, so the interpreted tokenize+shingle lambdas re-ran per
    query — and TWICE inside any query whose plan reads the base from
    two consumers. Materializing once per (session, sf_dir, variant)
    is the same pattern as _reps/_rep_signatures. The no-extras
    variant derives from the shared _doc_toks base so tokenization
    itself is also computed once across the whole shingle/span family.

    Repartitions on doc_id before shingling: higher-order functions
    (transform/filter lambdas) are CodegenFallback — interpreted, CPU
    heavy — and a small parquet file scans as ONE partition, so without
    the exchange the whole shingle computation runs on a single core
    (measured 8.6s → 0.4s at sf0.1 on local[32]). At 100 TB the scan is
    already wide and AQE coalesces this exchange to a no-op-sized
    shuffle; the partitioning also pre-aligns the doc_id joins the
    near-dup verifiers do downstream."""
    def build():
        if not extra_cols:
            return _doc_toks(spark, sf_dir).select(
                "doc_id", F.expr(_SHINGLES_FROM_TOKS_SPARK).alias("sh")
            )
        p = spark.sparkContext.defaultParallelism
        d = io.load(spark, sf_dir, "documents").repartition(p, "doc_id")
        return d.select(
            "doc_id", *extra_cols, F.expr(_TOKENS_SPARK).alias("toks")
        ).select("doc_id", *extra_cols, F.expr(_SHINGLES_FROM_TOKS_SPARK).alias("sh"))

    return _cached(
        spark, sf_dir, "with_shingles:" + ",".join(extra_cols), build
    )


# --- session-scoped materialized bases --------------------------------------
#
# members / reps / minhash / simhash subtrees are shared by six
# registered queries (doc_minhash_signatures, doc_lsh_candidate_pairs,
# doc_neardup_pairs, doc_neardup_clusters, doc_blocked_jaccard,
# doc_simhash, doc_simhash_neardup). Persisting them once per (session,
# sf_dir) is the same pattern as queries._PARSE_CACHE: parse/tokenize
# once, query many times. WeakKeyDictionary ties cache lifetime to the
# session (a stopped session's blocks must not shadow a new session's).

_CORPUS_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cached(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    # session conf is action-time state, not plan-time — a cache hit must
    # still re-apply it (timezone decides what timestamps hash to)
    io.ensure_session_conf(spark)
    per_session = _CORPUS_CACHE.setdefault(spark, {})
    df = per_session.get((sf_dir, key))
    if df is None:
        df = build()
        if not df.is_cached:  # some builds persist eagerly themselves
            df = df.persist()
        per_session[(sf_dir, key)] = df
    return df


def _members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, fingerprint) for every document — the map from
    docs to their exact-dup group. Pure projection, no shuffle."""
    return _cached(
        spark, sf_dir, "members",
        lambda: io.load(spark, sf_dir, "documents").select(
            "doc_id", "lang",
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint"),
        ),
    )


def rep_base_from_docs(docs: DataFrame, parallelism: int) -> DataFrame:
    """(doc_id, lang, text) → one representative per (lang, fingerprint)
    with tokens and shingles computed ONCE per unique text: (doc_id,
    lang, fingerprint, toks, sh). doc_id is the group's min.

    The groupBy shuffles (fingerprint, text) once — the exact-dedup
    pass a production pipeline runs first anyway — and the interpreted
    tokenize/shingle lambdas then run on unique texts only. The
    repartition after the collapse spreads that CPU over all cores
    (AQE would otherwise coalesce the tiny post-agg shuffle to one
    partition at test SF). Shared by the batch query family and the
    incremental streaming near-dup (identical signature math is the
    stream ≡ batch equivalence contract)."""
    d = docs.select(
        "doc_id", "lang", "text",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint"),
    )
    return (
        d.groupBy("lang", "fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        .repartition(parallelism, "doc_id")
        .select("doc_id", "lang", "fingerprint", F.expr(_TOKENS_SPARK).alias("toks"))
        .select("doc_id", "lang", "fingerprint", "toks",
                F.expr(_SHINGLES_FROM_TOKS_SPARK).alias("sh"))
    )


def _reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached rep base over the documents table."""
    return _cached(
        spark, sf_dir, "reps",
        lambda: rep_base_from_docs(
            io.load(spark, sf_dir, "documents"),
            spark.sparkContext.defaultParallelism,
        ),
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: one representative (min
    doc_id) per md5(text), with duplicate counts."""
    d = io.load(spark, sf_dir, "documents")
    return (
        d.withColumn("fingerprint", F.md5(F.encode(F.col("text"), "UTF-8")))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS fingerprint,
       min(doc_id) AS rep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _rep_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-REP MinHash signature via Carter-Wegman double hashing
    (Broder's scheme as commonly deployed): ONE md5 per shingle split
    into two 32-bit halves (h1, h2), then mh_i = min(h1 + i*h2),
    i = 0..N_HASHES-1. Max value < 2^40, so the arithmetic never
    overflows (both engines run ANSI overflow-checked bigints), and the
    per-shingle hashing cost is constant in N_HASHES — the difference
    between 1 and N_HASHES md5 evaluations per shingle across 100 TB.

    Reps with an empty shingle set produce no row (explode of an empty
    array yields nothing) — identical to the per-doc semantics the
    round-1 implementation had."""

    return _cached(
        spark, sf_dir, "minhash_sigs",
        lambda: minhash_from_rep_base(_reps(spark, sf_dir)),
    )


def exploded_shingles_from_toks(
    df: DataFrame, key_cols: list[str], tok_col: str = "toks"
) -> DataFrame:
    """(keys, toks) → (keys, s): one row per shingle POSITION, built
    entirely from codegen expressions — slice + arrays_zip + explode +
    concat_ws — instead of materializing the shingle array through the
    interpreted transform() lambda (CodegenFallback, the measured CPU
    floor of the signature build; see SCALING.md). Positions are NOT
    deduplicated: every downstream consumer here aggregates with min,
    which is multiset-insensitive, so the values — and the oracle
    hashes — are unchanged. Docs too short to shingle drop out."""
    n = F.size(F.col(tok_col))
    width = n - (SHINGLE_W - 1)
    z = F.arrays_zip(
        *[
            F.slice(F.col(tok_col), i + 1, width).alias(f"w{i}")
            for i in range(SHINGLE_W)
        ]
    )
    return (
        df.filter(n >= SHINGLE_W)
        .select(*key_cols, F.explode(z).alias("z"))
        .select(
            *key_cols,
            F.concat_ws(" ", *[f"z.w{i}" for i in range(SHINGLE_W)]).alias("s"),
        )
    )


def minhash_from_rep_base(base: DataFrame) -> DataFrame:
    """(doc_id, lang, fingerprint, toks) → + mh0..mhN signature
    columns. Rows with too few tokens to shingle drop out."""
    sh = exploded_shingles_from_toks(base, ["doc_id", "lang", "fingerprint"])
    h = sh.select(
        "doc_id", "lang", "fingerprint",
        F.md5(F.encode(F.col("s"), "UTF-8")).alias("hx"),
    ).select(
        "doc_id", "lang", "fingerprint",
        F.conv(F.substring("hx", 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring("hx", 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]
    return h.groupBy("doc_id", "lang", "fingerprint").agg(*aggs)


def _sig_cte(src: str) -> str:
    """DuckDB CTE chain computing per-row MinHash signatures over any
    source relation with (doc_id, text) columns."""
    return f"""shingled AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS s
  FROM {src} WHERE len({_SHINGLES_DUCK}) > 0
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
  FROM shingled
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(h1 + {i} * h2) AS mh{i}" for i in range(N_HASHES))}
  FROM hashed GROUP BY doc_id
)"""


# exact-dedup representatives: one doc (min id) per (lang, text) —
# the relation every near-dup oracle runs over, mirroring the Spark
# side's rep collapse
_REPS_DUCK_CTE = (
    "reps AS (SELECT lang, min(doc_id) AS doc_id, text "
    "FROM documents GROUP BY lang, text)"
)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOC signatures (the round-1 contract): rep signatures joined
    back to members on the exact-dup group key. Identical output —
    a signature is a function of the text alone — but the md5-per-
    shingle work runs once per unique text, not once per copy."""
    sigs = _rep_signatures(spark, sf_dir).drop("doc_id")
    m = _members(spark, sf_dir)
    return m.join(sigs, ["lang", "fingerprint"]).select(
        "doc_id", *[f"mh{i}" for i in range(N_HASHES)]
    )


MINHASH_SIGNATURES_SQL = f"WITH {_sig_cte('documents')}\nSELECT * FROM sigs"


_PROBE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _pairs_within_groups(
    keyed: DataFrame,
    group_cols: list[str],
    cap: int = BUCKET_CAP,
    salt: int = PAIR_SALT,
    probe_key: tuple | None = None,
) -> DataFrame:
    """(group, doc_id) → all (doc_a < doc_b) pairs co-occurring in any
    group, deduplicated — with BOUNDED row width.

    Two regimes, split by bucket size — but the split is ADAPTIVE: a
    map-side-combined count aggregate finds the oversize keys (≤ N/cap
    groups by construction — none at all unless the corpus is
    adversarial, since exact-dup mass is collapsed to reps upstream),
    and a driver-side emptiness probe on that tiny result (the bounded-
    metadata collect pattern, like the IVF probe-cell ids) picks the
    plan: with NO oversize buckets the operator is the round-1
    single-wide-exchange plan (groupBy collect_set → chained explodes,
    nothing else); with oversize buckets present the keys broadcast
    back as anti/semi filters and the oversize mass takes the salted
    join. Round 2 derived sizes with a windowed count on every call —
    its global sort plus the always-present second branch tripled the
    operator's wall time at sf0.1 (4.2s vs 1.3s measured); the probe
    costs one narrow aggregation job and removes all split machinery
    from the common path:

    * size ≤ cap — in-row expansion: collect the bucket's ids into one
      array (≤ cap elements, tens of KB at worst) and expand with two
      chained explodes, so no row ever holds the k² pair set — after
      the first (pos)explode each row carries one anchor plus the O(k)
      id array, and the second explode streams its suffix. One
      aggregation, no join, the upstream plan computed once.

    * size > cap — salted triangular self-join: each oversize bucket's
      rows are chunked by hash(doc_id) % salt; the left side replicates
      each row to chunk-pair keys (own_chunk, j≥own_chunk), the right
      side to (i≤own_chunk, own_chunk), and an equi-join on (group,
      i, j) lands every chunk pair — including the diagonal — in its
      own task. A 10^7-doc bucket becomes ~salt²/2 parallel tasks of
      O((k/salt)²) streamed pairs each with O(1) row width, instead of
      one multi-GB collected array (the round-1 OOM risk) or one
      straggler task (a plain bucket equi-join puts the whole bucket
      in a single hash partition). Output volume is inherent to the
      pair contract; what's bounded is per-row and per-task width.

    The trailing distinct dedups pairs that co-occur in several groups
    (and the diagonal chunk's double match) — present in round 1 too.

    NULL group keys form a group (SQL GROUP-BY semantics): each key is
    normalized to (coalesced value, isnull flag) before the split, so a
    massive NULL-keyed bucket reaches the salted path like any other —
    the plain anti/semi equi-joins would never match NULL and the cap
    would silently not apply to it. Keys must be string or numeric.

    ``probe_key``: the oversize probe is one narrow job, but it runs at
    plan-construction time on every call; for session-stable corpora
    (the registered sf_dir queries) callers pass a key and the verdict
    is memoized per session — same lifetime/invalidation contract as
    ``_CORPUS_CACHE``. Per-batch callers (streaming) pass None."""
    safe_cols: list = []
    wide_group_cols: list[str] = []
    for c in group_cols:
        dt = keyed.schema[c].dataType
        if isinstance(dt, T.StringType):
            default = F.lit("")
        elif isinstance(dt, T.NumericType):
            default = F.lit(0).cast(dt)
        else:
            raise ValueError(f"group col {c!r} must be string or numeric, got {dt}")
        safe_cols += [
            F.coalesce(F.col(c), default).alias(c),
            F.isnull(c).alias(f"{c}__isnull"),
        ]
        wide_group_cols += [c, f"{c}__isnull"]
    keyed = keyed.select(*safe_cols, "doc_id")
    group_cols = wide_group_cols
    big_keys = (
        keyed.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > cap)
        .select(*group_cols)
    )
    # driver-side probe: does ANY bucket exceed the cap? One narrow
    # (key, partial-count) aggregation job; the result pulled is at
    # most one row. This is plan-selection metadata, not data movement.
    if probe_key is not None:
        cache = _PROBE_CACHE.setdefault(keyed.sparkSession, {})
        has_oversize = cache.get(probe_key)
        if has_oversize is None:
            has_oversize = bool(big_keys.limit(1).count())
            cache[probe_key] = has_oversize
    else:
        has_oversize = bool(big_keys.limit(1).count())

    if not has_oversize:
        small = keyed
    else:
        small = keyed.join(F.broadcast(big_keys), group_cols, "left_anti")
    grouped = small.groupBy(*group_cols).agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    anchored = grouped.filter(F.size("ids") > 1).select(
        "ids", F.posexplode("ids").alias("i", "doc_a")
    )
    small_pairs = anchored.select(
        "doc_a",
        F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("doc_b"),
    )

    if not has_oversize:
        return small_pairs.distinct()

    big = keyed.join(F.broadcast(big_keys), group_cols, "left_semi").withColumn(
        "ck", F.pmod(F.hash("doc_id"), F.lit(salt))
    )
    left = big.select(
        *group_cols,
        F.col("doc_id").alias("da"),
        F.col("ck").alias("ci"),
        F.explode(F.sequence(F.col("ck"), F.lit(salt - 1))).alias("cj"),
    )
    right = big.select(
        *[F.col(c).alias(f"rg_{c}") for c in group_cols],
        F.col("doc_id").alias("db"),
        F.col("ck").alias("rcj"),
        F.explode(F.sequence(F.lit(0), F.col("ck"))).alias("rci"),
    )
    cond = reduce(
        lambda a, b: a & b,
        [left[c] == right[f"rg_{c}"] for c in group_cols]
        + [left["ci"] == right["rci"], left["cj"] == right["rcj"],
           left["da"] != right["db"]],
    )
    big_pairs = left.join(right, cond).select(
        F.least("da", "db").alias("doc_a"), F.greatest("da", "db").alias("doc_b")
    )

    return small_pairs.unionByName(big_pairs).distinct()


def _prefix_len(t: float) -> "F.Column":
    """AllPairs prefix length n − ⌈t·n⌉ + 1 of a sorted set of size
    ``n`` (column ``n``) in exact integers, ``t`` taken in whole tenths
    like the candidate filter's certificates: two sets with J ≥ t share
    an element among their first that-many entries. The double form
    ⌊(1−t)·n⌋ + 1 can land one short when (1−t)·n is a whole number
    (t = 0.8: 1 instead of 2 at n = 5, 2 instead of 3 at n = 10) and
    lose pairs at J = t."""
    return F.expr(f"CAST(n - (n * {round(t * 10)} + 9) div 10 + 1 AS INT)")


def _prefix_filtered_candidates(
    d: DataFrame,
    block_cols: list[str],
    t: float,
    probe_key: tuple | None = None,
    cap: int = BUCKET_CAP,
    salt: int = PAIR_SALT,
) -> DataFrame:
    """AllPairs prefix-index candidates with BOTH lossless prune bounds
    applied before the set verify (Bayardo et al. WWW'07 size bound;
    Xiao et al. WWW'08 PPJoin positional bound):

      length:     J ≤ min(na,nb)/max(na,nb), so J ≥ t requires
                  10·min ≥ tq·max  (tq = 10t, exact for the registered
                  thresholds 0.7/0.8)
      positional: no common shingle precedes the FIRST shared prefix
                  shingle w* — any common u < w* sits before w* in both
                  sorted arrays, hence inside both prefixes, and would
                  itself be the first shared entry — so
                  overlap ≤ 1 + min(na−ia*−1, nb−ib*−1) with ia*/ib*
                  w*'s 0-based ranks, and J ≥ t ⟺ (10+tq)·overlap ≥
                  tq·(na+nb). Integer certificates: no ratio of set
                  sizes falls strictly between double(t) and rational
                  tq/10 (the r10 length-bound argument), so the integer
                  tests agree exactly with the float verify.

    ``d``: (doc_id, *block_cols, n, prefix) with ``prefix`` the first
    ``_prefix_len(t)`` elements of the array_sort'ed shingle set. Returns
    (doc_a < doc_b, na, nb), deduplicated. min(ia)/min(ib) over a
    pair's shared prefix entries BOTH land on w* (prefix rank order =
    shingle order), so the aggregate never needs the shingle itself.
    Same two-regime bucket expansion and memoized oversize probe as
    ``_pairs_within_groups``, with (n, i) riding as payload."""
    idx = d.select(
        *block_cols, "doc_id", "n", F.posexplode("prefix").alias("i", "p")
    )
    group_cols = [*block_cols, "p"]
    safe_cols: list = []
    wide_group_cols: list[str] = []
    for c in group_cols:
        dt = idx.schema[c].dataType
        if isinstance(dt, T.StringType):
            default = F.lit("")
        elif isinstance(dt, T.NumericType):
            default = F.lit(0).cast(dt)
        else:
            raise ValueError(f"group col {c!r} must be string or numeric, got {dt}")
        safe_cols += [
            F.coalesce(F.col(c), default).alias(c),
            F.isnull(c).alias(f"{c}__isnull"),
        ]
        wide_group_cols += [c, f"{c}__isnull"]
    keyed = idx.select(*safe_cols, "doc_id", "n", "i")
    group_cols = wide_group_cols
    big_keys = (
        keyed.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > cap)
        .select(*group_cols)
    )
    if probe_key is not None:
        cache = _PROBE_CACHE.setdefault(keyed.sparkSession, {})
        has_oversize = cache.get(probe_key)
        if has_oversize is None:
            has_oversize = bool(big_keys.limit(1).count())
            cache[probe_key] = has_oversize
    else:
        has_oversize = bool(big_keys.limit(1).count())

    if not has_oversize:
        small = keyed
    else:
        small = keyed.join(F.broadcast(big_keys), group_cols, "left_anti")
    # struct ordered by doc_id (unique within a bucket: shingle sets are
    # element-distinct, one prefix entry per doc) → array_sort gives the
    # triangular a<b expansion of _pairs_within_groups with payload.
    grouped = small.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n", "i"))).alias("xs")
    )
    anchored = grouped.filter(F.size("xs") > 1).select(
        "xs", F.posexplode("xs").alias("k", "xa")
    )
    small_matches = anchored.select(
        F.col("xa.doc_id").alias("doc_a"),
        F.col("xa.n").alias("na"),
        F.col("xa.i").alias("ia"),
        F.explode(F.slice("xs", F.col("k") + 2, F.size("xs"))).alias("xb"),
    ).select(
        "doc_a", "na", "ia",
        F.col("xb.doc_id").alias("doc_b"),
        F.col("xb.n").alias("nb"),
        F.col("xb.i").alias("ib"),
    )

    if has_oversize:
        big = keyed.join(F.broadcast(big_keys), group_cols, "left_semi").withColumn(
            "ck", F.pmod(F.hash("doc_id"), F.lit(salt))
        )
        left = big.select(
            *group_cols,
            F.struct(
                F.col("doc_id").alias("doc_id"), F.col("n").alias("n"),
                F.col("i").alias("i"),
            ).alias("xa"),
            F.col("ck").alias("ci"),
            F.explode(F.sequence(F.col("ck"), F.lit(salt - 1))).alias("cj"),
        )
        right = big.select(
            *[F.col(c).alias(f"rg_{c}") for c in group_cols],
            F.struct(
                F.col("doc_id").alias("doc_id"), F.col("n").alias("n"),
                F.col("i").alias("i"),
            ).alias("xb"),
            F.col("ck").alias("rcj"),
            F.explode(F.sequence(F.lit(0), F.col("ck"))).alias("rci"),
        )
        cond = reduce(
            lambda a, b: a & b,
            [left[c] == right[f"rg_{c}"] for c in group_cols]
            + [left["ci"] == right["rci"], left["cj"] == right["rcj"],
               left["xa"]["doc_id"] != right["xb"]["doc_id"]],
        )
        lo = F.when(
            F.col("xa.doc_id") < F.col("xb.doc_id"), F.col("xa")
        ).otherwise(F.col("xb"))
        hi = F.when(
            F.col("xa.doc_id") < F.col("xb.doc_id"), F.col("xb")
        ).otherwise(F.col("xa"))
        big_matches = (
            left.join(right, cond)
            .select(lo.alias("lo"), hi.alias("hi"))
            .select(
                F.col("lo.doc_id").alias("doc_a"), F.col("lo.n").alias("na"),
                F.col("lo.i").alias("ia"),
                F.col("hi.doc_id").alias("doc_b"), F.col("hi.n").alias("nb"),
                F.col("hi.i").alias("ib"),
            )
        )
        small_matches = small_matches.unionByName(big_matches)

    tq = round(t * 10)
    # per-match-row pre-filter BEFORE the pair-grain exchange (§2.3 —
    # shuffle fewer rows): the length bound, plus the GENERAL positional
    # bound valid for ANY shared token w at ranks (ia, ib) — common
    # tokens before w number at most min(ia, ib), so
    # overlap ≤ min(ia,ib) + 1 + min(na−ia−1, nb−ib−1). Lossless for
    # the aggregate: a pair surviving the final (first-token) filter
    # has its w* row pass both per-row bounds (its tight bound is ≥ the
    # required overlap and the general bound only adds min(ia*,ib*) ≥ 0),
    # and every other surviving row has larger ia AND ib, so
    # min(ia)/min(ib) over survivors still land on w* — the aggregate
    # and final filter see identical values.
    matches = small_matches.filter(
        (F.least("na", "nb") * F.lit(10) >= F.greatest("na", "nb") * F.lit(tq))
        & (
            (F.lit(1) + F.least("ia", "ib")
             + F.least(F.col("na") - F.col("ia") - 1,
                       F.col("nb") - F.col("ib") - 1)) * F.lit(10 + tq)
            >= (F.col("na") + F.col("nb")) * F.lit(tq)
        )
    )
    pairs = matches.groupBy("doc_a", "doc_b").agg(
        F.min("na").alias("na"), F.min("nb").alias("nb"),
        F.min("ia").alias("ia"), F.min("ib").alias("ib"),
    )
    return pairs.filter(
        (F.least("na", "nb") * F.lit(10) >= F.greatest("na", "nb") * F.lit(tq))
        & (
            (F.lit(1) + F.least(F.col("na") - F.col("ia") - 1,
                                F.col("nb") - F.col("ib") - 1)) * F.lit(10 + tq)
            >= (F.col("na") + F.col("nb")) * F.lit(tq)
        )
    ).select("doc_a", "doc_b", "na", "nb")


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """sigs → (doc_id, band, bh): one row per (doc, band) with the
    band's bucket key. All bands in ONE pass over sigs (a union of
    per-band selects would re-plan — and recompute — the signature
    aggregation per branch)."""
    band_array = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", f"mh{2*b}", f"mh{2*b+1}").alias("bh"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_array).alias("bb")).select(
        "doc_id", "bb.band", "bb.bh"
    )


def jaccard_ppm(a_sh, b_sh):
    """Exact shingle-set Jaccard as a floor-half-up ppm integer (float
    round() differs across engines at exact .5 boundaries). Union size
    via |A|+|B|-|A∩B| (the arrays are element-distinct by
    construction) — same integers, same division, one array op per
    pair instead of three (r10); codegen CSE shares the intersect."""
    inter = F.size(F.array_intersect(a_sh, b_sh))
    j = inter / (F.size(a_sh) + F.size(b_sh) - inter)
    return (j, F.floor(j * 1_000_000 + 0.5).cast("bigint"))


def _band_pairs(sigs: DataFrame, probe_key: tuple | None = None) -> DataFrame:
    """LSH banding: bucket docs by each band's (mh pair) value →
    candidate pairs co-occurring in any bucket. The band value itself is
    the bucket key — no extra hashing needed."""
    return _pairs_within_groups(
        banded_signatures(sigs), ["band", "bh"], probe_key=probe_key
    )


_BANDS_DUCK_CTE = (
    "banded AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, mh{2*b} || '|' || mh{2*b+1} AS bh FROM sigs"
        for b in range(N_BANDS)
    )
    + "\n),\ncand AS (\n"
    "  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b\n"
    "  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh\n"
    "  WHERE l.doc_id < r.doc_id\n)"
)


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs among exact-dedup REPRESENTATIVES. Byte-identical
    duplicates never reach banding (they'd all collide into the same
    buckets — the guaranteed hot case); they are the exact_dedup
    stage's output, and doc_corpus_pipeline composes the two stages.

    Session-cached (r10): four registered queries consume this table
    (its own gate, neardup_pairs' verify, minhash_estimate's
    calibration, lsh_recall's captured side) — same materialize-once
    rationale as the neardup_pairs base; a production pipeline writes
    the candidate table once and runs every verifier off it. The grain
    is candidate pairs (corpus-linear by the banding bound), not a
    corpus blowup."""
    return _cached(
        spark, sf_dir, "lsh_cand_pairs",
        lambda: _band_pairs(_rep_signatures(spark, sf_dir),
                            probe_key=(sf_dir, "lsh")),
    )


LSH_CANDIDATE_PAIRS_SQL = (
    f"WITH {_REPS_DUCK_CTE},\n{_sig_cte('reps')},\n{_BANDS_DUCK_CTE}\nSELECT * FROM cand"
)


def neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH dedup over exact-dedup representatives:
    candidates from banding, verified with true shingle-Jaccard ≥
    threshold. Verification joins shingle sets only for candidate
    pairs — never quadratic — and the shingle arrays come from the
    persisted rep base, not a recomputed subtree.

    The verified pair table is itself a session-cached base (like
    reps/signatures): a production pipeline materializes pairs once
    and runs clustering, keep/drop policy, and reporting off that
    table — doc_neardup_clusters consumes this directly instead of
    regenerating candidates + verification per call."""
    return _cached(
        spark, sf_dir, "neardup_pairs",
        lambda: _neardup_pairs_build(spark, sf_dir),
    )


def _neardup_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _reps(spark, sf_dir)
    cand = lsh_candidate_pairs(spark, sf_dir)
    a = d.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    j = (
        cand.join(a, cand.doc_a == a.a_id)
        .join(b, cand.doc_b == b.b_id)
        .withColumn("ni", F.size(F.array_intersect("a_sh", "b_sh")))
        .select(
            "doc_a",
            "doc_b",
            # |A∪B| = |A|+|B|-|A∩B| (arrays element-distinct): same
            # integer operands, same division, fewer array allocations
            (
                F.col("ni")
                / (F.size("a_sh") + F.size("b_sh") - F.col("ni"))
            ).alias("jaccard"),
        )
    )
    # jaccard is an exact rational — emit as ppm integer (floor-half-up),
    # since float round() differs across engines at exact .5 boundaries
    return j.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * 1_000_000 + 0.5).cast("bigint").alias("jaccard_ppm"),
    )


NEARDUP_PAIRS_SQL = f"""WITH {_REPS_DUCK_CTE},
{_sig_cte('reps')},
{_BANDS_DUCK_CTE},
sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM reps)
SELECT doc_a, doc_b, CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_ppm FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
  FROM cand JOIN sh a ON cand.doc_a = a.doc_id
            JOIN sh b ON cand.doc_b = b.doc_id
) WHERE j >= {JACCARD_THRESHOLD}
"""


# Connected components ARE SQL-expressible in DuckDB: WITH RECURSIVE
# computes per-node reachability over the verified-pair edge list
# (UNION dedups rows, so the fixpoint terminates), and min(reachable)
# is exactly the min-label the Spark loop converges to. The quadratic
# reachability enumeration is oracle-only — fine at oracle SF, never
# the engine's plan (the Spark side stays the O(log diameter)
# propagation loop).
NEARDUP_CLUSTERS_SQL = f"""WITH RECURSIVE {_REPS_DUCK_CTE},
{_sig_cte('reps')},
{_BANDS_DUCK_CTE},
sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM reps),
vpairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) AS j
    FROM cand JOIN sh a ON cand.doc_a = a.doc_id
              JOIN sh b ON cand.doc_b = b.doc_id
  ) WHERE j >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM vpairs
),
reach(doc_id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.r FROM edges e JOIN reach w ON w.doc_id = e.dst
),
labels AS (SELECT doc_id, min(r) AS comp FROM reach GROUP BY doc_id)
SELECT comp AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM labels GROUP BY comp
"""


BLOCKED_JACCARD_T = 0.8


def blocked_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word-shingle) Jaccard similarity join within
    (lang) blocks over exact-dedup representatives, Jaccard ≥ 0.8 —
    implemented with AllPairs-style PREFIX FILTERING (Bayardo et al.,
    WWW'07): sort each shingle set under a global order; two sets with
    J ≥ t MUST share an element in their first n − ⌈t·n⌉ + 1 shingles, so
    candidates come from an inverted index over prefixes only. Exact
    over the rep relation (no qualifying pair is lost), and the
    candidate join is sparse — never the quadratic block cross-product
    (the DuckDB oracle runs the naive quadratic as the independent
    check)."""
    d = _reps(spark, sf_dir).select("doc_id", "lang", "sh")
    # no size()>0 filter: empty sets produce an empty prefix (no index
    # entries → never a candidate), and dropping it avoids Catalyst
    # re-inlining the shingle expression under a pushed-down predicate
    d = (
        d.withColumn("sh", F.array_sort("sh"))
        .withColumn("n", F.size("sh"))
        .withColumn(
            "prefix",
            F.slice("sh", 1, _prefix_len(BLOCKED_JACCARD_T)),
        )
    )
    # r11: length + PPJoin positional prune on the same prefix index —
    # lossless (the trailing J ≥ t filter is the contract; both bounds
    # only discard pairs that provably fail it), fewer verify pairs.
    cand = _prefix_filtered_candidates(
        d, ["lang"], BLOCKED_JACCARD_T, probe_key=(sf_dir, "jacc_prefix")
    ).select("doc_a", "doc_b")
    sets = d.select("doc_id", "lang", "sh")
    a = sets.select(
        F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"),
        F.col("sh").alias("a_sh"),
    )
    b = sets.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    j = (
        cand.join(a, cand.doc_a == a.a_id)
        .join(b, cand.doc_b == b.b_id)
        .withColumn("ni", F.size(F.array_intersect("a_sh", "b_sh")))
        .select(
            "doc_a",
            "doc_b",
            F.col("a_lang").alias("lang"),
            # |A∪B| = |A|+|B|-|A∩B| (arrays element-distinct): same
            # integer operands, fewer array allocations (r10)
            (
                F.col("ni")
                / (F.size("a_sh") + F.size("b_sh") - F.col("ni"))
            ).alias("j"),
        )
    )
    return j.filter(F.col("j") >= BLOCKED_JACCARD_T).select(
        "doc_a",
        "doc_b",
        "lang",
        F.floor(F.col("j") * 1_000_000 + 0.5).cast("bigint").alias("jaccard_ppm"),
    )


BLOCKED_JACCARD_PAIRS_SQL = f"""
WITH {_REPS_DUCK_CTE},
t AS (
  SELECT doc_id, lang, {_SHINGLES_DUCK} AS sh FROM reps
  WHERE len({_SHINGLES_DUCK}) > 0
)
SELECT doc_a, doc_b, lang, CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_ppm FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
         len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
) WHERE j >= {BLOCKED_JACCARD_T}
"""


# --- near-dup clusters (connected components) -------------------------------


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the verified
    near-dup pair graph via iterative min-label propagation — the step a
    real dedup pipeline runs after pair generation (keep one doc per
    component). Genuinely iterative (not SQL-expressible without
    recursive aggregation), so this query has no DuckDB oracle and takes
    the driver's rows-only check.

    Scale: near-dup components are tiny (pairs are ≥ threshold similar),
    so the propagation converges in O(log(diameter)) rounds — each round
    is one groupBy over the edge list. The loop is DRIVER-side control
    flow only; all data stays distributed. Convergence is checked with a
    cheap changed-count aggregate; localCheckpoint truncates the
    growing lineage each round (the standard iterative-algorithm
    pattern on Spark)."""
    pairs = neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # undirected edges (both directions); no self-loops needed — the
    # least(own, neighbor-min) in the propagation step covers the
    # keep-own-label case
    # lazy checkpoints (r10): round 1's changed-count job materializes
    # edges AND the initial labels through its lineage — the kcore
    # one-job-per-round treatment; both tables are read every round
    # afterwards from the checkpointed blocks
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    while True:
        # candidate label per node = min(own, min over neighbors' labels)
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
                (F.col("ncomp") < F.col("comp")).alias("changed"),
            )
            # lazy: the changed-count below materializes it — one job
            # per propagation round instead of two (r10)
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("changed").count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    return (
        labels.groupBy("comp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            # comma-joined string, not an array column: the driver's
            # rows-only canonicalizer sorts result columns through pandas,
            # which cannot hash list cells — scalar columns only at the
            # query-registry surface
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("members"),
        )
        .select(F.col("comp").alias("cluster_id"), "n_docs", "keep_doc_id", "members")
    )


# --- SimHash ---------------------------------------------------------------
#
# 32-bit simhash built from the first 8 hex chars of each token's md5
# (4 bits per hex char via strpos arithmetic — no hex→int builtin is
# needed, keeping both engines identical).

_HEX = "0123456789abcdef"


def _rep_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-REP simhash: one row per (rep, distinct token) with the
    token's 32-bit hash as an integer (conv hex→long), then ALL 32
    bit-votes as columnar aggregates in a single groupBy — no 32× row
    explosion, no second shuffle. At 100 TB this is one map-side-
    combined exchange on doc_id over the (already deduped) token
    stream; the 32 sums vectorize in codegen.

    Bit mapping matches the oracle's nibble arithmetic: hex char j holds
    bits 4j..4j+3 with bit = (nibble >> (b%4)) & 1, and conv() parses
    char 0 as the HIGH nibble, so bit b lives at integer position
    28 - 4*(b div 4) + (b % 4)."""

    def build() -> DataFrame:
        toks = _reps(spark, sf_dir).select(
            "doc_id", "lang", "fingerprint",
            F.explode(F.array_distinct("toks")).alias("tok"),
        ).select(
            "doc_id", "lang", "fingerprint",
            F.conv(F.substring(F.md5(F.encode("tok", "UTF-8")), 1, 8), 16, 10)
            .cast("long")
            .alias("v"),
        )
        votes = [
            F.sum(
                F.shiftright(F.col("v"), 28 - 4 * (b // 4) + b % 4)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"vote{b}")
            for b in range(32)
        ]
        agg = toks.groupBy("doc_id", "lang", "fingerprint").agg(*votes)
        sig = F.lit(0).cast("long")
        for b in range(32):
            sig = sig + F.when(
                F.col(f"vote{b}") > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return agg.select("doc_id", "lang", "fingerprint", sig.alias("simhash"))

    return _cached(spark, sf_dir, "simhash_sigs", build)


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOC simhash (the round-1 contract): rep simhash joined back
    to members — a signature is a function of the text alone, so the
    output is identical while hashing runs once per unique text."""
    sigs = _rep_simhash(spark, sf_dir).drop("doc_id")
    return (
        _members(spark, sf_dir)
        .join(sigs, ["lang", "fingerprint"])
        .select("doc_id", "simhash")
    )


def _simhash_sql(src: str) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS_DUCK})) AS tok FROM {src}
), hashed AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, r.range AS bit,
         ((strpos('{_HEX}', substr(h, CAST(r.range // 4 AS INT) + 1, 1)) - 1)
          >> CAST(r.range % 4 AS INT)) & 1 AS b
  FROM hashed CROSS JOIN range(32) r
), votes AS (
  SELECT doc_id, bit, sum(b * 2 - 1) AS vote FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


SIMHASH_SIGNATURES_SQL = _simhash_sql("documents")


SIMHASH_HD_MAX = 3
_SIMHASH_BANDS = 4  # 4 bands × 8 bits; pigeonhole: hd ≤ 3 ⇒ ≥1 band equal


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ 3, among
    exact-dedup representatives (byte-identical mass — hd 0 by
    definition — is exact_dedup's output, not a pair explosion here).

    Candidate generation is banded (4×8-bit bands of the 32-bit
    signature): pairs join only inside equal (band_id, band_value)
    buckets — a plain equi-shuffle, never an all-pairs product — and by
    pigeonhole the recall at hd ≤ 3 is EXACT, not approximate. At 100 TB
    the knob is band count/width (k bands of w bits gives exact recall
    for hd < k over a k·w-bit signature); occupancy per bucket stays
    bounded because a band value is 8 uniform bits per ~256 reps.
    """
    # sigs come from the persisted rep-simhash base — the self-join
    # below scans the cached table twice instead of recomputing the
    # signature aggregation on both sides (round 1 needed an explicit
    # localCheckpoint for this; the session cache subsumes it).
    # In-bucket pair expansion (_pairs_within_groups) would avoid the
    # join entirely but serializes each bucket into one task — the heavy
    # near-dup clusters in this corpus make that a straggler (measured
    # slower); the equi-join keeps hot buckets parallel.
    sigs = _rep_simhash(spark, sf_dir).select("doc_id", "simhash")
    band = F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BANDS - 1))).alias("band_id")
    bands = sigs.select("doc_id", "simhash", band).withColumn(
        "band_val", F.expr("shiftright(simhash, CAST(8 * band_id AS INT)) & 255")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sig_a"),
        "band_id", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sig_b"),
        F.col("band_id").alias("band_id_b"), F.col("band_val").alias("band_val_b"),
    )
    hd = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (
        a.join(
            b,
            (a.band_id == b.band_id_b)
            & (a.band_val == b.band_val_b)
            & (a.doc_id_a < b.doc_id_b),
        )
        # Hamming filter BEFORE the pair-dedup: hd depends only on the
        # pair, so filter∘distinct ≡ distinct∘filter — but filtering
        # first means the distinct's shuffle carries only the (sparse)
        # near-dup rows, not every banded collision with both 64-bit
        # signatures (measured ~10% at sf0.1; the gap widens with band
        # collision rate, i.e. with corpus size)
        .filter(hd <= SIMHASH_HD_MAX)
        .select("doc_id_a", "doc_id_b", hd.alias("hamming_distance"))
        .distinct()  # a pair may share several bands
    )


SIMHASH_NEARDUP_PAIRS_SQL = f"""
WITH {_REPS_DUCK_CTE},
sigs AS ({_simhash_sql('reps')}),
bands AS (
  SELECT doc_id, simhash, r.range AS band_id,
         (simhash >> CAST(8 * r.range AS INT)) & 255 AS band_val
  FROM sigs CROSS JOIN range({_SIMHASH_BANDS}) r
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                  a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b,
       bit_count(xor(sig_a, sig_b)) AS hamming_distance
FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HD_MAX}
"""


# --- sorted-neighborhood blocking --------------------------------------------

SN_WINDOW = 3  # successors compared per doc


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernández & Stolfo's
    merge/purge method): canonicalize each doc to a SORT KEY (its
    sorted distinct token set as one string — reordered/duplicated-word
    variants key identically), sort per language, and compare each doc
    to only its SN_WINDOW successors with exact shingle Jaccard. The
    blocking FAMILY complement to LSH banding: no hashing — similarity
    must show up as sort-key adjacency — with cost = one distributed
    sort + W comparisons per doc instead of banding's hash shuffles.
    Classic trade-off (documented, not hidden): near-dups whose edit is
    in the leading tokens of the key can sort far apart and be missed,
    which is why production systems run multiple passes with different
    keys; this operator is one pass with the canonical key.

    Scale: the sort is a distributed range sort; the comparison window
    partitions by lang — at 100 TB partition by (lang, key-prefix) so
    no window partition outgrows a task (neighbors across a prefix
    boundary are the standard multi-pass overlap concern). Docs too
    short to shingle carry no comparison evidence and are excluded up
    front — which also keeps the Jaccard denominator nonzero (the ANSI
    zero-divisor rule)."""
    from pyspark.sql import Window

    p = spark.sparkContext.defaultParallelism
    d = io.load(spark, sf_dir, "documents").repartition(p, "doc_id")
    # localCheckpoint BEFORE the filter: predicate pushdown would sink
    # `size(sh) > 0` below the repartition, re-evaluating the whole
    # interpreted shingle expression on the narrow pre-exchange scan
    # (one core for a small parquet — the _with_shingles pathology;
    # seen in-plan as a Filter under the Exchange, measured 4.8 s of a
    # 5.6 s query). The barrier pins tokenize/shingle to the 32-way
    # stage and the filter runs on materialized arrays. sort_array, not
    # array_sort: same ascending order, but array_sort carries a
    # comparator lambda while sort_array is a plain codegen expression.
    base = (
        d.select("doc_id", "lang", F.expr(_TOKENS_SPARK).alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.array_join(F.sort_array(F.array_distinct("toks")), " ").alias("skey"),
            F.expr(_SHINGLES_FROM_TOKS_SPARK).alias("sh"),
        )
        .localCheckpoint(eager=False)
        .filter(F.size("sh") > 0)
    )
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    ks = range(1, SN_WINDOW + 1)
    leads = base.select(
        "doc_id",
        "sh",
        *[F.lead("doc_id", k).over(w).alias(f"_id{k}") for k in ks],
        *[F.lead("sh", k).over(w).alias(f"_sh{k}") for k in ks],
    )
    nbrs = leads.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"_id{k}").alias("n_id"), F.col(f"_sh{k}").alias("n_sh")
                    )
                    for k in ks
                ]
            )
        ).alias("nb"),
    ).filter(F.col("nb.n_id").isNotNull())
    j, ppm = jaccard_ppm(F.col("sh"), F.col("nb.n_sh"))
    return (
        nbrs.withColumn("_j", j)
        .filter(F.col("_j") >= JACCARD_THRESHOLD)
        .select(
            F.least("doc_id", F.col("nb.n_id")).alias("doc_a"),
            F.greatest("doc_id", F.col("nb.n_id")).alias("doc_b"),
            ppm.alias("jaccard_ppm"),
        )
    )


_SN_LEADS = ",\n         ".join(
    f"lead(doc_id, {k}) OVER w AS id{k}, lead(sh, {k}) OVER w AS sh{k}"
    for k in range(1, SN_WINDOW + 1)
)

_SN_PAIR_SELECTS = "\n  UNION ALL\n".join(
    f"""  SELECT doc_id, sh, id{k} AS n_id, sh{k} AS n_sh FROM leads WHERE id{k} IS NOT NULL"""
    for k in range(1, SN_WINDOW + 1)
)

SORTED_NEIGHBORHOOD_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_DUCK} AS toks, {_SHINGLES_DUCK} AS sh FROM documents
), base AS (
  SELECT doc_id, lang,
         array_to_string(list_sort(list_distinct(toks)), ' ') AS skey, sh
  FROM t WHERE len(sh) > 0
), leads AS (
  SELECT doc_id, sh,
         {_SN_LEADS}
  FROM base
  WINDOW w AS (PARTITION BY lang ORDER BY skey, doc_id)
), nbrs AS (
{_SN_PAIR_SELECTS}
)
SELECT least(doc_id, n_id) AS doc_a, greatest(doc_id, n_id) AS doc_b,
       CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_ppm
FROM (
  SELECT doc_id, n_id,
         len(list_intersect(sh, n_sh))::DOUBLE
           / len(list_distinct(list_concat(sh, n_sh))) AS j
  FROM nbrs
) WHERE j >= {JACCARD_THRESHOLD}
"""


# --- MinHash estimator calibration -------------------------------------------

_EST_STEP = 1_000_000 // N_HASHES  # ppm per matching component


def minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash pipeline: for every LSH
    candidate pair, the SIGNATURE-based Jaccard estimate (matching
    components / N_HASHES — what a signature-only store can compute)
    next to the EXACT shingle Jaccard and their absolute error. This is
    the measurement that justifies — or refutes — replacing the exact
    verify with the estimate at a given N_HASHES. Two effects surface:
    the 1e6/N_HASHES granularity, and — larger in practice — the
    Carter-Wegman components (mh_i = min(h1 + i·h2)) being CORRELATED,
    not independent permutations: a pair sharing its argmin shingle
    under h1 tends to match on many i at once, so chance band
    collisions can carry wildly inflated estimates (measured: mean
    |err| ≈ 0.55e6 ppm over raw candidates at sf0.001). That is
    precisely why the engine keeps shingle arrays in the store and
    verifies EXACTLY (streaming_neardup docstring); a 100 TB deployment
    weighing store size against verification cost reads this table
    first.

    Deterministic end to end (signatures are md5-derived, estimates are
    exact 1e6/N_HASHES multiples, exact Jaccard is ppm-floored), so it
    carries a full hash oracle. Cost: candidates only — the signature
    and shingle joins are the same shape as the verify step."""
    cand = lsh_candidate_pairs(spark, sf_dir)
    mh = [f"mh{i}" for i in range(N_HASHES)]
    s = _rep_signatures(spark, sf_dir)
    a = s.select(F.col("doc_id").alias("a_id"), *[F.col(c).alias(f"a_{c}") for c in mh])
    b = s.select(F.col("doc_id").alias("b_id"), *[F.col(c).alias(f"b_{c}") for c in mh])
    n_match = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in mh
    )
    d = _reps(spark, sf_dir)
    sha = d.select(F.col("doc_id").alias("sa_id"), F.col("sh").alias("a_sh"))
    shb = d.select(F.col("doc_id").alias("sb_id"), F.col("sh").alias("b_sh"))
    j, ppm = jaccard_ppm(F.col("a_sh"), F.col("b_sh"))
    return (
        cand.join(a, cand.doc_a == a.a_id)
        .join(b, cand.doc_b == b.b_id)
        .join(sha, F.col("doc_a") == F.col("sa_id"))
        .join(shb, F.col("doc_b") == F.col("sb_id"))
        .select(
            "doc_a",
            "doc_b",
            (n_match * _EST_STEP).cast("bigint").alias("est_ppm"),
            ppm.alias("exact_ppm"),
        )
        .withColumn("err_ppm", F.abs(F.col("est_ppm") - F.col("exact_ppm")))
    )


_EST_MATCHES_DUCK = " + ".join(
    f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)

MINHASH_ESTIMATE_SQL = f"""WITH {_REPS_DUCK_CTE},
{_sig_cte('reps')},
{_BANDS_DUCK_CTE},
sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM reps)
SELECT doc_a, doc_b,
       CAST(({_EST_MATCHES_DUCK}) * {_EST_STEP} AS BIGINT) AS est_ppm,
       CAST(floor(len(list_intersect(x.sh, y.sh))::DOUBLE
                  / len(list_distinct(list_concat(x.sh, y.sh))) * 1000000 + 0.5)
            AS BIGINT) AS exact_ppm,
       CAST(abs(({_EST_MATCHES_DUCK}) * {_EST_STEP}
                - floor(len(list_intersect(x.sh, y.sh))::DOUBLE
                        / len(list_distinct(list_concat(x.sh, y.sh))) * 1000000 + 0.5))
            AS BIGINT) AS err_ppm
FROM cand
JOIN sigs a ON cand.doc_a = a.doc_id
JOIN sigs b ON cand.doc_b = b.doc_id
JOIN sh x ON cand.doc_a = x.doc_id
JOIN sh y ON cand.doc_b = y.doc_id
"""


# --- LSH recall contract ------------------------------------------------------


def lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-side accuracy contract, mirroring embed_ann_recall's
    role for the ANN family: recall of the banded MinHash-LSH
    candidate stage against the EXACT set of rep pairs with true
    shingle Jaccard ≥ JACCARD_THRESHOLD. The ground truth is computed
    LOSSLESSLY with AllPairs prefix filtering (Bayardo et al. WWW'07 —
    two sets with J ≥ t must share an element among the first
    n − ⌈t·n⌉ + 1 under a global order; the blocked_jaccard machinery at
    the LSH family's own threshold, no language blocking because the
    banding has none), so a missed pair can only be a BANDING miss —
    exactly what the contract must measure. One summary row:
    n_true_pairs, n_captured, recall_ppm (1e6 when there is nothing to
    miss — the vacuous-truth convention, exercised by the fuzz tier).

    Scale shape: the truth side is the prefix-filter candidate join
    (corpus-linear index, never the quadratic cross product — the
    quadratic lives only in the DuckDB oracle); the captured side is
    one left-semi join of truth against the banded candidate pairs
    (both ride the session-cached rep/signature bases); the two 1-row
    aggregates cross as a broadcast. At 100 TB the recall knob this
    table certifies is (N_BANDS, band width) vs threshold — the
    measurement a deployment reads before trading verification cost
    against banding selectivity."""
    d = _reps(spark, sf_dir).select("doc_id", "sh")
    d = (
        d.withColumn("sh", F.array_sort("sh"))
        .withColumn("n", F.size("sh"))
        .withColumn(
            "prefix",
            F.slice("sh", 1, _prefix_len(JACCARD_THRESHOLD)),
        )
    )
    # lossless LENGTH + POSITIONAL filters before the expensive set
    # verify (r11, VERDICT item 6): the size bound alone pruned 334k →
    # 172k pairs at sf0.1; the PPJoin positional bound rides the same
    # index (positions carried through the pair expansion, no extra
    # joins — the two r10 (doc_id, n) attach joins fold away too).
    cand = _prefix_filtered_candidates(
        d, [], JACCARD_THRESHOLD, probe_key=(sf_dir, "lshrecall_prefix")
    )
    a = d.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    # |A∪B| = na + nb − |A∩B| (shingle arrays are array_distinct by
    # construction): the verify evaluates ONE array_intersect per pair
    # instead of intersect + a concat/array_distinct allocation; the
    # division sees the identical integer operands, so the double — and
    # the oracle hash — are unchanged. na/nb ride along from the length
    # prune above instead of re-deriving sizes from the arrays.
    truth = (
        cand.join(a, cand.doc_a == a.a_id)
        .join(b, cand.doc_b == b.b_id)
        .withColumn("ni", F.size(F.array_intersect("a_sh", "b_sh")))
        .select(
            "doc_a", "doc_b",
            (F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))).alias("j"),
        )
        .filter(F.col("j") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        # two consumers below (captured semi-join + the truth count):
        # without the lazy checkpoint the whole candidate+verify
        # pipeline — the query's entire cost — appears TWICE in one
        # plan (measured: 49 Exchanges / 25 parquet scans in the r10
        # before-plan); materialize once per action instead
        .localCheckpoint(eager=False)
    )
    captured = truth.join(
        lsh_candidate_pairs(spark, sf_dir), ["doc_a", "doc_b"], "left_semi"
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    n_cap = captured.agg(F.count(F.lit(1)).cast("bigint").alias("n_captured"))
    return n_true.join(F.broadcast(n_cap)).select(
        "n_true_pairs", "n_captured",
        F.expr(
            "CASE WHEN n_true_pairs = 0 THEN CAST(1000000 AS BIGINT)"
            " ELSE n_captured * 1000000 div n_true_pairs END"
        ).alias("recall_ppm"),
    )


LSH_RECALL_SQL = f"""WITH {_REPS_DUCK_CTE},
{_sig_cte('reps')},
{_BANDS_DUCK_CTE},
sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM reps),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
cap AS (
  SELECT count(*) AS n_captured
  FROM truth t SEMI JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
tot AS (SELECT count(*) AS n_true_pairs FROM truth)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_captured AS BIGINT) AS n_captured,
       CAST(CASE WHEN n_true_pairs = 0 THEN 1000000
            ELSE n_captured * 1000000 // n_true_pairs END AS BIGINT)
         AS recall_ppm
FROM tot CROSS JOIN cap
"""


# --- edit-distance near-dup (PassJoin segment blocking) ----------------------

EDIT_T = 5  # max Levenshtein distance reported
EDIT_K = EDIT_T + 1  # segments per indexed string (pigeonhole: T edits
#                      cannot touch all T+1 segments)
EDIT_SHORT = 2 * EDIT_K  # strings below this length use the band path
#                          (segments would be 0-1 chars — all-collide keys)

_SEGS_EXPR = f"""
transform(sequence(0, {EDIT_K - 1}), i -> struct(
  i AS i,
  CAST((lb div {EDIT_K}) + IF(i >= {EDIT_K} - (lb % {EDIT_K}), 1, 0) AS INT) AS li,
  CAST(i * (lb div {EDIT_K})
       + greatest(0, i - ({EDIT_K} - (lb % {EDIT_K}))) AS INT) AS si))
"""


def _folded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached ASCII-folded (doc_id, ftext, flen) base (r10):
    edit_distance_pairs reads it from SEVEN plan positions (short/long
    candidate sides, the length dictionary, both verify sides) — the
    fold regex + repartition ran once per position; materialized it
    runs once per session."""
    def build():
        p = spark.sparkContext.defaultParallelism
        return (
            io.load(spark, sf_dir, "documents")
            .repartition(p, "doc_id")
            .select(
                "doc_id",
                F.regexp_replace("text", r"[^\x00-\x7F]", "\x7f").alias("ftext"),
            )
            .withColumn("flen", F.length("ftext"))
            .filter(F.col("flen").isNotNull())
        )

    return _cached(spark, sf_dir, "folded_docs", build)


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs: ALL unordered doc pairs with
    Levenshtein distance <= EDIT_T, found without an all-pairs scan —
    and, unlike plain length-band blocking, without the hot-band
    hazard: on a length-concentrated corpus (the dedup rehearsal's
    uniform 60-token docs, or any templated/log-like collection) every
    doc lands in ONE band and a band self-join goes quadratic.

    Candidate generation is PassJoin-style segment blocking (Li,
    Deng, Feng 2011): each indexed string splits into K = T+1 even
    segments; T edits cannot touch all K segments, so for any
    qualifying pair at least one segment of b survives INTACT in a,
    shifted by at most T (net indels) — the candidate join is a plain
    equi-join on (partner-length, segment-index, segment-content),
    probing each doc's substrings only at the <= 2T+1 allowed
    positions for each of the <= 2T+1 partner lengths THAT EXIST
    (broadcast length-dictionary semi-join prunes the rest). Content
    keys block as sharply as the text is diverse — same-length docs
    no longer collide unless they actually share a segment. Blocking
    is LOSSLESS (pigeonhole, no recall knob); the oracle implements
    the naive band join, so the hash gate itself certifies
    losslessness. Strings shorter than EDIT_SHORT (segments of 0-1
    chars would all-collide) take the band path, extended to their
    every possible partner length; the paths overlap rather than gap
    and a distinct() unifies them before the single verify pass.
    Honest bound: a corpus CONCENTRATED in sub-17-char docs (tweets,
    titles) re-creates the hot-band hazard inside the short path —
    there, collapse exact duplicates first (`exact_dedup` reps, as the
    LSH family does) so the band join sees distinct shorts only, and
    distinct short strings within a 5-char length band are
    alphabet-bounded rather than corpus-bounded.

    Distances are computed over the ASCII projection of the text
    (every non-ASCII codepoint folds to one 0x7F placeholder on both
    engines): Spark's levenshtein counts codepoints while DuckDB's
    counts bytes, and the projection makes those alphabets coincide
    for ANY input. NULL texts drop on both engines.

    Scale design: index side emits K rows/doc; probe side <=
    (existing lengths within T) x K x (2T+1) rows/doc — corpus-linear
    with a constant factor, never corpus^2; the verify is Spark's
    threshold-capped levenshtein (banded DP, O(len x T), early-exit
    -1) and runs once per DISTINCT surviving candidate pair."""
    d = _folded_docs(spark, sf_dir)

    # --- short path: band join among docs short enough to have
    # degenerate segments, extended to every possible partner length
    shorts = d.filter(F.col("flen") < EDIT_SHORT + EDIT_T)
    s_lhs = shorts.select(
        F.col("doc_id").alias("ida"),
        F.col("flen").alias("la"),
        F.expr(f"flen div {EDIT_T}").alias("band_a"),
        F.explode(
            F.array(
                F.expr(f"flen div {EDIT_T}"), F.expr(f"flen div {EDIT_T}") + F.lit(1)
            )
        ).alias("key"),
    )
    s_rhs = shorts.select(
        F.col("doc_id").alias("idb"),
        F.col("flen").alias("lb"),
        F.expr(f"flen div {EDIT_T}").alias("key"),
    )
    short_pairs = (
        s_lhs.join(s_rhs, "key")
        .filter(
            (
                (F.col("band_a") < F.col("key"))
                | ((F.col("band_a") == F.col("key")) & (F.col("ida") < F.col("idb")))
            )
            & (F.abs(F.col("la") - F.col("lb")) <= EDIT_T)
            # at least one side genuinely short — long×long belongs to
            # the segment path (overlap is harmless, distinct() unifies)
            & (F.least("la", "lb") < EDIT_SHORT)
        )
        .select(
            F.least("ida", "idb").alias("lo"), F.greatest("ida", "idb").alias("hi")
        )
    )

    # --- long path: PassJoin segment equi-join
    longs = d.filter(F.col("flen") >= EDIT_SHORT)
    lens = longs.select(F.col("flen").alias("lb")).distinct()
    build = (
        longs.select(
            F.col("doc_id").alias("idb"),
            F.col("ftext").alias("tb"),
            F.col("flen").alias("lb"),
        )
        .select(
            "idb", "tb", "lb", F.explode(F.expr(_SEGS_EXPR)).alias("g")
        )
        .select(
            "idb",
            "lb",
            F.col("g.i").alias("i"),
            F.xxhash64(F.expr("substring(tb, g.si + 1, g.li)")).alias("h"),
        )
    )
    # All probe keys for one (doc, partner-length) computed inside ONE
    # nested higher-order-function expression, then exploded once. The
    # previous three-generator chain (explode lengths → explode
    # segments → explode positions) carried the FULL document text
    # through every intermediate row — ~300 UnsafeRow copies of the
    # text per doc at the 2M rehearsal (~1.4e9 generated rows, the
    # measured bottleneck); here the text is copied once per existing
    # partner length (1 row/doc on a uniform-length corpus) and the
    # explode emits only fixed-width (i, h) structs. array_distinct
    # pre-dedups repeated keys (repeated text windows) BEFORE the
    # shuffle; the later pair-level distinct() stays as the contract.
    # Inner bindings via single-element transform-as-let: layer 1
    # binds the segment layout (li, si), layer 2 the tight probe
    # window [plo, phi] — |d| edits must precede the segment and
    # |d - (La-Lb)| must follow it, so |d| + |d-dl| <= T: at most T+1
    # probe positions (vs 2T+1 with the naive bound).
    _emit = (
        "transform(sequence(b.plo, b.phi), "
        "p -> struct(i AS i, xxhash64(substring(ta, p + 1, seg.li)) AS h))"
    )
    _guarded = f"IF(b.plo <= b.phi, {_emit}, array())"
    _bind_window = (
        "flatten(transform(array(named_struct("
        f"'plo', greatest(0, seg.si + least(0, la - lb)"
        f" - ({EDIT_T} - abs(la - lb)) div 2), "
        f"'phi', least(la - seg.li, seg.si + greatest(0, la - lb)"
        f" + ({EDIT_T} - abs(la - lb)) div 2)"
        f")), b -> {_guarded}))"
    )
    _bind_seg = (
        "flatten(transform(array(named_struct("
        f"'li', CAST((lb div {EDIT_K}) + IF(i >= {EDIT_K} - (lb % {EDIT_K}), 1, 0) AS INT), "
        f"'si', CAST(i * (lb div {EDIT_K}) + greatest(0, i - ({EDIT_K} - (lb % {EDIT_K}))) AS INT)"
        f")), seg -> {_bind_window}))"
    )
    probe_keys = (
        f"array_distinct(flatten(transform(sequence(0, {EDIT_K - 1}), i -> {_bind_seg})))"
    )
    probe = (
        longs.select(
            F.col("doc_id").alias("ida"),
            F.col("ftext").alias("ta"),
            F.col("flen").alias("la"),
            F.explode(
                F.sequence(F.col("flen") - EDIT_T, F.col("flen") + EDIT_T)
            ).alias("lb"),
        )
        .join(F.broadcast(lens), "lb")  # only partner lengths that exist
        # join on the segment's 8-byte hash, not its content: the
        # shuffle carries fixed-width keys instead of ~L/K-char
        # strings; a hash collision only creates a spurious candidate,
        # which the levenshtein verify kills
        .select("ida", "lb", F.explode(F.expr(probe_keys)).alias("g"))
        .select("ida", "lb", F.col("g.i").alias("i"), F.col("g.h").alias("h"))
    )
    long_pairs = (
        # hash-join with the SMALL side (K rows/doc) as build: Catalyst's
        # default sort-merge sorts the probe side — ~60x more rows — and
        # that sort measured 318 s vs 21 s for the hash join at 500k
        # uniform-length docs (the probe side is append-only fodder, it
        # never needs an order)
        probe.join(build.hint("shuffle_hash"), ["lb", "i", "h"])
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("lo"), F.greatest("ida", "idb").alias("hi")
        )
    )

    cand = short_pairs.unionByName(long_pairs).distinct()
    a = d.select(
        F.col("doc_id").alias("lo"), F.col("ftext").alias("ta"), F.col("flen").alias("la")
    )
    b = d.select(
        F.col("doc_id").alias("hi"), F.col("ftext").alias("tb"), F.col("flen").alias("lb")
    )
    return (
        cand.join(a, "lo")
        .join(b, "hi")
        .select(
            F.col("lo").alias("doc_a"),
            F.col("hi").alias("doc_b"),
            F.levenshtein("ta", "tb", EDIT_T).alias("lev"),
            F.col("la").cast("bigint").alias("len_a"),
            F.col("lb").cast("bigint").alias("len_b"),
        )
        .filter(F.col("lev") >= 0)
        .select("doc_a", "doc_b", F.col("lev").cast("int").alias("lev"), "len_a", "len_b")
    )


# The oracle implements the NAIVE band join — hash equality against it
# certifies the PassJoin blocking lossless on every gate corpus.
EDIT_DISTANCE_PAIRS_SQL = f"""
WITH fold AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', chr(127), 'g') AS ftext
  FROM documents
), d AS (
  SELECT doc_id, ftext, length(ftext) AS flen,
         length(ftext) // {EDIT_T} AS band
  FROM fold
), lhs AS (
  SELECT doc_id, ftext, flen, band, band + b.range AS key
  FROM d CROSS JOIN range(2) b
), cand AS (
  SELECT l.doc_id AS ida, r.doc_id AS idb, l.ftext AS ta, r.ftext AS tb,
         l.flen AS la, r.flen AS lb
  FROM lhs l JOIN d r ON l.key = r.band
  WHERE (l.band < r.band OR (l.band = r.band AND l.doc_id < r.doc_id))
    AND abs(l.flen - r.flen) <= {EDIT_T}
), v AS (
  SELECT ida, idb, la, lb, levenshtein(ta, tb) AS lev FROM cand
)
SELECT least(ida, idb) AS doc_a, greatest(ida, idb) AS doc_b,
       CAST(lev AS INT) AS lev,
       CAST(CASE WHEN ida < idb THEN la ELSE lb END AS BIGINT) AS len_a,
       CAST(CASE WHEN ida < idb THEN lb ELSE la END AS BIGINT) AS len_b
FROM v WHERE lev <= {EDIT_T}
"""
