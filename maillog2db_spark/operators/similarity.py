"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed
variant (random-hyperplane signs → bucket equi-join) is the scale
path — candidates come from bucket collisions, so the join never goes
quadratic in corpus size.

Numerics: both engines compute the same left-to-right fold
sum(double(a_i) * double(b_i)) over float32 inputs, and results are
rounded before ranking so ordering is reproducible across engines and
partitionings. Rank ties break on vec_id.

Scale design: queries (small) broadcast against the corpus (huge) —
the corpus never shuffles for brute force. For IVF/LSH, the bucket id
is the shuffle/partition key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io

import weakref

_THRESH_CACHE_INIT = weakref.WeakKeyDictionary()

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors
N_PLANES = 8  # random-hyperplane bits for LSH buckets


def _embeddings_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, repartitioned before the CPU-heavy vector math: the
    fold/zip lambdas are CodegenFallback (interpreted), and a small
    parquet file scans as one partition — without the exchange every
    dot-product stage runs on a single core (same pathology measured in
    dedup shingling). At scale the scan is already wide and AQE shrinks
    this to a no-op. Build-side only: every query path goes through
    ``_embeddings`` below, which reads the session cache."""
    p = spark.sparkContext.defaultParallelism
    return io.load(spark, sf_dir, "embeddings").repartition(p, "vec_id")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table every vector query starts from — a
    projection of the session-cached ``embeddings_with_nrm`` base
    (r10): ~20 direct consumers each re-ran the parquet scan +
    repartition per call; now they all read the one materialization.
    Same rows, same column order, bit-identical floats (the cache is
    built from the same scan)."""
    return embeddings_with_nrm(spark, sf_dir).select(
        "vec_id", "embedding", "label"
    )


def embeddings_with_nrm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (vec_id, embedding, label, nrm) — the L2 norm is
    a per-VECTOR quantity computed by an interpreted fold; ~15
    registered queries were each re-running it (plus the parquet scan
    and repartition) per call. One materialization per session; every
    consumer projects from it, and the fold expression is unchanged so
    all downstream doubles are bit-identical (r10)."""
    from .dedup import _cached

    return _cached(
        spark, sf_dir, "embeddings_nrm",
        lambda: _embeddings_raw(spark, sf_dir).select(
            "vec_id", "embedding", "label", _norm(F.col("embedding")).alias("nrm")
        ),
    )


def centroids_with_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached per-label centroid table (+ L2 norm) — the coarse
    quantizer shared by the inline IVF query, the persisted index build,
    and the per-label top-k exemplar query. Tiny (cells × dim) and
    broadcast at every use site; caching it skips the posexplode +
    two-aggregation build on every query (the same materialize-once
    pattern as the dedup rep/signature bases)."""
    from .dedup import _cached

    return _cached(
        spark, sf_dir, "label_centroids",
        lambda: _centroids(_embeddings(spark, sf_dir)).withColumn(
            "cent_nrm", _norm(F.col("centroid"))
        ),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(q: DataFrame, c: DataFrame, top_k: int) -> DataFrame:
    """Exact cosine top-k core from pre-projected query
    (query_id, q_emb, q_nrm) and corpus (neighbor_id, c_emb, c_nrm)
    frames — shared by ``knn_bruteforce`` and the hybrid RRF fusion
    (operators/retrieval.py), so both rank on the identical expression
    tree.

    Norms are precomputed below the join (once per vector, not per
    pair); identical expression tree → bit-identical doubles vs the
    oracle. Top-k is two-phase (same monoid shape as pq_adc_topk,
    where the single-phase window measured 3.5× slower at 1M): local
    top-k per physical partition keeps the sort parallel at any corpus
    size; the global rank sees ≤ k×partitions survivors per query."""
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(_dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm") * F.col("c_nrm")),
            6,
        ).alias("cosine"),
    )
    order = (F.col("cosine").desc(), F.asc("neighbor_id"))
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
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_queries_corpus(e: DataFrame, n_queries: int):
    """The standard query/corpus split projections (vec_id < n act as
    queries) with norms precomputed — shared with retrieval.py. When
    ``e`` already carries a materialized ``nrm`` column (the
    session-cached embeddings_with_nrm base), it is read instead of
    re-running the fold — same expression, same doubles.

    CONTRACT (ADVICE r10): a caller-supplied ``nrm`` column MUST be
    the ``_norm(embedding)`` fold from ``embeddings_with_nrm`` — any
    differently-computed norm would silently change every cosine this
    split feeds. Only pass frames from ``embeddings_with_nrm`` (or
    frames without ``nrm``, which recompute it here)."""
    nrm = F.col("nrm") if "nrm" in e.columns else _norm(F.col("embedding"))
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        nrm.alias("q_nrm"),
    )
    c = e.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        nrm.alias("c_nrm"),
    )
    return q, c


EXACT_RANK_DEPTH = 10  # max(TOP_K, retrieval.MMR_POOL): one cached
#                        ranking serves every exact-cosine consumer.
# Consumers filter prefixes of this depth, so a pool/top-k constant
# raised past it would silently truncate candidate sets; retrieval.py
# asserts its constants against this at import (ADVICE r10).


def exact_cosine_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exact cosine ranking at EXACT_RANK_DEPTH — the
    ground-truth table EVERY exact-cosine consumer derives from (r10):
    knn_bruteforce and the four recall contracts filter rank <= TOP_K,
    the MMR pool reads the full depth, the hybrid dense leg filters to
    HYBRID_TOP_K. Filtering a deeper two-phase rank is EXACT: the
    global window orders identically, so rank <= k rows coincide with
    a depth-k run's output. Cached grain is N_QUERIES × depth rows —
    bounded — and the corpus scan with its interpreted dot folds runs
    once per session instead of once per consumer."""
    from .dedup import _cached

    def build():
        q, c = knn_queries_corpus(embeddings_with_nrm(spark, sf_dir), N_QUERIES)
        return cosine_topk(q, c, EXACT_RANK_DEPTH)

    return _cached(spark, sf_dir, "knn_exact_ranking", build)


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: query set broadcast-joined against the full
    corpus, per-query window top-k — served from the shared
    session-cached ranking (see exact_cosine_ranking)."""
    return exact_cosine_ranking(spark, sf_dir).filter(
        F.col("rank") <= TOP_K
    )


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor (the query
    set), the top-k most-similar corpus vectors whose label DIFFERS
    from the anchor's — the negatives that sit closest to the decision
    boundary, the standard mining step for contrastive/triplet
    embedding training (Xiong et al. 2021, ANCE — arXiv:2007.00808,
    mines hard negatives by nearest-neighbor retrieval exactly like
    this). Same broadcast query-side + two-phase top-k shape as
    ``knn_bruteforce``; the label-mismatch predicate filters BELOW the
    window, so candidate volume per query only shrinks. All-one-label
    corpora yield 0 rows (no negative exists), never an error."""
    e = embeddings_with_nrm(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_nrm"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("anchor_label"))
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            F.round(
                F.try_divide(
                    _dot(F.col("q_emb"), F.col("c_emb")),
                    F.col("q_nrm") * F.col("c_nrm"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    order = (F.col("cosine").desc(), F.asc("neighbor_id"))
    local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= TOP_K)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            "rank",
        )
    )


_DOT_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)

KNN_BRUTEFORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT_DUCK.format(a='q_emb', b='c_emb')}
               / (sqrt({_DOT_DUCK.format(a='q_emb', b='q_emb')})
                  * sqrt({_DOT_DUCK.format(a='c_emb', b='c_emb')})), 6) AS cosine
  FROM c CROSS JOIN q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""

HARD_NEGATIVES_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS anchor_label, embedding AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label, embedding AS c_emb
  FROM embeddings WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT query_id, anchor_label, neighbor_id, neighbor_label,
         round({_DOT_DUCK.format(a='q_emb', b='c_emb')}
               / (sqrt({_DOT_DUCK.format(a='q_emb', b='q_emb')})
                  * sqrt({_DOT_DUCK.format(a='c_emb', b='c_emb')})), 6) AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_label <> anchor_label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, anchor_label, neighbor_id, neighbor_label, cosine,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def _hyperplane(plane: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane: component d of plane p is
    ±1 by an md5 bit of "p:d". The planes are materialized as literal
    arrays in both engines' queries, so any Python-side generator works;
    md5 guarantees the planes are pairwise distinct and uncorrelated (a
    previous linear-congruential mix had period 7 in `plane`, silently
    duplicating plane 7 = plane 0 — caught in review; min pairwise
    Hamming distance is now 25/64)."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{plane}:{d}".encode()).digest()[0] & 1 else -1.0
        for d in range(dim)
    ]


def _plane_thresholds(spark: SparkSession, sf_dir: str) -> list[float]:
    """Per-plane bias thresholds t_p = dot(corpus mean, plane_p),
    ppm-quantized — session-cached 8 doubles (bounded metadata collect,
    like the IVF probe cells).

    The sign test becomes ``dot(v, plane) > t_p``, i.e. the hyperplane
    passes through the CORPUS MEAN instead of the origin. For centered
    embeddings (the usual case, and this testdata: mean ≈ 2e-5) the
    thresholds are ~0 and buckets are unchanged in distribution; for
    uncentered corpora (e.g. all-positive features) origin-anchored
    planes put nearly every vector on the same side of every plane —
    measured at 200k uniform-positive synthetic vectors, ~all of the
    corpus landed in a handful of buckets and the verification join ran
    the executor out of heap. Centering restores balanced buckets
    without changing the angular-LSH contract. The quantization keeps
    the threshold bit-identical across engines (the mean's last ulp is
    partial-sum-order dependent; the dot folds themselves are already
    identical expression trees)."""
    per_session = _THRESH_CACHE.setdefault(spark, {})
    cached = per_session.get(sf_dir)
    if cached is not None:
        return cached
    out = thresholds_from_embeddings(_embeddings(spark, sf_dir))
    per_session[sf_dir] = out
    return out


def thresholds_from_embeddings(e: DataFrame) -> list[float]:
    """Mean-centered plane thresholds from ANY embedding DataFrame —
    shared by the session-cached sf_dir path above and by streaming
    quantizer freezing (streaming_semdedup), where the training corpus
    is a seed DataFrame, not a registered table."""
    import math

    pos = e.select(F.posexplode("embedding").alias("pos", "v"))
    mean = {
        r["pos"]: r["m"]
        for r in pos.groupBy("pos").agg(F.avg(F.col("v").cast("double")).alias("m")).collect()
    }
    mv = [mean[i] for i in range(len(mean))]
    out = []
    for p in range(N_PLANES):
        plane = _hyperplane(p, dim=len(mv))
        t = 0.0
        for x, w in zip(mv, plane):  # left-to-right fold, like both engines
            t = t + x * w
        out.append(math.floor(t * 1_000_000 + 0.5) / 1_000_000)
    return out


_THRESH_CACHE = _THRESH_CACHE_INIT


def _bucket_col(thresholds: list[float]) -> "F.Column":
    """The N_PLANES mean-centered sign-bit bucket id as a Spark column
    over ``embedding`` — single source of truth for every LSH-bucketed
    op. ``thresholds`` comes from _plane_thresholds.

    r10 shape: one aggregate over a SINGLE literal array of
    (bit-weight, plane, thr) structs instead of N_PLANES separate
    64-literal dot trees summed — the per-plane comparison and the
    fold order of each dot are identical (same bucket ids, same
    hashes), but Catalyst analyzes one shared literal subtree instead
    of eight (the kcenter _centers_literal lesson: duplicated big
    literal trees dominate wall time at plan-construction)."""
    planes = F.array(*[
        F.struct(
            F.lit(float(1 << p)).alias("w"),
            F.array(*[F.lit(v) for v in _hyperplane(p)]).alias("plane"),
            F.lit(float(thresholds[p])).alias("thr"),
        )
        for p in range(N_PLANES)
    ])
    return F.aggregate(
        planes,
        F.lit(0.0),
        lambda acc, s: acc
        + F.when(_dot(F.col("embedding"), s["plane"]) > s["thr"], s["w"]).otherwise(
            F.lit(0.0)
        ),
    ).cast("long")


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 sign bits per vector → bucket id.
    Vectors in the same bucket are ANN candidates; the bucket id is the
    equi-join/partition key at scale."""
    e = _embeddings(spark, sf_dir)
    thr = _plane_thresholds(spark, sf_dir)
    return (
        e.select(F.col("vec_id"), F.col("label"), _bucket_col(thr).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


def _plane_duck(p: int) -> str:
    vals = ", ".join(str(v) for v in _hyperplane(p))
    return f"[{vals}]"


# the same mean-centered bucket id as a DuckDB expression — single
# source of truth for the oracle side. The thresholds CTE computes the
# identical ppm-quantized dot(mean, plane_p) values the Spark side
# collects; the comparison references them as scalar subqueries.
_THRESH_DUCK_CTE = (
    "mpos AS (\n"
    "  SELECT r.range AS pos, avg(CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE)) AS m\n"
    "  FROM embeddings CROSS JOIN range(64) r GROUP BY 1\n"
    "), mvec AS (SELECT list(m ORDER BY pos) AS mv FROM mpos),\n"
    "thr AS (SELECT "
    + ", ".join(
        "floor(" + _DOT_DUCK.format(a="mv", b="{plane%d}" % p)
        + " * 1000000 + 0.5) / 1000000.0 AS t%d" % p
        for p in range(N_PLANES)
    )
    + " FROM mvec)"
)

_BUCKET_DUCK = "CAST({} AS BIGINT)".format(
    " + ".join(
        f"(CASE WHEN {_DOT_DUCK.format(a='embedding', b='{plane' + str(p) + '}')} > (SELECT t{p} FROM thr) "
        f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p in range(N_PLANES)
    )
)


def _subst_planes(sql: str) -> str:
    for p in range(N_PLANES):
        sql = sql.replace("{plane%d}" % p, _plane_duck(p))
    return sql


def _bucket_duck() -> str:
    return _subst_planes(_BUCKET_DUCK)


def _thresh_duck_cte() -> str:
    return _subst_planes(_THRESH_DUCK_CTE)


LSH_BUCKETS_SQL = f"""
WITH {_thresh_duck_cte()},
b AS (
  SELECT vec_id, label, {_bucket_duck()} AS bucket
  FROM embeddings
)
SELECT bucket, count(*) AS n_vectors, count(DISTINCT label) AS n_labels,
       min(vec_id) AS min_vec_id
FROM b GROUP BY bucket
"""


def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean via posexplode — the
    distributed dense-vector aggregate) reported as (n_vectors,
    centroid L2 norm)."""
    e = _embeddings(spark, sf_dir)
    pos = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "v")
    )
    cent = pos.groupBy("label", "pos").agg(F.avg(F.col("v").cast("double")).alias("m"))
    return (
        cent.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"))
        .join(
            e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors")),
            "label",
        )
        .select("label", "n_vectors", "centroid_norm")
    )


LABEL_CENTROID_NORMS_SQL = """
WITH pos AS (
  SELECT label, r.range AS pos, CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN range(64) r
), cent AS (
  SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos
), norms AS (
  SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm FROM cent GROUP BY label
)
SELECT n.label, c.n_vectors, n.centroid_norm
FROM norms n JOIN (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label) c
  ON n.label = c.label
"""


# --- IVF-style ANN ----------------------------------------------------------

N_PROBE = 2  # cells probed per query


def _centroids(e: DataFrame) -> DataFrame:
    """Coarse quantizer: per-label centroid as an ordered array —
    deterministic 'trained' cells (at real scale these come from k-means;
    the IVF mechanics downstream are identical)."""
    pos = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = pos.groupBy("label", "pos").agg(F.avg(F.col("v").cast("double")).alias("m"))
    return cent.groupBy(F.col("label").alias("cell")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("centroid")
    )


def _nearest_cells(
    cents: DataFrame, df: DataFrame, id_col: str, emb_col: str, nrm_col: str, n: int
) -> DataFrame:
    """Top-n centroid cells per vector (broadcast centroids, per-id
    window) — shared by the inline IVF query and the persisted index."""
    scored = df.join(F.broadcast(cents)).select(
        id_col,
        emb_col,
        nrm_col,
        "cell",
        F.round(
            F.try_divide(
                _dot(F.col(emb_col), F.col("centroid")),
                F.col(nrm_col) * F.col("cent_nrm"),
            ),
            6,
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cell"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n)
        .drop("csim", "crank")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached IVF ranking (r10): two registered queries read it
    (its own gate + embed_ann_recall). Cached grain is the bounded
    query×TOP_K result, the same materialize-once pattern as
    knn_bruteforce's exact ranking."""
    from .dedup import _cached

    return _cached(
        spark, sf_dir, "ivf_topk", lambda: _ann_ivf_topk_build(spark, sf_dir)
    )


def _ann_ivf_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every corpus vector to its nearest centroid cell
    (inverted lists), probe the N_PROBE nearest cells per query, exact
    cosine re-rank inside probed cells only.

    Scale design: centroids are tiny (cells × dim) → broadcast to both
    the assignment and the probe step; the corpus shuffles ONCE on its
    cell id; the query×cell fan-out is |queries| × N_PROBE rows joined
    cell-to-cell — search cost is corpus/cells × N_PROBE per query
    instead of the full corpus."""
    e = embeddings_with_nrm(spark, sf_dir)
    # per-vector / per-centroid norms read from the session-cached
    # bases (identical fold expressions built them, so the doubles are
    # bit-identical vs the oracle)
    cents = centroids_with_norms(spark, sf_dir)

    def nearest_cells(df: DataFrame, id_col: str, emb_col: str, nrm_col: str, n: int) -> DataFrame:
        return _nearest_cells(cents, df, id_col, emb_col, nrm_col, n)

    corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    inv = nearest_cells(corpus, "neighbor_id", "c_emb", "c_nrm", 1)  # inverted lists
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    probes = nearest_cells(queries, "query_id", "q_emb", "q_nrm", N_PROBE)

    scored = inv.join(F.broadcast(probes), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(_dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm") * F.col("c_nrm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_CENTROID_DUCK = """
pos AS (
  SELECT label, r.range AS pos, CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN range(64) r
), centm AS (
  SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos
), cents AS (
  SELECT label AS cell, list(m ORDER BY pos) AS centroid FROM centm GROUP BY label
)"""

ANN_IVF_TOPK_SQL = f"""
WITH {_CENTROID_DUCK},
corpus AS (
  SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings WHERE vec_id >= {N_QUERIES}
), queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
), inv AS (
  SELECT neighbor_id, c_emb, cell FROM (
    SELECT neighbor_id, c_emb, cell,
           row_number() OVER (PARTITION BY neighbor_id ORDER BY csim DESC, cell) AS crank
    FROM (
      SELECT neighbor_id, c_emb, cell,
             round({_DOT_DUCK.format(a='c_emb', b='centroid')}
                   / (sqrt({_DOT_DUCK.format(a='c_emb', b='c_emb')})
                      * sqrt({_DOT_DUCK.format(a='centroid', b='centroid')})), 6) AS csim
      FROM corpus CROSS JOIN cents
    )
  ) WHERE crank <= 1
), probes AS (
  SELECT query_id, q_emb, cell FROM (
    SELECT query_id, q_emb, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS crank
    FROM (
      SELECT query_id, q_emb, cell,
             round({_DOT_DUCK.format(a='q_emb', b='centroid')}
                   / (sqrt({_DOT_DUCK.format(a='q_emb', b='q_emb')})
                      * sqrt({_DOT_DUCK.format(a='centroid', b='centroid')})), 6) AS csim
      FROM queries CROSS JOIN cents
    )
  ) WHERE crank <= {N_PROBE}
), scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT_DUCK.format(a='q_emb', b='c_emb')}
               / (sqrt({_DOT_DUCK.format(a='q_emb', b='q_emb')})
                  * sqrt({_DOT_DUCK.format(a='c_emb', b='c_emb')})), 6) AS cosine
  FROM inv JOIN probes USING (cell)
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# --- embedding-cosine near-dup ----------------------------------------------

# the driver's synthetic embeddings are near-orthogonal (max pairwise
# cosine ~0.45), so a classic 0.9+ dedup threshold would select nothing;
# 0.3 keeps the operator's output non-trivial while the mechanics
# (blocking, verification) are threshold-independent
COSINE_NEARDUP_T = 0.3


def cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs: candidates from
    random-hyperplane LSH bucket equality (the blocking key — the
    self-join never goes quadratic), verified with exact cosine ≥ t.
    The oracle mirrors the same two-stage plan, making this a
    differential test of the ENGINE (bucketing, join, fold arithmetic),
    not of LSH recall (which is tunable by N_PLANES/bands)."""
    e = _embeddings(spark, sf_dir)
    # bucket bits computed ONCE; candidate pairs expand inside buckets
    # (no self-join of the bit computation), then the cheap raw
    # embedding columns join back for exact verification only
    from .dedup import _pairs_within_groups

    b = e.select(
        F.col("vec_id").alias("doc_id"),
        _bucket_col(_plane_thresholds(spark, sf_dir)).alias("bucket"),
    )
    cand = _pairs_within_groups(b, ["bucket"], probe_key=(sf_dir, "cos_lsh")).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    # norms are per-VECTOR quantities, read from the session-cached
    # embeddings_with_nrm base (same fold expression built it — the
    # doubles, and the oracle hash, are bit-identical); both l/r join
    # aliases read the materialized rows
    emb = embeddings_with_nrm(spark, sf_dir).select("vec_id", "embedding", "nrm")
    pairs = (
        cand.join(emb.alias("l"), F.col("vec_a") == F.col("l.vec_id"))
        .join(emb.alias("r"), F.col("vec_b") == F.col("r.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                F.try_divide(
                    _dot(F.col("l.embedding"), F.col("r.embedding")),
                    F.col("l.nrm") * F.col("r.nrm"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= COSINE_NEARDUP_T)


COSINE_NEARDUP_PAIRS_SQL = f"""
WITH {_thresh_duck_cte()},
b AS (
  SELECT vec_id, embedding AS emb, {_bucket_duck()} AS bucket
  FROM embeddings
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
         round({_DOT_DUCK.format(a='l.emb', b='r.emb')}
               / (sqrt({_DOT_DUCK.format(a='l.emb', b='l.emb')})
                  * sqrt({_DOT_DUCK.format(a='r.emb', b='r.emb')})), 6) AS cosine
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
) WHERE cosine >= {COSINE_NEARDUP_T}
"""


# --- semantic dedup (SemDeDup-style) ----------------------------------------

# same corpus-calibrated threshold as cosine_neardup (the synthetic
# embeddings are near-orthogonal; the mechanics are threshold-free)
SEMDEDUP_T = COSINE_NEARDUP_T


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication over embeddings (the SemDeDup recipe,
    Abbas et al. 2023, arXiv:2303.09540): assign every vector to its
    nearest coarse-quantizer cell, score within-cell candidate pairs
    with exact cosine, and emit a per-vector dedup DECISION —
    ``kept`` = no lower-id vector shares the vector's (cell, LSH bucket)
    with cosine ≥ T, else ``dup_of`` = the smallest such id
    (first-writer-wins, the same keep policy as the text dedup family).

    Scale design: pairwise work never sees the corpus square — the
    quantizer confines candidates to cells, the in-cell LSH bucket
    sub-blocks them further (this testdata has only 10 label-derived
    cells; k-means cells at real scale are ~corpus/cells wide and the
    sub-block is what keeps a 10^7-vector cell from going quadratic),
    and pair expansion runs through the adaptively bounded
    _pairs_within_groups (hot blocks take the salted triangular join).
    The exact-cosine verify touches candidates only, with per-vector
    norms computed below the join. The oracle mirrors the identical
    two-level blocking, so the gate is a differential test of the
    engine (assignment, blocking, join, fold arithmetic), not of
    LSH/quantizer recall — which is tunable via cells × N_PLANES."""
    from .dedup import _cached, _pairs_within_groups

    def build() -> DataFrame:
        e = _embeddings(spark, sf_dir)
        cents = centroids_with_norms(spark, sf_dir)
        vecs = e.select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        )
        assigned = _nearest_cells(cents, vecs, "vec_id", "embedding", "nrm", 1)
        thr = _plane_thresholds(spark, sf_dir)
        keyed = assigned.select(
            F.col("vec_id").alias("doc_id"), "cell", _bucket_col(thr).alias("bucket")
        )
        cand = _pairs_within_groups(
            keyed, ["cell", "bucket"], probe_key=(sf_dir, "semdedup")
        )
        pairs = (
            cand.join(vecs.alias("l"), F.col("doc_a") == F.col("l.vec_id"))
            .join(vecs.alias("r"), F.col("doc_b") == F.col("r.vec_id"))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.try_divide(
                        _dot(F.col("l.embedding"), F.col("r.embedding")),
                        F.col("l.nrm") * F.col("r.nrm"),
                    ),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= SEMDEDUP_T)
        )
        dropped = pairs.groupBy(F.col("doc_b").alias("vec_id")).agg(
            F.min("doc_a").alias("dup_of")
        )
        return (
            keyed.select(F.col("doc_id").alias("vec_id"), "cell")
            .join(dropped, "vec_id", "left")
            .select(
                "vec_id", "cell", F.col("dup_of").isNull().alias("kept"), "dup_of"
            )
        )

    # vec-grain decision table, two downstream consumers in the same
    # session (the registered query and semdedup_keep_best's policy
    # layer) — persist like pq_codes/ivfpq_resid so the LSH+verify
    # pass runs once per (session, sf_dir)
    return _cached(spark, sf_dir, "semdedup", build)


SEMDEDUP_SQL = f"""
WITH {_thresh_duck_cte()},
{_CENTROID_DUCK.lstrip()},
v AS (
  SELECT vec_id, embedding AS emb, {_bucket_duck()} AS bucket FROM embeddings
), assigned AS (
  SELECT vec_id, emb, bucket, cell FROM (
    SELECT vec_id, emb, bucket, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
    FROM (
      SELECT v.vec_id, v.emb, v.bucket, cents.cell,
             round({_DOT_DUCK.format(a='v.emb', b='centroid')}
                   / (sqrt({_DOT_DUCK.format(a='v.emb', b='v.emb')})
                      * sqrt({_DOT_DUCK.format(a='centroid', b='centroid')})), 6) AS csim
      FROM v CROSS JOIN cents
    )
  ) WHERE crank = 1
), pairs AS (
  SELECT l.vec_id AS doc_a, r.vec_id AS doc_b,
         round({_DOT_DUCK.format(a='l.emb', b='r.emb')}
               / (sqrt({_DOT_DUCK.format(a='l.emb', b='l.emb')})
                  * sqrt({_DOT_DUCK.format(a='r.emb', b='r.emb')})), 6) AS cosine
  FROM assigned l JOIN assigned r
    ON l.cell = r.cell AND l.bucket = r.bucket AND l.vec_id < r.vec_id
), dropped AS (
  SELECT doc_b AS vec_id, min(doc_a) AS dup_of
  FROM pairs WHERE cosine >= {SEMDEDUP_T} GROUP BY doc_b
)
SELECT a.vec_id, a.cell, d.vec_id IS NULL AS kept, d.dup_of
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


# --- distributed covariance / PCA -------------------------------------------

COV_SCALE = 1_000_000_000_000  # 1e12 fixed point for per-row products


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance of the embedding matrix — the reduction
    behind whitening/PCA embedding compression. One pass: per row the
    centered outer product is flattened to a (dim²)-array, posexploded,
    and summed per (i, j) cell with map-side combine; no self-join of
    the exploded table (that plan shuffles dim·n rows twice).

    Order-exact integers, the unigram-LM pattern: means are collected
    once and ppm-QUANTIZED (8 doubles of bounded metadata — ulp noise
    from partial-sum order collapses onto the 1e-6 grid), each row's
    centered product is fixed-pointed to 1e-12 BEFORE any cross-row
    sum, and only integers cross rows — so the hash is bit-stable
    across engines, partitionings, and replays. Upper triangle only
    (symmetric). int64 bound: |product| ≤ 4·1e12, × rows — safe to
    ~2·10⁶ rows per cell at this scale factor family; at real corpus
    scale drop COV_SCALE to 1e6 (documented, not silently).

    Consumers divide sum_e12 by n_vectors themselves — emitting the
    quotient would need a floor/truncate choice that differs between
    engines for negative sums."""
    e = _embeddings(spark, sf_dir)
    dim = 64
    means = {
        r["pos"]: r["m"]
        for r in e.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .collect()
    }
    import math

    mq = [math.floor(means[i] * 1_000_000 + 0.5) / 1_000_000 for i in range(dim)]
    m_arr = F.array(*[F.lit(v) for v in mq])
    centered = F.zip_with(
        F.col("embedding"), m_arr, lambda x, m: x.cast("double") - m
    )
    # r10: build ONLY the upper triangle in-row (dim·(dim+1)/2 cells
    # instead of dim² computed-then-filtered) — the explode volume and
    # the shuffle feeding the cell aggregate halve. The product is the
    # same single IEEE multiply of the same centered elements, so every
    # surviving cell's integers — and the oracle hash — are unchanged.
    ut = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.transform(
                F.sequence(i, F.lit(dim - 1)),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (
                        F.element_at(F.col("c"), (i + 1).cast("int"))
                        * F.element_at(F.col("c"), (j + 1).cast("int"))
                    ).alias("prod"),
                ),
            ),
        )
    )
    cells = (
        e.select(centered.alias("c"))
        .select(F.explode(ut).alias("cell"))
        .select(
            F.col("cell.i").alias("i"),
            F.col("cell.j").alias("j"),
            F.floor(F.col("cell.prod") * COV_SCALE + 0.5)
            .cast("bigint")
            .alias("p_e12"),
        )
    )
    return (
        cells.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("p_e12").alias("sum_e12"),
        )
    )


def _cov_means_duck() -> str:
    return (
        "mpos AS (\n"
        "  SELECT r.range AS pos, floor(avg(CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE))"
        " * 1000000 + 0.5) / 1000000.0 AS m\n"
        "  FROM embeddings CROSS JOIN range(64) r GROUP BY 1\n"
        ")"
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH {_cov_means_duck()},
cells AS (
  SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
         CAST(floor((CAST(e.embedding[CAST(i.range AS INT) + 1] AS DOUBLE)
                     - (SELECT m FROM mpos WHERE pos = i.range))
                  * (CAST(e.embedding[CAST(j.range AS INT) + 1] AS DOUBLE)
                     - (SELECT m FROM mpos WHERE pos = j.range))
                  * {COV_SCALE} + 0.5) AS BIGINT) AS p_e12
  FROM embeddings e CROSS JOIN range(64) i CROSS JOIN range(64) j
  WHERE i.range <= j.range
)
SELECT i, j, CAST(count(*) AS BIGINT) AS n_vectors, CAST(sum(p_e12) AS BIGINT) AS sum_e12
FROM cells GROUP BY i, j
"""


def pca_components(spark: SparkSession, sf_dir: str, k: int = 2):
    """Driver-side PCA finish: the covariance reduction runs
    distributed (embedding_covariance — the only corpus-scale pass),
    the dim×dim eigenproblem is bounded metadata solved with numpy on
    the driver. Returns (eigenvalues[k], components[k][dim]) with a
    deterministic sign convention (largest-|coord| entry positive).
    Differentially tested against numpy's own covariance+eigh on the
    collected corpus in tests."""
    import numpy as np

    rows = embedding_covariance(spark, sf_dir).collect()
    dim = 64
    n = rows[0]["n_vectors"]
    cov = np.zeros((dim, dim))
    for r in rows:
        v = r["sum_e12"] / COV_SCALE / n
        cov[r["i"], r["j"]] = v
        cov[r["j"], r["i"]] = v
    w, vecs = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c = -c
        comps.append(c)
    return w[order], np.array(comps)


def arrow_dot():
    """Arrow-vectorized dot product — the 100 TB swap-in for the
    interpreted `_dot` fold (higher-order lambdas are CodegenFallback;
    SCALING.md flags them as the first rewrite on a real cluster).

    Bit-identical to the fold by construction: the accumulation loops
    over vector positions in the same left-to-right order with one
    float64 add per step — the loop is vectorized ACROSS rows (numpy
    column ops), never within a row, so no pairwise/SIMD re-association
    changes the sum. Verified exactly (==, no rounding) in
    tests/test_operators.py.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        out = np.zeros(A.shape[0], dtype=np.float64)
        for i in range(A.shape[1]):
            out += A[:, i] * B[:, i]
        return pd.Series(out)

    return dot


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the memory-compression
    leg of the ANN stack (IVF partitions the corpus, LSH screens
    candidates, int8 shrinks resident vectors 4x so cells stay in
    executor memory at 100 TB).

    scale = absmax/127; q_i = round(x_i/scale). Reported metrics are
    engine-exact: integer L1 mass and saturation count, ppm/ppb ratios
    via the same left-to-right double fold the oracle's list_sum uses,
    floored to integers only at the boundary. Everything is per-row
    array math — no shuffle at all (the repartition in _embeddings is
    scan-parallelism, not a keyed exchange)."""
    e = _embeddings(spark, sf_dir)
    absmax = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    qv = F.expr(
        "transform(embedding, x -> CAST(CASE WHEN scale > 0 "
        "THEN round(CAST(x AS DOUBLE) / scale, 0) ELSE 0 END AS BIGINT))"
    )
    sumsq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x,
    )
    err = F.aggregate(
        F.zip_with(
            "embedding", "qv",
            lambda x, q: (x.cast("double") - q.cast("double") * F.col("scale"))
            * (x.cast("double") - q.cast("double") * F.col("scale")),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )
    return (
        e.withColumn("scale", absmax / 127.0)
        .withColumn("qv", qv)
        .select(
            "vec_id",
            F.floor(F.col("scale") * 1_000_000 + 0.5).cast("bigint").alias("scale_ppm"),
            F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)).alias("q_l1"),
            F.size(F.filter("qv", lambda x: F.abs(x) >= 127)).cast("bigint").alias("n_sat"),
            F.when(sumsq > 0, F.floor(err / sumsq * 1_000_000_000 + 0.5))
            .otherwise(F.lit(0)).cast("bigint").alias("recon_err_ppb"),
        )
    )


QUANTIZE_INT8_SQL = """
WITH t AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
), q AS (
  SELECT vec_id, embedding, scale,
         list_transform(embedding, x -> CAST(CASE WHEN scale > 0
           THEN round(CAST(x AS DOUBLE) / scale, 0) ELSE 0 END AS BIGINT)) AS qv
  FROM t
)
SELECT vec_id,
       CAST(floor(scale * 1000000 + 0.5) AS BIGINT) AS scale_ppm,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_sat,
       CAST(CASE WHEN list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            THEN floor(list_sum(list_transform(list_zip(embedding, qv),
                   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)
                      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)))
                 / list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                 * 1000000000 + 0.5)
            ELSE 0 END AS BIGINT) AS recon_err_ppb
FROM q
"""


def build_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the IVF index: centroids (tiny) + inverted lists
    partitioned BY CELL on disk. Build-time work that queries then
    never repeat: cell assignment (one corpus shuffle) and per-vector
    norms are computed once and persisted; at query time only the
    probed cells' directories are read (partition pruning — the on-disk
    analogue of the inverted-list seek)."""
    e = _embeddings(spark, sf_dir)
    cents = centroids_with_norms(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_nrm"),
    )
    inv = _nearest_cells(cents, corpus, "neighbor_id", "c_emb", "c_nrm", 1)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    inv.write.mode("overwrite").partitionBy("cell").parquet(f"{index_dir}/cells")


def update_ivf_index(spark: SparkSession, index_dir: str, new_vectors: DataFrame) -> None:
    """Incremental index maintenance: assign NEW vectors (vec_id,
    embedding) to cells under the EXISTING centroids and merge them
    into only the touched cell directories (dynamic partition
    overwrite) — a 100 TB index absorbs a daily drop without a corpus
    rebuild. Per-cell dedup by neighbor_id keeps the update idempotent
    under replay. The coarse quantizer is intentionally frozen (the
    standard IVF practice: re-train centroids offline, rebuild only
    then), so query-time results after N updates equal a one-shot
    build over the union — which is what the test asserts."""
    cents = spark.read.parquet(f"{index_dir}/centroids")
    fresh = new_vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_nrm"),
    )
    assigned = _nearest_cells(cents, fresh, "neighbor_id", "c_emb", "c_nrm", 1)
    from ..ledger import merge_buckets

    merge_buckets(
        spark, f"{index_dir}/cells", assigned, "cell",
        lambda m: m.dropDuplicates(["neighbor_id"]),
    )


def query_ivf_index(
    spark: SparkSession, index_dir: str, queries: DataFrame, n_probe: int = None
) -> DataFrame:
    """Probe a persisted IVF index: rank cells per query against the
    broadcast centroids, then scan ONLY the probed cells (the isin
    filter on the partition column prunes every other directory —
    verified in tests via PartitionFilters in the scan plan) and
    exact-rerank. `queries` needs (query_id, q_emb)."""
    n_probe = N_PROBE if n_probe is None else n_probe
    cents = spark.read.parquet(f"{index_dir}/centroids")
    q = queries.select("query_id", "q_emb", _norm(F.col("q_emb")).alias("q_nrm"))
    probes = _nearest_cells(cents, q, "query_id", "q_emb", "q_nrm", n_probe)
    probe_cells = [r.cell for r in probes.select("cell").distinct().collect()]
    inv = spark.read.parquet(f"{index_dir}/cells").filter(F.col("cell").isin(probe_cells))
    scored = inv.join(F.broadcast(probes), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(_dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm") * F.col("c_nrm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- k-means (fixed-iteration Lloyd's) --------------------------------------

N_KMEANS_ITER = 2  # unrolled in the oracle SQL; keep the two in sync
DIM = 64


def _round_arr(col, places: int = 6):
    return F.transform(col, lambda x: F.round(x, places))


def _sqdist(a, b):
    """Σ (a_i − b_i)², float32 inputs cast to double elementwise —
    identical fold shape to _dot so both engines walk positions in the
    same order."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _kmeans_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest centroid per vector by
    squared L2, distance rounded to 6 BEFORE the argmin with cell id
    as tiebreak — assignment can never hinge on a last-ulp libm
    difference between engines. Centroids broadcast (k×dim is always
    tiny); the corpus never shuffles for assignment."""
    scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cell",
        F.round(_sqdist(F.col("embedding"), F.col("centroid")), 6).alias("d2r"),
    )
    best = scored.groupBy("vec_id", "embedding").agg(
        F.min(F.struct("d2r", "cell")).alias("b")
    )
    return best.select(
        "vec_id", "embedding", F.col("b.cell").alias("cluster"), F.col("b.d2r").alias("d2r")
    )


def _kmeans_final_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-row centroid table after N_KMEANS_ITER−1 Lloyd recomputes
    — the exact trajectory state every consumer (kmeans stats,
    silhouette, cluster labeling) assigns against. Session-cached: the
    corpus-scan iterations run once per (session, sf_dir); the cached
    table is k rows."""
    from .dedup import _cached

    def build() -> DataFrame:
        e = _embeddings(spark, sf_dir)
        cents = centroids_with_norms(spark, sf_dir).select(
            "cell", _round_arr(F.col("centroid")).alias("centroid")
        )
        for _ in range(N_KMEANS_ITER - 1):
            cents = _kmeans_recompute(_kmeans_assign(e, cents))
        return cents

    return _cached(spark, sf_dir, "kmeans_cents", build)


def _kmeans_recompute(assigned: DataFrame) -> DataFrame:
    """Centroid update: per-(cluster, position) mean, rounded to 6 so
    the next iteration's distances start from cross-engine-identical
    coordinates. posexplode + two map-side-combined aggregations —
    the same shape as the coarse-quantizer build."""
    pos = assigned.select("cluster", F.posexplode("embedding").alias("pos", "v"))
    cent = pos.groupBy("cluster", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("m")
    )
    return cent.groupBy(F.col("cluster").alias("cell")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("centroid")
    )


def kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means, N_KMEANS_ITER iterations, seeded
    from the per-label centroids (deterministic init — no RNG, so the
    whole trajectory is a pure function of the data and both engines
    replay it exactly). Completes the IVF story: _centroids() notes the
    coarse quantizer "at real scale comes from k-means" — this is that
    trainer, on the same broadcast-assign / tiny-aggregate primitives.

    Per iteration the corpus is scanned once: assignment is a broadcast
    join + map-side-combined argmin (no shuffle of vectors beyond the
    initial repartition), and the update aggregates k×dim cells. The
    driver holds control flow only — never data. At 100 TB this is the
    canonical pattern (MLlib's KMeans does the same loop over RDDs).

    Output: per final cluster, member count, inertia (Σ d², summed as
    ppm-fixed-point integers — order-exact), and centroid L2 norm."""
    e = _embeddings(spark, sf_dir)
    # the LAST iteration's assignment pairs with the centroids it was
    # assigned TO (the session-cached N_KMEANS_ITER-1-recompute state
    # shared with silhouette/cluster_labels — identical trajectory,
    # identical rounding)
    cents = _kmeans_final_cents(spark, sf_dir)
    assigned = _kmeans_assign(e, cents)
    norms = cents.select(
        "cell", F.round(F.sqrt(F.aggregate(
            F.transform(F.col("centroid"), lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x,
        )), 6).alias("centroid_norm"),
    )
    stats = assigned.groupBy(F.col("cluster")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.round(F.col("d2r") * 1_000_000).cast("bigint")).alias("inertia_ppm"),
    )
    return stats.join(F.broadcast(norms), stats.cluster == norms.cell).select(
        "cluster", "n_vectors", "inertia_ppm", "centroid_norm"
    )


_SQDIST_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))"
)

# iteration 1 starts from the rounded per-label centroids; iteration 2
# from the rounded post-assignment means — each stage rounds exactly
# where the Spark path does, so the trajectory is engine-independent
# the 2-iteration trajectory as a reusable CTE prefix: c1 = final
# centroids, s2 = every (vector, final-centroid) rounded sq-distance,
# a2 = final assignment — shared by KMEANS_SQL and SILHOUETTE_SQL
_KMEANS_CTES = f"""pos0 AS (
  SELECT label, r.range AS pos,
         CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN range({DIM}) r
), cent0 AS (
  SELECT label AS cell, pos, round(avg(v), 6) AS m FROM pos0 GROUP BY 1, 2
), c0 AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM cent0 GROUP BY cell
), s1 AS (
  SELECT e.vec_id, e.embedding, c.cell,
         round({_SQDIST_DUCK.format(a='e.embedding', b='c.centroid')}, 6) AS d2r
  FROM embeddings e CROSS JOIN c0 c
), a1 AS (
  SELECT vec_id, embedding, cell AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rn FROM s1
  ) WHERE rn = 1
), pos1 AS (
  SELECT cluster, r.range AS pos,
         CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS v
  FROM a1 CROSS JOIN range({DIM}) r
), cent1 AS (
  SELECT cluster AS cell, pos, round(avg(v), 6) AS m FROM pos1 GROUP BY 1, 2
), c1 AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM cent1 GROUP BY cell
), s2 AS (
  SELECT e.vec_id, c.cell,
         round({_SQDIST_DUCK.format(a='e.embedding', b='c.centroid')}, 6) AS d2r
  FROM embeddings e CROSS JOIN c1 c
), a2 AS (
  SELECT vec_id, cell AS cluster, d2r FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rn FROM s2
  ) WHERE rn = 1
)"""

KMEANS_SQL = f"""
WITH {_KMEANS_CTES}
SELECT a.cluster, count(*) AS n_vectors,
       CAST(sum(CAST(round(a.d2r * 1000000) AS BIGINT)) AS BIGINT) AS inertia_ppm,
       n.centroid_norm
FROM a2 a JOIN (
  SELECT cell, round(sqrt(list_sum(list_transform(centroid, x -> x * x))), 6) AS centroid_norm
  FROM c1
) n ON a.cluster = n.cell
GROUP BY a.cluster, n.centroid_norm
"""


# --- ANN recall evaluation ---------------------------------------------------


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF probe against the exact brute-force top-k —
    the accuracy contract an ANN index ships with. Registered as a
    first-class query so the driver hash-verifies the entire eval
    (both rankings AND the join) rather than trusting a test assertion.

    Reuses both registered rankings; the hit-join is on (query,
    neighbor) — k×n_queries rows, trivially broadcastable. Recall is
    an exact-int ratio."""
    ann = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(TOP_K)), 9
            ).alias("recall"),
        )
    )


ANN_RECALL_SQL = f"""
WITH ann AS ({{ann}}),
     exact AS ({{exact}}),
     hits AS (
       SELECT a.query_id, count(*) AS n_hit
       FROM ann a JOIN exact e
         ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       GROUP BY 1
     )
SELECT q.query_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.n_hit, 0) / {float(TOP_K)}, 9) AS recall
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h USING (query_id)
"""

ANN_RECALL_SQL = ANN_RECALL_SQL.format(ann=ANN_IVF_TOPK_SQL, exact=KNN_BRUTEFORCE_SQL)


# --- product quantization ----------------------------------------------------

PQ_M = 8  # subspaces
PQ_D = DIM // PQ_M  # dims per subspace


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into PQ_M
    subvectors, quantize each against a per-subspace codebook, emit the
    compact code word plus the exact reconstruction error. With k=10
    codes per subspace this compresses 64 float32s (256 B) to 8 code
    bytes — the memory lever that lets a billion-vector index live in
    RAM; the IVF family here provides the coarse level, PQ the fine.

    Codebooks are the per-(label, subspace) centroids rounded to 1e-6
    (deterministic 'trained' codebooks, same framing as the IVF coarse
    quantizer — the kmeans trainer shows how they'd be refined at
    scale). One subvector explode (M rows per vector), one broadcast
    of the M×k×(DIM/M) codebook table, per-(vec, subspace) argmin with
    the rounded-distance + code-id tiebreak, one re-aggregation to the
    code word. Reconstruction error sums ppm-fixed-point integers —
    order-exact."""
    e = _embeddings(spark, sf_dir)
    sub = e.select(
        "vec_id",
        "label",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}),"
                f" m -> struct(m AS m, slice(embedding, m * {PQ_D} + 1, {PQ_D}) AS svec))"
            )
        ).alias("s"),
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.svec").alias("svec"))
    pos = sub.select("label", "m", F.posexplode("svec").alias("pos", "v"))
    cb = (
        pos.groupBy("label", "m", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
        .groupBy(F.col("label").alias("code"), "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("centroid")
        )
    )
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "code",
        F.round(_sqdist(F.col("svec"), F.col("centroid")), 6).alias("d2r"),
    )
    best = scored.groupBy("vec_id", "m").agg(
        F.min(F.struct("d2r", "code")).alias("b")
    )
    return (
        best.select(
            "vec_id", "m", F.col("b.code").alias("code"), F.col("b.d2r").alias("d2r")
        )
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "code"))),
                    lambda x: x["code"].cast("string"),
                ),
            ).alias("pq_code"),
            F.sum(F.round(F.col("d2r") * 1_000_000).cast("bigint")).alias("recon_ppm"),
        )
    )


PQ_ENCODE_SQL = f"""
WITH sub AS (
  SELECT vec_id, label, m.range AS m, r.range AS pos,
         CAST(embedding[CAST(m.range * {PQ_D} + r.range AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN range({PQ_M}) m CROSS JOIN range({PQ_D}) r
), cb AS (
  SELECT label AS code, m, pos, round(avg(v), 6) AS c
  FROM sub GROUP BY 1, 2, 3
), d AS (
  SELECT s.vec_id, s.m, cb.code,
         round(sum((s.v - cb.c) * (s.v - cb.c)), 6) AS d2r
  FROM sub s JOIN cb ON s.m = cb.m AND s.pos = cb.pos
  GROUP BY 1, 2, 3
), a AS (
  SELECT vec_id, m, code, d2r FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2r, code) AS rn FROM d
  ) WHERE rn = 1
)
SELECT vec_id,
       array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), '-') AS pq_code,
       CAST(sum(CAST(round(d2r * 1000000) AS BIGINT)) AS BIGINT) AS recon_ppm
FROM a GROUP BY vec_id
"""


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation over the PQ codes — the actual
    PQ search path (Jégou et al. 2011 §III): per query, precompute the
    distance from each of its subvectors to every codeword (an M×k
    lookup table — here 5 queries × 8 subspaces × k codes, always
    tiny), then score a compressed vector as the SUM of M table
    lookups keyed by its code word. The corpus is never decompressed
    and the scoring join touches only (code, subspace) keys — this is
    why a PQ index scans billions of codes at RAM speed.

    Approximation contract: ADC ranks by reconstruction-space
    distance, so top-k differs from exact kNN exactly as the
    compression loses information — embed_ann_recall is the eval shape
    for that; here the oracle hash-verifies the ADC arithmetic itself.
    Sums are over M=8 rounded doubles per pair (one fixed fold order
    per engine — ppm-quantized per-lookup BEFORE the cross-row sum,
    order-exact integers)."""
    e = _embeddings(spark, sf_dir)
    sub = e.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}),"
                f" m -> struct(m AS m, slice(embedding, m * {PQ_D} + 1, {PQ_D}) AS svec))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.svec").alias("svec"))
    pos = e.select("label", F.posexplode("embedding").alias("fpos", "v"))
    cb = (
        pos.select(
            "label",
            (F.col("fpos") / PQ_D).cast("int").alias("m"),
            F.pmod("fpos", F.lit(PQ_D)).alias("pos"),
            F.col("v").cast("double").alias("v"),
        )
        .groupBy(F.col("label").alias("code"), "m", "pos")
        .agg(F.round(F.avg("v"), 6).alias("c"))
        .groupBy("code", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("centroid")
        )
    )
    # the query-side lookup tables: (query, m, code) -> ppm distance
    q_sub = sub.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed(
        "vec_id", "query_id"
    )
    lut = q_sub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        F.round(F.round(_sqdist(F.col("svec"), F.col("centroid")), 6) * 1_000_000)
        .cast("bigint")
        .alias("d_ppm"),
    )
    # corpus side: the stored codes (reuse the encoder)
    # session-cached code corpus: the encode subtree is shared with the
    # registered embed_pq_encode query (same materialize-once pattern
    # as the IVF quantizer); at 1M vectors caching halves the ADC query
    from .dedup import _cached

    codes = (
        _cached(spark, sf_dir, "pq_codes", lambda: pq_encode(spark, sf_dir))
        .filter(F.col("vec_id") >= N_QUERIES)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode(F.split("pq_code", "-")).alias("m", "code_s"),
        )
        .select("neighbor_id", "m", F.col("code_s").cast("int").alias("code"))
    )
    scored = codes.join(F.broadcast(lut), ["m", "code"]).groupBy(
        "query_id", "neighbor_id"
    ).agg(F.sum("d_ppm").alias("adc_ppm"))
    # two-phase exact top-k (top-k is a monoid): a per-physical-partition
    # local top-k first, so the expensive sort parallelizes over
    # n_queries × n_partitions groups instead of n_queries — the global
    # window then ranks ≤ k × n_partitions survivors per query. At 1M
    # vectors the single-phase form sorted 1M-row partitions on 5 cores
    # (measured 79.5 s → the bottleneck); results are identical.
    order = (F.asc("adc_ppm"), F.asc("neighbor_id"))
    local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= TOP_K)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_ppm", "rank")
    )


PQ_ADC_TOPK_SQL = f"""
WITH sub AS (
  SELECT vec_id, label, m.range AS m, r.range AS pos,
         CAST(embedding[CAST(m.range * {PQ_D} + r.range AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN range({PQ_M}) m CROSS JOIN range({PQ_D}) r
), cb AS (
  SELECT label AS code, m, pos, round(avg(v), 6) AS c
  FROM sub GROUP BY 1, 2, 3
), d AS (
  SELECT s.vec_id, s.m, cb.code,
         round(sum((s.v - cb.c) * (s.v - cb.c)), 6) AS d2r
  FROM sub s JOIN cb ON s.m = cb.m AND s.pos = cb.pos
  GROUP BY 1, 2, 3
), assigned AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2r, code) AS rn FROM d
  ) WHERE rn = 1
), lut AS (
  SELECT vec_id AS query_id, m, code,
         CAST(round(d2r * 1000000) AS BIGINT) AS d_ppm
  FROM d WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         CAST(sum(l.d_ppm) AS BIGINT) AS adc_ppm
  FROM assigned a JOIN lut l ON a.m = l.m AND a.code = l.code
  WHERE a.vec_id >= {N_QUERIES}
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_ppm, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_ppm, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# --- IVF-PQ (IVFADC) ---------------------------------------------------------


def _sqdist_ppm(a, b):
    """Σ (a_i − b_i)² over two BIGINT ppm arrays — pure integer fold,
    exact in any summation order on any engine (the float sqdist's
    8-term sum can flip a 1e-6 rounding boundary between engines; ppm
    magnitudes ≤ ~4e6 keep the squared sum far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _ivfpq_assign_residual(cents, df, id_col, emb_col, nrm_col, n):
    """Nearest-cell assignment KEEPING the winning centroid, emitting
    the BIGINT-ppm residual — shared by the inline query, the build
    path, and the probe path."""
    scored = df.join(F.broadcast(cents)).select(
        id_col,
        emb_col,
        "cell",
        "centroid",
        F.round(
            F.try_divide(
                _dot(F.col(emb_col), F.col("centroid")),
                F.col(nrm_col) * F.col("cent_nrm"),
            ),
            6,
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cell"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n)
        .select(
            id_col,
            "cell",
            F.zip_with(
                emb_col,
                "centroid",
                lambda x, y: F.round((x.cast("double") - y) * 1_000_000).cast(
                    "bigint"
                ),
            ).alias("resid"),
        )
    )


def _ivfpq_subvectors(df, *keys):
    return df.select(
        *keys,
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}),"
                f" m -> struct(m AS m, slice(resid, m * {PQ_D} + 1, {PQ_D}) AS svec))"
            )
        ).alias("s"),
    ).select(*keys, F.col("s.m").alias("m"), F.col("s.svec").alias("svec"))


def _ivfpq_corpus_residuals(spark, sf_dir):
    """Session-cached per-vector residual assignment — the expensive
    half of the index build (corpus × centroids ranking + ppm
    residual). Cached at the PER-VECTOR grain, not the exploded
    subvector grain, so the codebook-train and code-assign consumers
    each explode it cheaply instead of recomputing the assignment: the
    5M rehearsal measured the build at 2× the query precisely because
    both consumers re-ran this lineage."""
    from .dedup import _cached

    def build():
        e = _embeddings(spark, sf_dir)
        cents = centroids_with_norms(spark, sf_dir)
        corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.col("embedding").alias("c_emb"),
            _norm(F.col("embedding")).alias("c_nrm"),
        )
        return _ivfpq_assign_residual(
            cents, corpus.drop("label"), "neighbor_id", "c_emb", "c_nrm", 1
        ).join(corpus.select("neighbor_id", "label"), "neighbor_id")

    return _cached(spark, sf_dir, "ivfpq_resid", build)


def _ivfpq_corpus_subvectors(spark, sf_dir):
    return _ivfpq_subvectors(
        _ivfpq_corpus_residuals(spark, sf_dir), "neighbor_id", "label", "cell"
    )


def _ivfpq_build_cb(c_sub):
    # residual codebooks: per-(label, subspace) ppm mean of CORPUS
    # residual subvectors — deterministic 'trained' codebooks, same
    # framing as the PQ raw-vector codebooks (kmeans() shows the
    # refinement loop). avg(bigint) is sum/count of exact integers on
    # both engines — one IEEE division, cross-engine identical.
    return (
        c_sub.select("label", "m", F.posexplode("svec").alias("pos", "v"))
        .groupBy("label", "m", "pos")
        .agg(F.round(F.avg("v")).cast("bigint").alias("c"))
        .groupBy(F.col("label").alias("code"), "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("cvec")
        )
    )


def _ivfpq_encode(c_sub, cb):
    # encode: per-(corpus vector, subspace) argmin over codes — exact
    # integer distances, ties on code id
    return (
        c_sub.join(F.broadcast(cb), "m")
        .select(
            "neighbor_id",
            "cell",
            "m",
            "code",
            _sqdist_ppm(F.col("svec"), F.col("cvec")).alias("d2"),
        )
        .groupBy("neighbor_id", "cell", "m")
        .agg(F.min(F.struct("d2", "code")).alias("b"))
        .select("neighbor_id", "cell", "m", F.col("b.code").alias("code"))
    )


def _ivfpq_lut(cents, queries, cb, n_probe):
    q_res = _ivfpq_assign_residual(cents, queries, "query_id", "q_emb", "q_nrm", n_probe)
    return (
        _ivfpq_subvectors(q_res, "query_id", "cell")
        .join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "cell",
            "m",
            "code",
            _sqdist_ppm(F.col("svec"), F.col("cvec")).alias("d2"),
        )
    )


def _ivfpq_score_topk(codes, lut):
    scored = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .groupBy("query_id", "neighbor_id", "cell")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    order = (F.asc("adc_d2"), F.asc("neighbor_id"))
    local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= TOP_K)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cell", "adc_d2", "rank")
    )


def ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): the two compression levels this
    module builds separately — IVF coarse cells (`ann_ivf_topk`) and
    product quantization (`pq_adc_topk`) — composed the way a
    billion-scale index actually deploys them. Corpus vectors are
    assigned to their nearest coarse cell, the RESIDUAL to the cell
    centroid is PQ-encoded (residuals concentrate near the origin, so
    the same code budget quantizes them far more accurately than raw
    vectors), and a query probes only its N_PROBE nearest cells,
    scoring each cell's codes with a per-(query, cell) asymmetric
    lookup table built from the QUERY residual in that cell.

    Scale design: search cost is (corpus/cells × N_PROBE) table-lookup
    sums per query — the cell prune bounds candidates, the codes are 8
    bytes each, and the only big-side operation is one broadcast-LUT
    equi-join on (cell, m, code) followed by a two-phase top-k. The
    index (assignment + encode + codebooks) is session-cached: built
    once, queried many times (the 1M rehearsal measured the inline
    build at 2× the query itself; warm probes run 1.5 s vs the flat
    ADC scan's 43 s). `build_ivfpq_index`/`query_ivfpq_index` are the
    persisted, partition-pruned form of the same split.

    Cross-engine exactness: residual components quantize to BIGINT
    ppm at birth; every downstream distance is exact integer
    arithmetic (codebook entries round(avg(bigint)) — a single IEEE
    division of exact integer sums on both engines), so no sum order
    anywhere can flip a value. Ties break on code/cell/neighbor ids."""
    e = _embeddings(spark, sf_dir)
    cents = centroids_with_norms(spark, sf_dir)
    from .dedup import _cached

    cb = _cached(
        spark, sf_dir, "ivfpq_cb",
        lambda: _ivfpq_build_cb(_ivfpq_corpus_subvectors(spark, sf_dir)),
    )
    codes = _cached(
        spark, sf_dir, "ivfpq_codes",
        lambda: _ivfpq_encode(_ivfpq_corpus_subvectors(spark, sf_dir), cb),
    )
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    lut = _ivfpq_lut(cents, queries, cb, N_PROBE)
    return _ivfpq_score_topk(codes, lut)


def build_ivfpq_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the IVFADC index: coarse centroids + residual
    codebooks (both tiny) and the 8-byte code corpus partitioned BY
    CELL on disk — the layout a billion-vector index ships with
    (Jégou et al. 2011 §V: inverted lists of codes). Query-time work
    never re-touches raw vectors; only probed cell directories are
    read (partition pruning, verified in-plan)."""
    cents = centroids_with_norms(spark, sf_dir)
    c_sub = _ivfpq_corpus_subvectors(spark, sf_dir)
    cb = _ivfpq_build_cb(c_sub)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cb.write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    (
        _ivfpq_encode(c_sub, cb)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/codes")
    )


def query_ivfpq_index(
    spark: SparkSession, index_dir: str, queries: DataFrame, n_probe: int = None
) -> DataFrame:
    """Probe a persisted IVFADC index: rank cells against the broadcast
    centroids, build the per-(query, probed-cell) lookup tables from
    the broadcast codebooks, and ADC-score ONLY the probed cells'
    code directories (isin on the partition column prunes the rest).
    `queries` needs (query_id, q_emb). Result-identical to the inline
    ivfpq_adc_topk (tested)."""
    n_probe = N_PROBE if n_probe is None else n_probe
    cents = spark.read.parquet(f"{index_dir}/centroids")
    cb = spark.read.parquet(f"{index_dir}/codebooks")
    q = queries.select("query_id", "q_emb", _norm(F.col("q_emb")).alias("q_nrm"))
    # materialize the LUT (bounded: queries × n_probe × M × codes)
    # before collecting its cells — otherwise the codebook-join
    # distance job runs twice, once for the cell list and again
    # uncached inside _ivfpq_score_topk
    # lazy (r10): the probe-cell collect materializes it — one job
    lut = _ivfpq_lut(cents, q, cb, n_probe).localCheckpoint(eager=False)
    probe_cells = [r.cell for r in lut.select("cell").distinct().collect()]
    codes = spark.read.parquet(f"{index_dir}/codes").filter(
        F.col("cell").isin(probe_cells)
    )
    return _ivfpq_score_topk(codes, lut)


_IVFPQ_ASSIGN_DUCK = """
  SELECT {id_col}, cell, centroid, {emb} AS emb FROM (
    SELECT {id_col}, {emb}, cell, centroid,
           row_number() OVER (PARTITION BY {id_col}
                              ORDER BY csim DESC, cell) AS crank
    FROM (
      SELECT {src}.*, cents.cell, cents.centroid,
             round({dot_ec}
                   / (sqrt({dot_ee}) * sqrt({dot_cc})), 6) AS csim
      FROM {src} CROSS JOIN cents
    )
  ) WHERE crank <= {n}
"""

IVFPQ_ADC_TOPK_SQL = f"""
WITH {_CENTROID_DUCK},
corpus AS (
  SELECT vec_id AS neighbor_id, label, embedding AS c_emb
  FROM embeddings WHERE vec_id >= {N_QUERIES}
), queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
), inv AS ({_IVFPQ_ASSIGN_DUCK.format(
    id_col="neighbor_id", emb="c_emb", src="corpus", n=1,
    dot_ec=_DOT_DUCK.format(a="c_emb", b="centroid"),
    dot_ee=_DOT_DUCK.format(a="c_emb", b="c_emb"),
    dot_cc=_DOT_DUCK.format(a="centroid", b="centroid"))}
), rsub AS (
  SELECT i.neighbor_id, c.label, i.cell, m.range AS m, r.range AS spos,
         CAST(round((CAST(i.emb[CAST(m.range * {PQ_D} + r.range AS INT) + 1] AS DOUBLE)
               - i.centroid[CAST(m.range * {PQ_D} + r.range AS INT) + 1]) * 1000000) AS BIGINT) AS v
  FROM inv i JOIN corpus c USING (neighbor_id)
  CROSS JOIN range({PQ_M}) m CROSS JOIN range({PQ_D}) r
), cb AS (
  SELECT label AS code, m, spos, CAST(round(avg(v)) AS BIGINT) AS c
  FROM rsub GROUP BY 1, 2, 3
), d AS (
  SELECT s.neighbor_id, s.cell, s.m, cb.code,
         CAST(sum((s.v - cb.c) * (s.v - cb.c)) AS BIGINT) AS d2
  FROM rsub s JOIN cb ON s.m = cb.m AND s.spos = cb.spos
  GROUP BY 1, 2, 3, 4
), codes AS (
  SELECT neighbor_id, cell, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id, m
                                 ORDER BY d2, code) AS rn FROM d
  ) WHERE rn = 1
), probes AS ({_IVFPQ_ASSIGN_DUCK.format(
    id_col="query_id", emb="q_emb", src="queries", n=N_PROBE,
    dot_ec=_DOT_DUCK.format(a="q_emb", b="centroid"),
    dot_ee=_DOT_DUCK.format(a="q_emb", b="q_emb"),
    dot_cc=_DOT_DUCK.format(a="centroid", b="centroid"))}
), qsub AS (
  SELECT query_id, cell, m.range AS m, r.range AS spos,
         CAST(round((CAST(emb[CAST(m.range * {PQ_D} + r.range AS INT) + 1] AS DOUBLE)
               - centroid[CAST(m.range * {PQ_D} + r.range AS INT) + 1]) * 1000000) AS BIGINT) AS v
  FROM probes
  CROSS JOIN range({PQ_M}) m CROSS JOIN range({PQ_D}) r
), lut AS (
  SELECT q.query_id, q.cell, q.m, cb.code,
         CAST(sum((q.v - cb.c) * (q.v - cb.c)) AS BIGINT) AS d2
  FROM qsub q JOIN cb ON q.m = cb.m AND q.spos = cb.spos
  GROUP BY 1, 2, 3, 4
), scored AS (
  SELECT l.query_id, c.neighbor_id, c.cell,
         CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM codes c JOIN lut l USING (cell, m, code)
  GROUP BY 1, 2, 3
)
SELECT query_id, neighbor_id, cell, adc_d2, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_d2, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# --- truncated-dimension recall (Matryoshka-style eval) -----------------------

TRUNC_D = 16  # prefix dimensions kept by the truncated ranking


def truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of a PREFIX-truncated cosine ranking (first TRUNC_D of
    DIM dims) against the full-dimension exact top-k — the evaluation
    behind Matryoshka-style embedding truncation (Kusupati et al.
    2022): if prefix dims carry the signal, a 4× narrower index serves
    the first-stage retrieval. Same composed-eval shape as
    `ann_recall` (both rankings hash-verified end to end by one
    oracle), so the accuracy claim for the memory saving is itself a
    REGISTERED, driver-checked query.

    Plan: two broadcast-query scans over the corpus (the truncated one
    reads 4× fewer floats through the fold), two two-phase top-k
    ranks, one k-row-per-query join. Ties and rounding follow the
    brute-force contract (round-6 cosine, neighbor-id tiebreak)."""
    e = _embeddings(spark, sf_dir)

    def topk(dims: int, rank_col: str) -> DataFrame:
        emb = F.expr(f"slice(embedding, 1, {dims})")
        q = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            emb.alias("q_emb"),
            _norm(emb).alias("q_nrm"),
        )
        c = e.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("neighbor_id"),
            emb.alias("c_emb"),
            _norm(emb).alias("c_nrm"),
        )
        scored = c.join(F.broadcast(q)).select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    _dot(F.col("q_emb"), F.col("c_emb")),
                    F.col("q_nrm") * F.col("c_nrm"),
                ),
                6,
            ).alias("cosine"),
        )
        order = (F.col("cosine").desc(), F.asc("neighbor_id"))
        local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
        survivors = (
            scored.withColumn("pid", F.spark_partition_id())
            .withColumn("lrank", F.row_number().over(local_w))
            .filter(F.col("lrank") <= TOP_K)
            .drop("pid", "lrank")
        )
        w = Window.partitionBy("query_id").orderBy(*order)
        return (
            survivors.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full = topk(DIM, "rank_full")
    trunc = topk(TRUNC_D, "rank_trunc")
    hits = full.join(trunc, ["query_id", "neighbor_id"], "left_semi")
    return (
        full.select("query_id")
        .distinct()
        .join(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")),
              "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(f"CAST(coalesce(n_hits, 0) * 1000000 div {TOP_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


def _topk_duck(dims: int) -> str:
    emb = f"list_slice(embedding, 1, {dims})"
    dot = _DOT_DUCK.format(a="q_emb", b="c_emb")
    qn = _DOT_DUCK.format(a="q_emb", b="q_emb")
    cn = _DOT_DUCK.format(a="c_emb", b="c_emb")
    return f"""(
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM (
      SELECT q.query_id, c.neighbor_id,
             round({dot} / (sqrt({qn}) * sqrt({cn})), 6) AS cosine
      FROM (SELECT vec_id AS query_id, {emb} AS q_emb
            FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN (SELECT vec_id AS neighbor_id, {emb} AS c_emb
                  FROM embeddings WHERE vec_id >= {N_QUERIES}) c
    )
  ) WHERE rnk <= {TOP_K})"""


def int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the int8-RECONSTRUCTED cosine ranking against the
    full-precision exact top-k — the accuracy contract for the
    embed_quantize_int8 compression leg, completing the family of
    registered quantization evals (ann_recall for IVF pruning,
    truncation_recall for dimension cuts, hamming_recall for sign
    sketches: every lossy ANN layer carries a driver-hash-verified
    recall query).

    The approximate side ranks by cosine over x̂ = round(x/scale)·scale
    (scale = absmax/127, exactly embed_quantize_int8's grid), i.e. what
    a serving index that stores int8 codes + one scale per vector can
    compute. Determinism: the reconstruction is closed-form double
    arithmetic identical in both engines; cosines round to 1e-6 with
    the neighbor-id tiebreak — the brute-force contract. Plan: two
    broadcast-query corpus scans + two two-phase top-k ranks, the same
    bounded shape as truncation_recall."""
    # hoist the per-vector scale to its own projection so the
    # reconstruction is O(d) per row, not a nested absmax fold per
    # element; the eager localCheckpoint pins the reconstructed arrays
    # so Catalyst's projection collapse can't re-derive them per
    # broadcast-join output row
    e = (
        _embeddings(spark, sf_dir)
        .withColumn(
            "_scale",
            F.aggregate(
                F.transform("embedding", lambda x: F.abs(x.cast("double"))),
                F.lit(0.0),
                lambda a, x: F.greatest(a, x),
            )
            / 127.0,
        )
        .withColumn(
            "recon",
            F.expr(
                "transform(embedding, x -> CASE WHEN _scale > 0 "
                "THEN round(CAST(x AS DOUBLE) / _scale, 0) * _scale "
                "ELSE CAST(0.0 AS DOUBLE) END)"
            ),
        )
        .localCheckpoint(eager=False)
    )

    def topk(emb_col: str, rank_col: str) -> DataFrame:
        emb = F.col(emb_col)
        q = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            emb.alias("q_emb"),
            _norm(emb).alias("q_nrm"),
        )
        c = e.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("neighbor_id"),
            emb.alias("c_emb"),
            _norm(emb).alias("c_nrm"),
        )
        scored = c.join(F.broadcast(q)).select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    _dot(F.col("q_emb"), F.col("c_emb")),
                    F.col("q_nrm") * F.col("c_nrm"),
                ),
                6,
            ).alias("cosine"),
        )
        order = (F.col("cosine").desc(), F.asc("neighbor_id"))
        local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
        survivors = (
            scored.withColumn("pid", F.spark_partition_id())
            .withColumn("lrank", F.row_number().over(local_w))
            .filter(F.col("lrank") <= TOP_K)
            .drop("pid", "lrank")
        )
        w = Window.partitionBy("query_id").orderBy(*order)
        return (
            survivors.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full = topk("embedding", "rank_full")
    q8 = topk("recon", "rank_q8")
    hits = full.join(q8, ["query_id", "neighbor_id"], "left_semi")
    return (
        full.select("query_id")
        .distinct()
        .join(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")),
              "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(f"CAST(coalesce(n_hits, 0) * 1000000 div {TOP_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


# per-row scale hoisted into its own subquery level, mirroring the
# Spark side: the reconstruction is O(d), never a nested absmax fold
_RECON_DUCK_TABLE = """(
  SELECT vec_id,
         list_transform(embedding, x -> CASE WHEN scale > 0
           THEN round(CAST(x AS DOUBLE) / scale, 0) * scale
           ELSE CAST(0.0 AS DOUBLE) END) AS embedding
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings))"""


def _topk_emb_duck(table_sql: str) -> str:
    dot = _DOT_DUCK.format(a="q_emb", b="c_emb")
    qn = _DOT_DUCK.format(a="q_emb", b="q_emb")
    cn = _DOT_DUCK.format(a="c_emb", b="c_emb")
    return f"""(
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM (
      SELECT q.query_id, c.neighbor_id,
             round({dot} / (sqrt({qn}) * sqrt({cn})), 6) AS cosine
      FROM (SELECT vec_id AS query_id, embedding AS q_emb
            FROM {table_sql} WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN (SELECT vec_id AS neighbor_id, embedding AS c_emb
                  FROM {table_sql} WHERE vec_id >= {N_QUERIES}) c
    )
  ) WHERE rnk <= {TOP_K})"""


INT8_RECALL_SQL = f"""
WITH full_k AS {_topk_emb_duck("embeddings")},
q8_k AS {_topk_emb_duck(_RECON_DUCK_TABLE)},
hits AS (
  SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM full_k f JOIN q8_k t USING (query_id, neighbor_id)
  GROUP BY f.query_id
)
SELECT query_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(n_hits, 0) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT query_id FROM full_k) q
LEFT JOIN hits USING (query_id)
"""


TRUNCATION_RECALL_SQL = f"""
WITH full_k AS {_topk_duck(DIM)},
trunc_k AS {_topk_duck(TRUNC_D)},
hits AS (
  SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM full_k f JOIN trunc_k t USING (query_id, neighbor_id)
  GROUP BY f.query_id
)
SELECT query_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(n_hits, 0) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT query_id FROM full_k) q
LEFT JOIN hits USING (query_id)
"""


# --- cluster-quality evaluation (simplified silhouette) -----------------------


def silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette cluster-quality evaluation over the
    k-means result: per vector, s = (b − a) / max(a, b) where a is the
    distance to its own (nearest) final centroid and b to the
    second-nearest — the standard O(n·k) silhouette variant (the exact
    pairwise form is O(n²) and never runs at corpus scale). Registered
    as a first-class query so the driver hash-verifies the whole
    clustering eval, the same contract as embed_ann_recall.

    Shares the k-means trajectory exactly: final centroids replay the
    same broadcast-assign / tiny-recompute loop (identical rounding at
    every stage), and the own-cluster pick orders by the SQUARED
    rounded distance with the cell tiebreak — the assignment rule —
    before any sqrt, so a vector's cluster here can never disagree
    with embed_kmeans over a post-sqrt rounding tie.

    Plan shape: one broadcast join of k centroids onto the corpus, one
    per-vector k-row sorted-array aggregate (k is bounded), one
    cluster-grain aggregate. Determinism: distances round to 1e-6,
    s quantizes to ppm per vector (sums of NON-NEGATIVE integers —
    a ≤ b by argmin construction — so the integer-div mean is
    engine-identical); a == b == 0 yields NULL via try_divide, exactly
    the oracle's x/0."""
    e = _embeddings(spark, sf_dir)
    cents = _kmeans_final_cents(spark, sf_dir)
    scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        F.round(_sqdist(F.col("embedding"), F.col("centroid")), 6).alias("d2r"),
    )
    top2 = scored.groupBy("vec_id").agg(
        F.array_sort(F.collect_list(F.struct("d2r", "cell"))).alias("ds")
    )
    # F.get, not [] indexing: a single-cluster corpus has no second
    # centroid, and under ANSI mode ds[1] is a query-killing
    # INVALID_ARRAY_INDEX where get() yields NULL like the oracle's
    # missing rn=2 row (the F1 quarantine-not-poison rule; caught by
    # the embeddings fuzz tier on an all-one-label corpus)
    per_vec = top2.select(
        "vec_id",
        F.get("ds", 0)["cell"].alias("cluster"),
        F.round(F.sqrt(F.get("ds", 0)["d2r"]), 6).alias("a"),
        F.round(F.sqrt(F.get("ds", 1)["d2r"]), 6).alias("b"),
    ).select(
        "vec_id",
        "cluster",
        F.floor(
            F.try_divide(F.col("b") - F.col("a"), F.greatest("a", "b"))
            * 1_000_000
            + 0.5
        )
        .cast("bigint")
        .alias("s_ppm"),
    )
    return per_vec.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count("s_ppm").alias("n_scored"),
        F.expr("CAST(sum(s_ppm) div count(s_ppm) AS BIGINT)").alias("mean_sil_ppm"),
        F.min("s_ppm").alias("min_sil_ppm"),
        F.max("s_ppm").alias("max_sil_ppm"),
    )


SILHOUETTE_SQL = f"""
WITH {_KMEANS_CTES},
ranked AS (
  SELECT vec_id, cell, d2r,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rn
  FROM s2
), per_vec AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cell END) AS cluster,
         round(sqrt(max(CASE WHEN rn = 1 THEN d2r END)), 6) AS a,
         round(sqrt(max(CASE WHEN rn = 2 THEN d2r END)), 6) AS b
  FROM ranked WHERE rn <= 2 GROUP BY vec_id
), sil AS (
  SELECT vec_id, cluster,
         CASE WHEN greatest(a, b) <> 0
              THEN CAST(floor((b - a) / greatest(a, b) * 1000000 + 0.5) AS BIGINT)
         END AS s_ppm
  FROM per_vec
)
SELECT cluster, count(*) AS n_vectors,
       count(s_ppm) AS n_scored,
       CAST(sum(s_ppm) // count(s_ppm) AS BIGINT) AS mean_sil_ppm,
       min(s_ppm) AS min_sil_ppm,
       max(s_ppm) AS max_sil_ppm
FROM sil GROUP BY cluster
"""


# --- binary sign-sketch ANN (Hamming scan + exact rerank) ------------------

SIG_WORD_BITS = 32  # bits per signature word (DuckDB cannot shift into
# a BIGINT's sign bit, and 32-bit words generalize to any DIM as
# ceil(DIM/32) columns — the layout a real serving index would use)
SIG_WORDS = DIM // SIG_WORD_BITS
HAMMING_CAND = 4 * TOP_K  # binary-scan survivors per query before rerank


def _sig_word(col: str, w: int) -> "F.Column":
    """32-bit sign-signature word ``w``: bit i set iff dim (w*32+i) of
    the vector is positive — Charikar (2002) SRP bits with the identity
    basis (the corpus IS the rotation for synthetic data; a learned/
    random rotation drops in by rewriting the ``get`` index). Pure
    codegen integer fold — no Python, no floats past the comparison."""
    base = w * SIG_WORD_BITS
    return F.expr(
        f"aggregate(sequence(0, {SIG_WORD_BITS - 1}), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc | IF(get({col}, i + {base}) > 0.0D, "
        f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )


def hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached binary-sketch ranking (r10): two registered
    queries read it (its own gate + embed_hamming_recall); bounded
    query×TOP_K grain, the knn_bruteforce materialize-once pattern."""
    from .dedup import _cached

    return _cached(
        spark, sf_dir, "hamming_topk", lambda: _hamming_topk_build(spark, sf_dir)
    )


def _hamming_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-quantized ANN: 64 floats compress to 2 signature
    words (256 B -> 8 B, a 32x memory cut on top of which int8/PQ are
    the finer tiers), the first-stage scan is XOR+POPCNT over bigints
    (whole-stage codegen, no float math), and only the HAMMING_CAND
    survivors per query touch the real vectors for the exact-cosine
    rerank — the classic two-tier binary-sketch serving layout
    (Charikar 2002 random-hyperplane sketches; the reference engine,
    maillog2db.go:180-280, has no vector surface at all).

    Plan shape: one codegen scan builds signatures; the query head
    (N_QUERIES rows) broadcasts over the corpus for the Hamming scan;
    two-phase top-k keeps the candidate sort partition-local; the
    rerank joins survivors (<= HAMMING_CAND x N_QUERIES rows) back to
    the corpus floats by id. At 100 TB the signature table is the only
    full-width scan and it reads 8 bytes of sketch per vector."""
    e = _embeddings(spark, sf_dir)
    sigs = e.select(
        "vec_id",
        *[_sig_word("embedding", w).alias(f"sig{w}") for w in range(SIG_WORDS)],
    )
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"sig{w}").alias(f"q{w}") for w in range(SIG_WORDS)],
    )
    c = sigs.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"sig{w}").alias(f"c{w}") for w in range(SIG_WORDS)],
    )
    ham = " + ".join(f"bit_count(q{w} ^ c{w})" for w in range(SIG_WORDS))
    scored = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id",
        F.expr(f"CAST({ham} AS BIGINT)").alias("hamming"),
    )
    # two-phase candidate top-k (same monoid as knn_bruteforce: local
    # per-partition rank, then a global rank over <= cand*partitions
    # survivors — no single-partition sort at any corpus size)
    order = (F.asc("hamming"), F.asc("neighbor_id"))
    local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
    cand = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= HAMMING_CAND)
        .drop("pid", "lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    cand = (
        cand.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= HAMMING_CAND)
        .drop("crank")
    )
    # exact rerank: survivors join back to the float vectors; the query
    # side is the broadcast N_QUERIES head, the corpus side an id
    # equi-join touching only candidate rows
    en = embeddings_with_nrm(spark, sf_dir)
    qe = en.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    ce = en.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    rer = (
        cand.join(ce, "neighbor_id")
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id", "neighbor_id", "hamming",
            F.round(
                F.try_divide(
                    _dot(F.col("q_emb"), F.col("c_emb")),
                    F.col("q_nrm") * F.col("c_nrm"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    )


def _sig_word_duck(w: int) -> str:
    base = w * SIG_WORD_BITS
    return (
        f"list_aggregate(list_transform(range({SIG_WORD_BITS}), i -> "
        f"CASE WHEN embedding[i + {base + 1}] > 0 THEN (1::BIGINT << i) "
        f"ELSE 0::BIGINT END), 'bit_or')"
    )


HAMMING_TOPK_SQL = f"""
WITH sigs AS (
  SELECT vec_id,
         {", ".join(f"{_sig_word_duck(w)} AS sig{w}" for w in range(SIG_WORDS))}
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id,
         {", ".join(f"sig{w} AS q{w}" for w in range(SIG_WORDS))}
  FROM sigs WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id,
         {", ".join(f"sig{w} AS c{w}" for w in range(SIG_WORDS))}
  FROM sigs WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT query_id, neighbor_id,
         CAST({" + ".join(f"bit_count(xor(q{w}, c{w}))" for w in range(SIG_WORDS))}
              AS BIGINT) AS hamming
  FROM c CROSS JOIN q
), cand AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS crank
  FROM scored
), rer AS (
  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         round({_DOT_DUCK.format(a='qe.embedding', b='ce.embedding')}
               / (sqrt({_DOT_DUCK.format(a='qe.embedding', b='qe.embedding')})
                  * sqrt({_DOT_DUCK.format(a='ce.embedding', b='ce.embedding')})),
               6) AS cosine
  FROM cand
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  WHERE cand.crank <= {HAMMING_CAND}
), ranked AS (
  SELECT query_id, neighbor_id, hamming, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, hamming, cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


def hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the binary-sketch retrieval (Hamming scan + exact
    rerank) against the exact brute-force top-k — the accuracy
    contract the 32x sketch compression ships with, hash-verified end
    to end like `ann_recall` / `truncation_recall`."""
    ham = hamming_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        ham.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr(f"CAST(coalesce(n_hit, 0) * 1000000 div {TOP_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


HAMMING_RECALL_SQL = f"""
WITH ham AS (
  SELECT query_id, neighbor_id FROM ({HAMMING_TOPK_SQL})
), exact AS (
  SELECT query_id, neighbor_id FROM ({KNN_BRUTEFORCE_SQL})
), hits AS (
  SELECT h.query_id, count(*) AS n_hit
  FROM ham h JOIN exact e USING (query_id, neighbor_id)
  GROUP BY h.query_id
)
SELECT q.query_id,
       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
       CAST(coalesce(n_hit, 0) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits ON hits.query_id = q.query_id
"""
