"""Round-8 operator tests: the StandardScaler overflow boundary, the
length-gated duplicate-span dedup (ExactSubstr / C4 family), and its
streaming admission gate."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from maillog2db_spark.streaming_util import start_foreach_batch_stream


def test_standard_scaler_exact_past_bigint_overflow(spark):
    """The round-7 'weak': bigint moment sums silently wrap once
    n·sxx leaves int64 (~3e3 adversarial unit-scale vectors). The
    shipped DECIMAL(38,0) path must match an arbitrary-precision
    Python oracle on a corpus sized PROVABLY past that bound."""
    from maillog2db_spark.operators.selection import scaler_from

    n = 6000
    # deterministic unit-scale xq in [-1e6, 1e6] (Weyl sequence)
    xs = [((i * 2654435761) % 2000001) - 1000000 for i in range(n)]
    sx = sum(xs)
    sxx = sum(x * x for x in xs)
    # the boundary is real: a bigint n*sxx (and sx*sx) would wrap
    assert n * sxx > 2**63 - 1
    el = spark.createDataFrame(
        [(i, 0, x) for i, x in enumerate(xs)],
        "vec_id bigint, dim int, xq bigint",
    )
    got = {r.vec_id: r.z_ppm for r in scaler_from(el).collect()}
    var_n2 = n * sxx - sx * sx  # exact Python int, no wrap
    den = math.sqrt(float(var_n2))
    for i, x in enumerate(xs):
        want = math.floor(float(x * n - sx) / den * 1_000_000 + 0.5)
        assert got[i] == want, (i, got[i], want)


def test_span_dedup_removes_exactly_the_long_copy(spark, tmp_path):
    """ExactSubstr semantics: a doc embedding a verbatim >=
    SPAN_MIN_TOKENS-token copy of an earlier doc's passage loses
    EXACTLY that passage (first writer untouched); a shorter verbatim
    copy is below the length gate and survives intact — the contract
    that separates span_dedup from shingle-grain span_scrub."""
    import hashlib

    from maillog2db_spark.operators import corpus_analytics as ca

    span = ("alpha bravo charlie delta echo foxtrot golf hotel"
            " india juliet kilo lima mike november")  # 14 tokens
    a = span
    b = "start padding words " + span + " end padding here"
    c = "totally new thoughts alpha bravo charlie delta echo foxtrot plus more fresh prose"
    rows = [(0, a, "en", "s", len(a)), (1, b, "en", "s", len(b)),
            (2, c, "en", "s", len(c))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in ca.span_dedup(spark, str(tmp_path)).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # first writer: untouched
    assert out[0].n_spans == 0 and out[0].n_removed == 0
    assert out[0].scrubbed_md5 == md5(a)
    # the 14-token copy is one qualifying span; exactly it is removed
    assert out[1].n_spans == 1 and out[1].n_removed == 14
    assert out[1].scrubbed_md5 == md5("start padding words end padding here")
    # the 6-token copy is duplicated but below the 12-token gate
    assert out[2].n_spans == 0 and out[2].n_removed == 0
    assert out[2].scrubbed_md5 == md5(c)


def test_streaming_span_gate_matches_batch(spark, tmp_path_factory):
    """The admission gate, fed doc_id-monotone waves, serves EXACTLY
    the batch twin's verdicts (doc_span_dedup + the shared threshold
    expression); fresh-checkpoint replay and a crash-window re-ingest
    change nothing; an out-of-order batch raises."""
    import os
    import shutil as _sh

    import pytest
    from pyspark.sql import functions as F

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_span_gate as sg
    from maillog2db_spark.operators import corpus_analytics as ca

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want = sorted(
        map(tuple, sg.gate_verdicts_from(ca.span_dedup(spark, sf)).collect())
    )
    # the gate must DO something on this corpus: both verdicts present
    admitted = {w[-1] for w in want}
    assert admitted == {True, False}, "corpus exercises only one verdict"

    d = tmp_path_factory.mktemp("span_gate")
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

    store = sg.SpanGateStore(str(d / "store"), n_buckets=4)
    q = start_foreach_batch_stream(
        spark, str(src), sg.span_gate_ingest_batch, store, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(map(tuple, store.verdicts.read(spark).drop("batch_id").collect())) == want

    # fresh-checkpoint replay: ledger skips every wave, verdicts stable
    q2 = start_foreach_batch_stream(
        spark, str(src), sg.span_gate_ingest_batch, store, str(d / "ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert sorted(map(tuple, store.verdicts.read(spark).drop("batch_id").collect())) == want

    # crash inside the commit window: drop batch 1's ledger mark and
    # re-ingest directly — provenance filtering makes it converge
    os.remove(store._ledger(1))
    sg.span_gate_ingest_batch(
        spark,
        docs.filter((F.col("doc_id") >= 170) & (F.col("doc_id") < 340)),
        store,
        1,
    )
    assert sorted(map(tuple, store.verdicts.read(spark).drop("batch_id").collect())) == want

    # out-of-order batch: earlier doc_ids after later ones must raise —
    # already-served first-writer verdicts cannot be revised
    store2 = sg.SpanGateStore(str(d / "store2"), n_buckets=4)
    sg.span_gate_ingest_batch(
        spark, docs.filter(F.col("doc_id") >= 170), store2, 0
    )
    with pytest.raises(ValueError, match="doc_id-monotone"):
        sg.span_gate_ingest_batch(
            spark, docs.filter(F.col("doc_id") < 170), store2, 1
        )


def test_gopher_rules_verdicts_per_planted_class(spark, tmp_path):
    """Planted rule-violation classes, thresholds per Rae et al. 2021
    A1.1: a 60-word stopword-bearing prose doc passes; a short doc
    fails word count only; a bullet-list doc fails the bullet rule; a
    symbol-dense doc fails the symbol ratio; a digit-soup doc fails
    the alpha-word share."""
    from maillog2db_spark.operators.quality import gopher_rules

    prose = ("the quick brown fox jumps over that lazy dog and runs off "
             "to the river with great speed be sure of it have no doubt "
             "about the story it tells us today " * 2).strip()  # 62 words
    short = "the cat sat with the hat and that mat of be have"  # 12 words
    filler = "word " * 55
    bullets = "\n".join("- item " + str(i) for i in range(10))
    symbols = (filler + "# " * 20 + "of the and that be have").strip()
    digits = ("the of and that be have with to " + "1234 " * 60).strip()
    rows = [
        (0, prose), (1, short), (2, bullets), (3, symbols), (4, digits),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in gopher_rules(spark, str(tmp_path)).collect()}
    assert got[0].passes, got[0]
    assert not got[1].passes and not got[1].word_count_ok \
        and got[1].stopword_ok and got[1].mean_len_ok
    assert not got[2].bullet_ok
    assert not got[3].symbol_ok and got[3].stopword_ok
    assert not got[4].alpha_ok and got[4].stopword_ok


def test_winnowing_overlap_finds_the_planted_copy(spark, tmp_path):
    """MOSS guarantee at this parameterization: two docs sharing a
    verbatim substring of >= OVERLAP_K + OVERLAP_W - 1 = 31 chars must
    share a fingerprint; with >= 2 shared they pair. An unrelated doc
    pairs with nobody."""
    from maillog2db_spark.operators.quality import winnowing_overlap

    span = "the quick brown fox jumps over the lazy dog near the river bank today"
    a = "intro words here " + span + " closing remarks"
    b = "different opening " + span + " and a different ending entirely"
    c = "wholly unrelated content about databases and query optimizers"
    rows = [(0, a), (1, b), (2, c)]
    df = spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = winnowing_overlap(spark, str(tmp_path)).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in got}
    assert (0, 1) in pairs and pairs[(0, 1)].n_shared >= 2
    assert 0 < pairs[(0, 1)].containment_ppm <= 1_000_000
    assert all(2 not in p for p in pairs)


def test_doremi_upweights_the_hard_domain(spark, tmp_path):
    """Hedge semantics: the domain whose tokens the reference LM finds
    hard (rare vocabulary -> high excess NLL) must end with a HIGHER
    mixture weight than the easy domain; weights stay a distribution
    (sum within integer-truncation slack of 1e6); a single-domain
    corpus pins excess = 0 and weight = 1e6."""
    from maillog2db_spark.operators.sampling import doremi_weights

    # 'easy' repeats a tiny vocabulary; 'hard' is all-distinct tokens
    rows = []
    for i in range(20):
        rows.append((i, "the cat sat on the mat " * 3, "en", "easy", 0))
    for i in range(20, 30):
        rows.append((i, " ".join(f"rare{i}x{j}" for j in range(12)), "en",
                     "hard", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in doremi_weights(spark, str(tmp_path)).collect()}
    assert got["hard"].excess_ppm > 0 > got["easy"].excess_ppm
    assert got["hard"].weight_ppm > got["easy"].weight_ppm
    total = sum(r.weight_ppm for r in got.values())
    assert 1_000_000 - len(got) <= total <= 1_000_000

    single = tmp_path / "single"
    single.mkdir()
    df.filter("source = 'easy'").write.parquet(
        str(single / "documents.parquet")
    )
    one = doremi_weights(spark, str(single)).collect()
    assert len(one) == 1 and one[0].excess_ppm == 0 \
        and one[0].weight_ppm == 1_000_000


def test_ccnet_buckets_split_each_language_in_thirds(spark):
    """The grid must partition every language's docs into ntile-thirds
    with monotone non-overlapping NLL boundaries (head <= middle <=
    tail) — checked on the real sf0.001 corpus."""
    from maillog2db_spark.operators.corpus_analytics import ccnet_buckets

    rows = ccnet_buckets(spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, b in by_lang.items():
        assert set(b) == {1, 2, 3}, (lang, b)
        n = sorted(b[k].n_docs for k in b)
        assert n[-1] - n[0] <= 1, (lang, n)  # ntile balanced fill
        assert b[1].max_nll_ppm <= b[2].min_nll_ppm <= b[2].max_nll_ppm \
            <= b[3].min_nll_ppm, (lang, b)
