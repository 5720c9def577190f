"""Round-7 hardening tests: the four advisor findings.

1. streaming_triangles enforces (not just documents) the
   whole-orders-per-batch contract;
2. unigram compaction preserves the gate's as-of-before view
   (keep_latest window) and batch_mink_stats raises rather than score
   against a model that contains the drop;
3. DenseTopKStore.register_queries is crash-safe (staged write);
4. the LM gate's OOV floor binds only true OOV events — rare-but-seen
   scores its real probability, strictly below never-seen in NLL.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from maillog2db_spark.streaming_util import start_foreach_batch_stream

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars int"
LI_SCHEMA = "l_orderkey bigint, l_partkey bigint"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows], DOC_SCHEMA
    )


# --- 1. whole-orders-per-batch enforcement -----------------------------------


def test_triangle_order_grain_violation_raises(spark, tmp_path):
    from maillog2db_spark import streaming_triangles as st

    store = st.TriangleStore(str(tmp_path / "store"))
    b0 = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (2, 13)], LI_SCHEMA
    )
    st.triangles_ingest_batch(spark, b0, store, 0)

    # disjoint orders: fine
    b1 = spark.createDataFrame([(3, 10), (3, 14)], LI_SCHEMA)
    st.triangles_ingest_batch(spark, b1, store, 1)

    # order 2 reappears in a later batch — the silent-undercount case
    bad = spark.createDataFrame([(2, 14), (4, 15)], LI_SCHEMA)
    with pytest.raises(ValueError, match="whole-orders-per-batch"):
        st.triangles_ingest_batch(spark, bad, store, 2)

    # committed redelivery of an old batch: no-op, no false positive
    st.triangles_ingest_batch(spark, b0, store, 0)
    # crash-window replay (data written, ledger mark lost): the batch's
    # own partitions are excluded from the check, replay converges
    os.remove(store._ledger(1))
    st.triangles_ingest_batch(spark, b1, store, 1)
    assert store.committed(1)


def test_triangle_order_grain_range_pruning(spark, tmp_path):
    """Disjoint key ranges never scan the orderkey partitions — assert
    by poisoning the orders store and showing no raise happens (the
    probe would find the poisoned key if it ran)."""
    from maillog2db_spark import streaming_triangles as st

    store = st.TriangleStore(str(tmp_path / "store"))
    b0 = spark.createDataFrame([(10, 1), (11, 2)], LI_SCHEMA)
    st.triangles_ingest_batch(spark, b0, store, 0)
    # poison: claim batch 0's RANGE was [10, 11] but sneak key 100 into
    # its orderkey partition; a non-overlapping incoming range must not
    # even look at it
    extra = spark.createDataFrame([(100,)], "l_orderkey bigint")
    (
        extra.withColumn("batch_id", F.lit(0).cast("long"))
        .write.mode("append").partitionBy("batch_id")
        .parquet(store.orders.path)
    )
    b1 = spark.createDataFrame([(100, 3), (101, 4)], LI_SCHEMA)
    st.triangles_ingest_batch(spark, b1, store, 1)  # no raise: ranges disjoint
    assert store.committed(1)


# --- 2. gate as-of view survives compaction ----------------------------------


def test_lm_compaction_keeps_gate_asof_window(spark, tmp_path):
    from maillog2db_spark import streaming_lm as sl

    store = sl.BigramStore(str(tmp_path / "store"))
    waves = [
        _docs(spark, [(1, "alpha beta gamma alpha beta")]),
        _docs(spark, [(2, "beta gamma delta beta gamma")]),
        _docs(spark, [(3, "gamma delta alpha gamma delta")]),
    ]
    for i, w in enumerate(waves):
        sl.lm_ingest_batch(spark, w, store, i)

    before = sorted(
        map(tuple, sl.batch_mink_stats(spark, waves[2], store, 2).collect())
    )
    # default keep_latest=1 keeps batch 2 raw: the gate re-run is exact
    store.unigrams.compact(spark, store.committed)
    after = sorted(
        map(tuple, sl.batch_mink_stats(spark, waves[2], store, 2).collect())
    )
    assert before == after

    # fold EVERYTHING: the as-of view for batch 2 is gone — the gate
    # must refuse rather than score against a model containing the drop
    store.unigrams.compact(spark, store.committed, keep_latest=0)
    with pytest.raises(ValueError, match="compacted away"):
        sl.batch_mink_stats(spark, waves[2], store, 2)
    # resolved full-model views are unaffected by either compaction
    assert sl.bigram_lm_score(spark, store).count() == 3


# --- 3. crash-safe query registration ----------------------------------------


def test_retrieval_eval_register_queries_crash_safe(spark, tmp_path):
    from maillog2db_spark import streaming_retrieval_eval as sre

    store = sre.DenseTopKStore(str(tmp_path / "store"))
    # a stale mid-write temp dir from a crashed earlier registration
    # must not block (or corrupt) a fresh registration
    stale = store.queries.path + "_rewriting"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0], i % 3) for i in range(40)],
        "vec_id bigint, embedding array<double>, label int",
    )
    store.register_queries(emb)
    q1 = store.queries.read(spark).count()
    assert q1 > 0 and not os.path.isdir(stale)
    # idempotent second call
    store.register_queries(emb)
    assert store.queries.read(spark).count() == q1


# --- 4. OOV floor binds only true OOV ----------------------------------------


def test_lm_gate_rare_seen_beats_never_seen(spark, tmp_path):
    """A drop whose tokens the corpus HAS seen (once) must score a
    strictly LOWER tail NLL than a drop of never-seen tokens — under
    the old global floor both clamped to the same 1/(total+1) and the
    novelty signal compressed to zero exactly where it matters."""
    from maillog2db_spark import streaming_lm as sl

    store = sl.BigramStore(str(tmp_path / "store"))
    corpus = _docs(
        spark,
        [(1, "filler " * 200 + "rarea rareb")],  # rare tokens seen once
    )
    sl.lm_ingest_batch(spark, corpus, store, 0)

    rare_seen = _docs(spark, [(100, "rareb rarea")])  # unseen BIGRAM, seen toks
    never_seen = _docs(spark, [(200, "zzqua zzqub")])  # true OOV
    rs = sl.batch_mink_stats(spark, rare_seen, store, 7).collect()[0]
    ns = sl.batch_mink_stats(spark, never_seen, store, 8).collect()[0]
    assert rs.mink_avg_nll_ppm < ns.mink_avg_nll_ppm


# --- streaming pHash dual -----------------------------------------------------


def test_streaming_phash_matches_batch(spark, tmp_path_factory):
    """Perceptual near-dup streams in waves: resolved pairs and
    clusters equal the batch mm_phash_neardup / mm_phash_clusters over
    the union (shared signature core + shared banded join); committed
    redelivery is a no-op and a crash-window replay converges."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_phash as sp
    from maillog2db_spark.operators import multimodal as mm

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    want_pairs = sorted(map(tuple, mm.phash_neardup(spark, sf).collect()))
    want_clusters = sorted(map(tuple, mm.phash_clusters(spark, sf).collect()))
    assert len(want_pairs) > 0

    d = tmp_path_factory.mktemp("phash_store")
    store = sp.PhashStore(str(d / "store"))
    waves = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
             for i in range(3)]
    for i, w in enumerate(waves):
        sp.phash_ingest_batch(spark, w, store, i)

    def pairs():
        return sorted(map(tuple, sp.neardup_pairs(spark, store).collect()))

    assert pairs() == want_pairs
    assert sorted(
        map(tuple, sp.neardup_clusters(spark, store).collect())
    ) == want_clusters

    # committed redelivery: no-op
    sp.phash_ingest_batch(spark, waves[1], store, 1)
    assert pairs() == want_pairs
    # crash window: partials written, ledger mark lost — dynamic
    # overwrite replaces exactly that batch's partitions on replay,
    # and the probe excludes the batch's own partitions
    os.remove(store._ledger(2))
    sp.phash_ingest_batch(spark, waves[2], store, 2)
    assert pairs() == want_pairs

    # streaming-API surface lands on the same resolved pairs
    src = d / "drops"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        _sh.move(str(next(tmp.glob("part-*.parquet"))),
                 str(src / f"wave{i}.parquet"))
        _sh.rmtree(tmp)
    store2 = sp.PhashStore(str(d / "store2"))
    q = start_foreach_batch_stream(
        spark, str(src), sp.phash_ingest_batch, store2, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        map(tuple, sp.neardup_pairs(spark, store2).collect())
    ) == want_pairs


def test_streaming_keyed_fingerprint_matches_batch(spark, tmp_path_factory):
    """The keyed-fingerprint store serves BOTH remaining perceptual
    modalities: audio constellation and video frame-bag near-dup
    pairs streamed in waves equal their batch twins over the union;
    committed redelivery is a no-op and a crash-window replay
    converges."""
    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_fingerprint as sf_mod
    from maillog2db_spark.operators import multimodal as mm

    sf = "/root/testdata/sf0.001"
    docs = mio.load(spark, sf, "documents")
    waves = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
             for i in range(3)]
    d = tmp_path_factory.mktemp("fp_stores")

    cases = [
        ("audio", sf_mod.audio_ingest_batch, mm.audio_neardup,
         mm.AUDIO_MIN_SHARED, ("snd_a", "snd_b")),
        ("video", sf_mod.video_ingest_batch, mm.video_phash_neardup,
         mm.VIDEO_MIN_SHARED, ("vid_a", "vid_b")),
    ]
    for name, ingest, batch_fn, min_shared, _cols in cases:
        want = sorted(map(tuple, batch_fn(spark, sf).collect()))
        assert len(want) > 0
        store = sf_mod.KeyedFingerprintStore(
            str(d / f"{name}_store"), min_shared=min_shared
        )
        for i, w in enumerate(waves):
            ingest(spark, w, store, i)

        def pairs():
            return sorted(
                map(tuple, sf_mod.neardup_pairs(spark, store).collect())
            )

        assert pairs() == want, name
        # committed redelivery: no-op
        ingest(spark, waves[0], store, 0)
        assert pairs() == want, name
        # crash window: keys+pairs written, ledger lost — replay
        # excludes the batch's own partitions and converges
        os.remove(store._ledger(2))
        ingest(spark, waves[2], store, 2)
        assert pairs() == want, name


def test_fingerprint_match_keys_serving_path(spark, tmp_path):
    """Ad-hoc lookup against the accumulated keyed-fingerprint index:
    equals a brute-force recount, and the plan actually prunes to the
    probe keys' fbucket partitions."""
    from maillog2db_spark import streaming_fingerprint as sf_mod

    store = sf_mod.KeyedFingerprintStore(str(tmp_path / "s"), min_shared=2)
    rows = [(i, f"k{j}") for i in range(20) for j in (i % 5, (i + 1) % 5, 9)]
    keys = spark.createDataFrame(rows, "item_id bigint, fkey string")
    sf_mod.fingerprint_ingest_batch(spark, keys, store, 0)

    probe = ["k1", "k2", "k9"]
    got = {
        (r.item_id, r.n_shared)
        for r in sf_mod.match_keys(spark, store, probe).collect()
    }
    want = {}
    for i, k in rows:
        if k in probe:
            want[i] = want.get(i, set()) | {k}
    want = {(i, len(ks)) for i, ks in want.items() if len(ks) >= 2}
    assert got == want

    plan = sf_mod.match_keys(spark, store, probe)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "fbucket" in plan  # the pruning column reaches the scan


# --- round-7 late additions: k-center coreset, WordPiece, Zipf fit -----------

SF001 = "/root/testdata/sf0.001"


def test_kcenter_invariants_and_prefix_consistency(spark):
    """Greedy k-center: the selection trajectory obeys the algorithm's
    defining invariants, and the greedy-prefix property holds (a K=4
    run IS the first 4 steps of the K=8 run)."""
    from maillog2db_spark.operators.selection import kcenter_select

    full = kcenter_select(spark, SF001, 8).orderBy("step").collect()
    assert [r.step for r in full] == list(range(1, 9))
    assert len({r.center_id for r in full}) == 8  # centers distinct
    # coverage radius is non-increasing from step 2 on (min-dists only
    # shrink as centers are added, so their max shrinks too)
    radii = [r.radius_ppm for r in full][1:]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert all(r.radius_ppm >= 0 for r in full)
    # assignment census partitions the whole corpus
    n = spark.read.parquet(f"{SF001}/embeddings.parquet").count()
    assert sum(r.n_assigned for r in full) == n
    assert all(r.n_assigned >= 1 for r in full)  # each center owns itself

    pre = kcenter_select(spark, SF001, 4).orderBy("step").collect()
    assert [(r.step, r.center_id, r.radius_ppm) for r in pre] == [
        (r.step, r.center_id, r.radius_ppm) for r in full[:4]
    ]


def test_wordpiece_picks_association_over_raw_frequency(spark, tmp_path):
    """The defining behavioral split between the two greedy trainers:
    pair (a,b) is 3x more frequent than (x,y), but a and b are
    individually common while x and y appear ONLY together — WordPiece
    (likelihood gain cnt(ab)/(cnt(a)*cnt(b))) must fuse xy first while
    BPE (raw pair frequency) fuses ab."""
    from maillog2db_spark.operators.text import (
        bpe_train_merges,
        wordpiece_train_merges,
    )

    text = " ".join(["ab"] * 10 + ["a"] * 20 + ["b"] * 20 + ["xy"] * 3)
    _docs(spark, [(0, text)]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)

    wp = wordpiece_train_merges(spark, sf).orderBy("step").collect()
    bpe = bpe_train_merges(spark, sf).orderBy("step").collect()
    assert wp[0].merged == "xy"
    assert bpe[0].merged == "ab"
    # exact likelihood-gain score: cnt(x,y)=3, cnt(x)=cnt(y)=3
    # -> floor(3e12 / 9) = 333_333_333_333
    assert wp[0].pair_count == 3
    assert wp[0].score_ppt == 333_333_333_333


def test_wordpiece_matches_naive_recount(spark, tmp_path):
    """The incremental pair+unary delta maintenance must reproduce the
    naive recount trajectory (the oracle's formulation) on a corpus
    where merges overlap: symbols from step-1's fusion participate in
    step-2 scoring."""
    from maillog2db_spark.operators.text import (
        WORDPIECE_TRAIN_ITERS,
        _bpe_words,
        _unary_counts,
        _wordpiece_train,
    )
    from pyspark.sql import functions as F  # noqa: F811

    text = " ".join(
        ["abc"] * 6 + ["ab"] * 4 + ["bc"] * 5 + ["a"] * 3 + ["c"] * 2
    )
    _docs(spark, [(0, text)]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)

    syms0 = _bpe_words(spark, sf, with_tok=False)
    _final, merges = _wordpiece_train(
        spark, syms0, WORDPIECE_TRAIN_ITERS, keys=("freq",)
    )

    # naive recount reference in plain Python
    words = {"abc": 6, "ab": 4, "bc": 5, "a": 3, "c": 2}
    state = {tuple(w): f for w, f in words.items()}
    naive = []
    for step in range(1, WORDPIECE_TRAIN_ITERS + 1):
        pairs: dict = {}
        unary: dict = {}
        for sym_seq, f in state.items():
            for s in sym_seq:
                unary[s] = unary.get(s, 0) + f
            for i in range(len(sym_seq) - 1):
                p = (sym_seq[i], sym_seq[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        import math

        best = max(
            pairs.items(),
            key=lambda kv: (
                math.floor(kv[1] * 1e12 / (unary[kv[0][0]] * unary[kv[0][1]])),
                kv[0][0],
                kv[0][1],
            ),
        )
        (l, r), cnt = best
        score = math.floor(cnt * 1e12 / (unary[l] * unary[r]))
        naive.append((step, l, r, cnt, score))
        new_state: dict = {}
        for sym_seq, f in state.items():
            out = []
            i = 0
            while i < len(sym_seq):
                if (
                    i + 1 < len(sym_seq)
                    and sym_seq[i] == l
                    and sym_seq[i + 1] == r
                ):
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym_seq[i])
                    i += 1
            t = tuple(out)
            new_state[t] = new_state.get(t, 0) + f
        state = new_state
    assert merges == naive

    # and the incremental unary table equals a recount of the final syms
    inc = {
        (r.sym, r.ucnt)
        for r in _unary_counts(_final, F.col("freq")).collect()
    }
    rec = {}
    for sym_seq, f in state.items():
        for s in sym_seq:
            rec[s] = rec.get(s, 0) + f
    assert inc == set(rec.items())


def test_zipf_fit_recovers_unit_slope(spark, tmp_path):
    """On an exactly Zipf-distributed synthetic corpus (freq_i =
    1200//i), the fitted slope must sit within 3% of -1 (and the
    intercept near ln(1200))."""
    from maillog2db_spark.operators.text import zipf_fit

    toks = []
    for i in range(1, 51):
        toks += [f"w{i:03d}"] * (1200 // i)
    text = " ".join(toks)
    _docs(spark, [(0, text)]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    row = zipf_fit(spark, str(tmp_path)).collect()[0]
    assert row.n_ranks == 50
    assert -1_030_000 <= row.slope_ppm <= -970_000
    import math

    assert abs(row.intercept_ppm - math.log(1200) * 1e6) < 60_000
    assert row.n_terms == 50
    assert row.n_tokens == sum(1200 // i for i in range(1, 51))
    assert row.top_freq == 1200


def test_bot_score_flags_metronomic_and_bursty_not_human(spark, tmp_path):
    """Planted behavioral classes: a metronomic scheduler (exact 60s
    gaps -> CV^2 = 0), a burst scraper (sub-second gaps), and a
    human-ish jittery user (gaps spread over minutes-to-hours) — the
    first two flag, the human does not; a 2-event user is never
    flagged regardless of timing."""
    from maillog2db_spark.operators.windows import bot_score

    rows = []
    eid = 0

    def add(user, offsets_s):
        nonlocal eid
        for o in offsets_s:
            rows.append((eid, 1_700_000_000_000_000 + o * 1_000_000, user))
            eid += 1

    add(1, [i * 60 for i in range(20)])            # metronomic: 60s exactly
    add(2, [i // 2 for i in range(20)])            # burst: 0-1s gaps
    add(3, [0, 47, 290, 1000, 4200, 9000, 40000])  # human-ish jitter
    add(4, [0, 1])                                 # too few events
    add(5, [i * 100 for i in range(7)])            # metronomic, TOTAL gap
    # time under 1000s: the round-7 cv2 denominator (sg^2 div 1e6)
    # truncated to 0 here and the flag came out NULL — the advisor's
    # blind spot, closed by the numerator-scaled small-sg branch
    df = spark.createDataFrame(
        [(e, u, t) for e, t, u in rows], "event_id bigint, user_id bigint, us bigint"
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id",
        "'click' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
        "'{}' AS props",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {r.user_id: r for r in bot_score(spark, str(tmp_path)).collect()}
    assert got[1].is_bot and got[1].cv2_ppm == 0
    assert got[2].is_bot and got[2].fast_ppm == 1_000_000
    assert not got[3].is_bot
    assert not got[4].is_bot and got[4].n_gaps == 1
    assert got[5].is_bot and got[5].cv2_ppm == 0  # short-total-gap branch


def test_streaming_bot_store_matches_batch(spark, tmp_path_factory):
    """Gap-moment decomposition: the store fed three TIME-ORDERED
    event waves resolves to EXACTLY the batch ev_bot_score rows
    (within-batch moments + boundary gaps through the shared scoring
    core); committed redelivery is a no-op; crash-window replay
    converges; an out-of-order batch RAISES (enforced contract, not a
    silent undercount); the admission view flags only this drop's
    flagged users; and the writeStream API lands on the same rows."""
    import os as _os
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bot as sb
    from maillog2db_spark.operators.windows import bot_score

    sf = "/root/testdata/sf0.001"
    events = mio.load(spark, sf, "events")
    want = sorted(map(tuple, bot_score(spark, sf).collect()))

    # three contiguous time ranges (the time-ordered-batches contract)
    cuts = events.approxQuantile("event_id", [0.33, 0.66], 0.0)
    waves = [
        events.filter(F.col("event_id") <= cuts[0]),
        events.filter(
            (F.col("event_id") > cuts[0]) & (F.col("event_id") <= cuts[1])
        ),
        events.filter(F.col("event_id") > cuts[1]),
    ]
    # the fixture's event_id follows ts; assert that precondition
    b0max = waves[0].agg(F.max("ts")).collect()[0][0]
    b1min = waves[1].agg(F.min("ts")).collect()[0][0]
    assert b0max <= b1min

    d = tmp_path_factory.mktemp("bot_stream")
    store = sb.BotStore(str(d / "store"))
    for i, w in enumerate(waves):
        sb.bot_ingest_batch(spark, w, store, i)

    got = sorted(map(tuple, sb.bot_score(spark, store).collect()))
    assert got == want

    # committed redelivery: no-op
    sb.bot_ingest_batch(spark, waves[1], store, 1)
    assert sorted(map(tuple, sb.bot_score(spark, store).collect())) == want

    # crash-window replay (partial written, ledger mark lost): the
    # batch's own partition is excluded from the order check, replay
    # converges
    _os.remove(store._ledger(2))
    sb.bot_ingest_batch(spark, waves[2], store, 2)
    assert sorted(map(tuple, sb.bot_score(spark, store).collect())) == want

    # out-of-order NEW batch: raises, state unchanged
    import pytest as _pytest

    with _pytest.raises(ValueError, match="time-ordered-batches"):
        sb.bot_ingest_batch(spark, waves[0], store, 9)
    assert sorted(map(tuple, sb.bot_score(spark, store).collect())) == want

    # compaction folds committed partials into one merged partial per
    # user (the associative gap-moment merge) — every view unchanged,
    # and a later time-ordered batch still resolves exactly
    store.gap_partials.compact(spark, store.committed)
    assert sorted(map(tuple, sb.bot_score(spark, store).collect())) == want

    # admission view: flagged subset of the last drop's users
    flagged = sb.flagged_in_batch(spark, waves[2], store).collect()
    all_flagged = {r.user_id for r in sb.bot_score(spark, store).collect()
                   if r.is_bot}
    wave_users = {r.user_id for r in waves[2].select("user_id").distinct()
                  .collect()}
    assert {r.user_id for r in flagged} == all_flagged & wave_users
    assert all(r.is_bot for r in flagged)

    # writeStream API surface over the same waves -> same rows
    src = d / "drops"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        _os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)
    store2 = sb.BotStore(str(d / "store2"))
    q = start_foreach_batch_stream(
        spark, str(src), sb.bot_ingest_batch, store2, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(map(tuple, sb.bot_score(spark, store2).collect())) == want


def test_cusum_detects_planted_rate_shift(spark, tmp_path):
    """Planted level shift: 30 days at ~20 events/day then 30 days at
    ~30 events/day (a +50% sustained shift a per-day 3-sigma test on
    this variance would not flag). CUSUM must stay quiet early, flag
    shift_up in the second regime, never flag shift_down — and the
    closed-form windows must equal the textbook recursion exactly."""
    from maillog2db_spark.operators.windows import (
        CUSUM_H_MULT,
        CUSUM_K_DIV,
        cusum_changepoint,
    )

    rows = []
    eid = 0
    day_us = 86_400 * 1_000_000
    for d in range(60):
        n = (20 if d < 30 else 30) + (d % 3) - 1  # small deterministic jitter
        for i in range(n):
            rows.append((eid, 1_700_000_000_000_000 + d * day_us + i * 1_000_000, 7))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, us bigint, user_id bigint"
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id",
        "'view' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
        "'{}' AS props",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        cusum_changepoint(spark, str(tmp_path)).collect(),
        key=lambda r: r.day,
    )
    assert len(got) == 60
    assert not any(r.shift_down for r in got)
    assert not any(r.shift_up for r in got[:30])
    assert any(r.shift_up for r in got[30:])

    # closed form == textbook recursion (phase-I reference mean:
    # earliest quarter of days)
    counts = [r.n_events for r in got]
    m = (len(counts) + 3) // 4
    mean_ppm = sum(counts[:m]) * 1_000_000 // m
    k = mean_ppm // CUSUM_K_DIV
    s_hi = s_lo = 0
    for r, n in zip(got, counts):
        s_hi = max(0, s_hi + (n * 1_000_000 - mean_ppm - k))
        s_lo = max(0, s_lo - (n * 1_000_000 - mean_ppm + k))
        assert r.cusum_hi_ppm == s_hi and r.cusum_lo_ppm == s_lo
        assert r.shift_up == (s_hi > CUSUM_H_MULT * mean_ppm)


def test_streaming_cusum_store_matches_batch(spark, tmp_path_factory):
    """Daily counts are additive: the store fed three INTERLEAVED
    event waves (late rows for past days by construction) resolves to
    EXACTLY the batch ev_changepoint_cusum rows through the shared
    closed-form core; committed redelivery is a no-op; crash-window
    replay converges; compaction preserves the chart; the writeStream
    API lands on the same rows; alarm_state reads the latest flags."""
    import os as _os
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_cusum as sc
    from maillog2db_spark.operators.windows import cusum_changepoint

    sf = "/root/testdata/sf0.001"
    events = mio.load(spark, sf, "events")
    want = sorted(map(tuple, cusum_changepoint(spark, sf).collect()))

    # interleaved waves: every wave contains rows for MOST days, so
    # waves 1-2 are late data for days wave 0 already opened
    waves = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]

    d = tmp_path_factory.mktemp("cusum_stream")
    store = sc.CusumStore(str(d / "store"))
    for i, w in enumerate(waves):
        sc.cusum_ingest_batch(spark, w, store, i)

    def got(st=store):
        return sorted(map(tuple, sc.cusum(spark, st).collect()))

    assert got() == want

    # committed redelivery: no-op
    sc.cusum_ingest_batch(spark, waves[1], store, 1)
    assert got() == want

    # crash-window replay (partial written, ledger mark lost)
    _os.remove(store._ledger(2))
    sc.cusum_ingest_batch(spark, waves[2], store, 2)
    assert got() == want

    # compaction folds committed partials, chart unchanged
    store.daily.compact(spark, store.committed)
    assert got() == want

    # admission-time alarm state = the latest chart row's flags
    day, up, down = sc.alarm_state(spark, store)
    last = max(want, key=lambda t: t[0])
    assert (day, up, down) == (last[0], last[4], last[5])

    # writeStream API surface over the same waves -> same rows
    src = d / "drops"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        _os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)
    store2 = sc.CusumStore(str(d / "store2"))
    q = start_foreach_batch_stream(
        spark, str(src), sc.cusum_ingest_batch, store2, str(d / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert got(store2) == want


def test_one_event_stream_feeds_both_event_stores(spark, tmp_path_factory):
    """The deployment composition for the events side: ONE Structured
    Streaming query over a directory of event drops maintains BOTH
    event-analytics stores in a single foreachBatch — the bot
    gap-moment store (time-ordered waves, its enforced contract) and
    the CUSUM daily-count store — and after the stream drains, both
    resolved views equal their batch twins exactly (the one-stream /
    four-stores pattern, events grain)."""
    import shutil as _sh

    from maillog2db_spark import io as mio
    from maillog2db_spark import streaming_bot as sb
    from maillog2db_spark import streaming_cusum as sc
    from maillog2db_spark.operators.windows import bot_score, cusum_changepoint

    sf = "/root/testdata/sf0.001"
    events = mio.load(spark, sf, "events")
    want_bot = sorted(map(tuple, bot_score(spark, sf).collect()))
    want_cusum = sorted(map(tuple, cusum_changepoint(spark, sf).collect()))

    # time-ordered waves (the bot store's contract; cusum doesn't care)
    cuts = events.approxQuantile("event_id", [0.33, 0.66], 0.0)
    waves = [
        events.filter(F.col("event_id") <= cuts[0]),
        events.filter(
            (F.col("event_id") > cuts[0]) & (F.col("event_id") <= cuts[1])
        ),
        events.filter(F.col("event_id") > cuts[1]),
    ]
    d = tmp_path_factory.mktemp("one_event_stream")
    src = d / "drops"
    src.mkdir()
    for i, w in enumerate(waves):
        tmp = d / f"_t{i}"
        w.coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"wave{i}.parquet"
        _sh.move(str(part), str(dest))
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)
        _sh.rmtree(tmp)

    bot = sb.BotStore(str(d / "bot"))
    cus = sc.CusumStore(str(d / "cusum"))

    def ingest_all(df, bid):
        s = df.sparkSession
        sb.bot_ingest_batch(s, df, bot, bid)
        sc.cusum_ingest_batch(s, df, cus, bid)

    schema = spark.read.parquet(str(src)).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(ingest_all)
        .option("checkpointLocation", str(d / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert sorted(map(tuple, sb.bot_score(spark, bot).collect())) == want_bot
    assert sorted(map(tuple, sc.cusum(spark, cus).collect())) == want_cusum


def test_bot_compaction_then_ingest_converges(spark, tmp_path):
    """Post-compaction ingest: batches folded into the merged partial,
    a LATER time-ordered batch lands raw, and the resolve injects the
    compacted.last -> new.first boundary gap exactly — equal to the
    batch twin over the union."""
    from maillog2db_spark import streaming_bot as sb
    from maillog2db_spark.operators.windows import bot_score_from

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_id bigint, us bigint, user_id bigint"
        ).selectExpr(
            "event_id", "timestamp_micros(us) AS ts", "user_id",
            "'view' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
            "'{}' AS props",
        )

    t0 = 1_700_000_000_000_000
    b0 = ev([(0, t0, 1), (1, t0 + 60_000_000, 1), (2, t0, 2)])
    b1 = ev([(3, t0 + 120_000_000, 1), (4, t0 + 90_000_000, 2)])
    b2 = ev([(5, t0 + 200_000_000, 1), (6, t0 + 150_000_000, 2)])

    store = sb.BotStore(str(tmp_path / "store"))
    sb.bot_ingest_batch(spark, b0, store, 0)
    sb.bot_ingest_batch(spark, b1, store, 1)
    store.gap_partials.compact(spark, store.committed)
    sb.bot_ingest_batch(spark, b2, store, 2)

    got = sorted(map(tuple, sb.bot_score(spark, store).collect()))
    union = b0.unionByName(b1).unionByName(b2)
    # batch twin over the union (same math as ev_bot_score on a table)
    gaps = union.selectExpr(
        "user_id",
        "CAST((unix_micros(ts) - lag(unix_micros(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id)) div 1000000"
        " AS BIGINT) AS gap_s",
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_s").alias("n_gaps"),
        F.sum("gap_s").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
        F.sum(F.when(F.col("gap_s") < 2, 1).otherwise(0)).alias("n_fast"),
    )
    want = sorted(map(tuple, bot_score_from(agg).collect()))
    assert got == want


def test_rake_hand_computed_example(spark, tmp_path):
    """Hand-checkable RAKE: 'red apple of green pear' splits at the
    stopword into two 2-word phrases; every word has freq 1 and
    degree 2, so both phrases score 4e6 ppm and rank ties break on the
    phrase string. A doc reusing 'apple' alone gives it freq 2,
    degree 3 -> wscore 1.5e6, separating the phrase scores."""
    from maillog2db_spark.operators.text import rake_keywords

    _docs(spark, [
        (0, "red apple of green pear"),
        (1, "apple"),
    ]).write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r.doc_id, r.rank): r for r in
           rake_keywords(spark, str(tmp_path)).collect()}
    # word scores: red 2/1, green 2/1, pear 2/1; apple deg 2+1=3, freq 2
    # -> "green pear" = 4e6 outranks "red apple" = 2e6 + 1.5e6
    apple = 3 * 1_000_000 // 2
    assert got[(0, 1)].phrase == "green pear"
    assert got[(0, 1)].score_ppm == 4_000_000
    assert got[(0, 2)].phrase == "red apple"
    assert got[(0, 2)].score_ppm == 2_000_000 + apple
    assert got[(1, 1)].phrase == "apple" and got[(1, 1)].score_ppm == apple
