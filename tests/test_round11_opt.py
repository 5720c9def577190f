"""Round-11 optimization equivalence pins.

Each test pins an operator whose INTERNALS changed this round to the
behavior the oracle gate certifies, on planted inputs that exercise the
restructure's edge branches specifically:

* k-center (selection.py): the lazy-greedy buffer + driver certificate
  must be invisible — the trajectory is J-invariant (a tiny J that
  forces the refill/certificate-failure path selects the identical
  centers, radii and census as the refill-free default), and the
  vectorized scorer must agree with the per-row Python replica on the
  sentinel/tie edges.
* dq_referential_integrity (relational_ext.py): the one-scan-per-table
  explode form must count NULL child keys, orphans and duplicate parent
  keys exactly like the per-relationship scalar subqueries the oracle
  runs.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from pyspark.sql import functions as F

from maillog2db_spark import queries as Q


SF001 = "/root/testdata/sf0.001"


def _traj(df):
    return [
        (r.step, r.center_id, r.radius_ppm, r.n_assigned)
        for r in df.orderBy("step").collect()
    ]


def test_kcenter_trajectory_is_buffer_size_invariant(spark, monkeypatch):
    """A J too small to hold the corpus forces the certificate-failure
    refill path every few steps; the selected centers, radii and census
    must be bit-identical to the refill-free large-J run (the
    certificate is a proof, not a heuristic)."""
    from maillog2db_spark.operators import selection as S

    big = _traj(S.kcenter_select(spark, SF001, 8))
    monkeypatch.setattr(S, "_BUFFER_J", 2)  # j_cap = max(2, 2*8) -> 16
    small = _traj(S.kcenter_select(spark, SF001, 8))
    assert small == big
    assert len(big) == 8 and big[0][0] == 1


def test_kcenter_scorer_matches_python_replica_on_edges(spark):
    """The vectorized scorer's sentinel (zero-norm) and earliest-step
    tie branches, checked against first-principles values: a zero
    vector is sentinel-far from everything (d = 3_000_000), duplicate
    vectors tie at d = 0 toward the EARLIEST center step."""
    import numpy as np

    from maillog2db_spark.operators.selection import (
        _BufCenter,
        _SENT_PPM,
        _np_dissim_ppm,
        _nearest_pdf,
    )

    e1 = [1.0, 0.0]
    e2 = [0.0, 1.0]
    z = [0.0, 0.0]
    embs = np.array([e1, e2, z], dtype=np.float64)
    nrms = np.array([1.0, 1.0, 0.0])
    # distance to a zero-norm center is the sentinel for every row
    d_to_zero = _np_dissim_ppm(embs, nrms, z, 0.0)
    assert list(d_to_zero) == [1_000_000 - _SENT_PPM] * 3
    # exact duplicate -> d = 0; orthogonal -> d = 1_000_000
    d_to_e1 = _np_dissim_ppm(embs, nrms, e1, 1.0)
    assert list(d_to_e1) == [0, 1_000_000, 1_000_000 - _SENT_PPM]

    # tie rule through the full scorer: two identical centers at steps
    # 1 and 2 -> every row assigns to step 1
    centers = [(_BufCenter(0, e1, 1.0), 0), (_BufCenter(1, e1, 1.0), 0)]
    df = spark.createDataFrame(
        [(list(map(float, v)), float(n)) for v, n in [(e1, 1.0), (e2, 1.0)]],
        "emb array<double>, nrm double",
    )
    rows = df.select(
        _nearest_pdf(centers)(F.col("emb"), F.col("nrm")).alias("m")
    ).collect()
    assert [r.m["step"] for r in rows] == [1, 1]
    assert [r.m["d"] for r in rows] == [0, 1_000_000]


def test_jpeg_fast_entropy_coder_bit_identical():
    """The NumPy scan encoder and window-precomputed decoder against
    the sequential _BitWriter/_BitReader walks, on the SAME quantized
    blocks (the DCT float paths are compared elsewhere; entropy coding
    must be bit-exact): random + flat + single-block planes, gray and
    interleaved color."""
    import random

    import numpy as np

    from maillog2db_spark.operators import codecs as C

    random.seed(41)
    for w, h in [(8, 8), (9, 8), (96, 64), (33, 31)]:
        g = bytes(random.randrange(256) for _ in range(w * h))
        qblocks = C._encode_blocks_zigzag(g, w, h)
        nb = len(qblocks)
        zeros = np.zeros(nb, dtype=np.int64)
        dc = C._huff_codes(C._DC_BITS, C._DC_VALS)
        ac = C._huff_codes(C._AC_BITS, C._AC_VALS)
        fast = C._encode_scan_fast(
            np.asarray(qblocks, dtype=np.int64), zeros, zeros, [dc], [ac]
        )
        bw = C._BitWriter()
        prev = 0
        for q in qblocks:
            prev = C._emit_block(bw, q, prev, dc, ac)
        assert fast == bw.flush(), (w, h)

        # decode side: fast reader vs sequential reader, same stream
        jb = C.encode_jpeg_gray(g, w, h)
        pos = 2
        while True:
            marker = jb[pos + 1]
            pos += 2
            ln = int.from_bytes(jb[pos:pos + 2], "big")
            pos += ln
            if marker == 0xDA:
                break
        fr = C._FastReader(jb[pos:])
        br = C._BitReader(jb[pos:])
        dt = C._huff_fast_table(list(C._DC_BITS), list(C._DC_VALS))
        at = C._huff_fast_table(list(C._AC_BITS), list(C._AC_VALS))
        dm = C._huff_decode_map(C._DC_BITS, C._DC_VALS)
        am = C._huff_decode_map(C._AC_BITS, C._AC_VALS)
        pf = ps = 0
        for _ in range(nb):
            qf, pf = C._read_block_fast(fr, dt, at, pf)
            qs, ps = C._read_block(br, dm, am, ps)
            assert qf == qs

    # color: full encode must match the sequential writer given the
    # same numpy-quantized planes (flat image exercises the EOB-only
    # and multi-table interleave branches)
    for pix in [bytes(random.randrange(256) for _ in range(48 * 40 * 3)),
                bytes([128]) * (48 * 40 * 3)]:
        y, cb, cr = C.rgb_to_ycbcr(pix, 48, 40)
        fast = C.encode_jpeg_ycbcr(y, cb, cr, 48, 40)
        # sequential emission over the identical block lists
        mcu_w, mcu_h = (48 + 15) // 16, (40 + 15) // 16
        yq = C._plane_qblocks(y, 48, 40, C._JPEG_QTABLE, 2 * mcu_w, 2 * mcu_h)
        cbs, cw, ch = C._subsample_420(cb, 48, 40)
        crs, _, _ = C._subsample_420(cr, 48, 40)
        cbq = C._plane_qblocks(cbs, cw, ch, C._JPEG_QTABLE_C, mcu_w, mcu_h)
        crq = C._plane_qblocks(crs, cw, ch, C._JPEG_QTABLE_C, mcu_w, mcu_h)
        dc_y = C._huff_codes(C._DC_BITS, C._DC_VALS)
        ac_y = C._huff_codes(C._AC_BITS, C._AC_VALS)
        dc_c = C._huff_codes(C._DC_BITS_C, C._DC_VALS_C)
        ac_c = C._huff_codes(C._AC_BITS_C, C._AC_VALS_C)
        bw = C._BitWriter()
        pdc = [0, 0, 0]
        for my in range(mcu_h):
            for mx in range(mcu_w):
                for dy in range(2):
                    for dx in range(2):
                        q = yq[(2 * my + dy) * (2 * mcu_w) + 2 * mx + dx]
                        pdc[0] = C._emit_block(bw, q, pdc[0], dc_y, ac_y)
                pdc[1] = C._emit_block(bw, cbq[my * mcu_w + mx], pdc[1], dc_c, ac_c)
                pdc[2] = C._emit_block(bw, crq[my * mcu_w + mx], pdc[2], dc_c, ac_c)
        assert bw.flush() in fast  # entropy segment embedded in the file


@pytest.fixture()
def fk_tables(tmp_path):
    """A planted star schema hitting every referential-integrity edge:
    NULL child keys, orphans, duplicate parent keys, a parent-only
    table, and a child key space overlapping two relationships."""
    con = duckdb.connect()
    d = tmp_path
    con.sql("CREATE TABLE region AS SELECT * FROM (VALUES (1), (2)) t(r_regionkey)")
    # duplicate parent key 10 (corrupted load) + NULL child key + orphan 99
    con.sql(
        "CREATE TABLE nation AS SELECT * FROM (VALUES"
        " (10, 1), (10, 1), (11, NULL), (12, 99)) t(n_nationkey, n_regionkey)"
    )
    con.sql(
        "CREATE TABLE customer AS SELECT * FROM (VALUES"
        " (100, 10), (101, 77), (102, NULL)) t(c_custkey, c_nationkey)"
    )
    con.sql(
        "CREATE TABLE supplier AS SELECT * FROM (VALUES"
        " (200, 11)) t(s_suppkey, s_nationkey)"
    )
    con.sql(
        "CREATE TABLE orders AS SELECT * FROM (VALUES"
        " (300, 100), (301, 999), (302, NULL)) t(o_orderkey, o_custkey)"
    )
    con.sql(
        "CREATE TABLE part AS SELECT * FROM (VALUES (400)) t(p_partkey)"
    )
    con.sql(
        "CREATE TABLE lineitem AS SELECT * FROM (VALUES"
        " (300, 400, 200), (300, 401, 201), (999, NULL, NULL))"
        " t(l_orderkey, l_partkey, l_suppkey)"
    )
    for t in ["region", "nation", "customer", "supplier", "orders",
              "part", "lineitem"]:
        con.sql(f"COPY {t} TO '{d}/{t}.parquet' (FORMAT PARQUET)")
        os.rename(f"{d}/{t}.parquet", f"{d}/{t}.parquet.file")
        os.makedirs(f"{d}/{t}.parquet")
        os.rename(f"{d}/{t}.parquet.file", f"{d}/{t}.parquet/part-0.parquet")
    return con, str(d)


def test_referential_integrity_one_scan_form_matches_oracle(spark, fk_tables):
    """The (rel, k, side) explode form vs the oracle's per-relationship
    scalar subqueries on the planted corruption corpus."""
    from maillog2db_spark.operators.relational_ext import (
        REFERENTIAL_INTEGRITY_SQL,
    )

    con, d = fk_tables
    got = (
        Q.REGISTRY["dq_referential_integrity"].fn(spark, d)
        .orderBy("relationship")
        .collect()
    )
    want = con.sql(
        REFERENTIAL_INTEGRITY_SQL + " ORDER BY relationship"
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(w) for w in want]
    # spot-check the planted edges directly
    by_rel = {r.relationship: r for r in got}
    li_orders = by_rel["lineitem->orders"]
    assert (li_orders.n_child, li_orders.n_null_keys, li_orders.n_orphans) == (3, 0, 1)
    n_region = by_rel["nation->region"]  # dup parent keys stay harmless
    assert (n_region.n_child, n_region.n_null_keys, n_region.n_orphans) == (4, 1, 1)
    c_nation = by_rel["customer->nation"]  # dup parent key 10 hit once
    assert (c_nation.n_child, c_nation.n_null_keys, c_nation.n_orphans) == (3, 1, 1)


# --- r11: AllPairs positional filter (dedup.py) -----------------------------


@pytest.mark.parametrize("t", [0.7, 0.8])
def test_prefix_positional_candidates_are_lossless(spark, t):
    """_prefix_filtered_candidates (length + PPJoin positional bounds)
    over the engine's own prefix (_prefix_len) must keep EVERY pair
    with true Jaccard >= t — the bounds may only discard pairs that
    provably fail the final verify. Planted corpus exercises the edges:
    exact-boundary J = t pairs, identical sets, disjoint sets, subset
    pairs straddling the length bound, and a shared-prefix pair whose
    positional bound must NOT prune it. At each threshold, a superset
    of size n in {5, 10} pairs with its subset missing its smallest
    elements, which share nothing with a prefix that is one short."""
    from fractions import Fraction
    from itertools import combinations

    from maillog2db_spark.operators.dedup import (
        _prefix_filtered_candidates,
        _prefix_len,
    )

    docs = [
        (1, ["a", "b", "c", "d", "e", "f", "g"]),          # base
        (2, ["a", "b", "c", "d", "e", "f", "h"]),          # J=6/8 < t vs 1
        (3, ["a", "b", "c", "d", "e", "f", "g"]),          # identical to 1 (J=1)
        (4, ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j"]),  # superset: J=7/10=t vs 1 (boundary)
        (5, ["x", "y", "z"]),                              # disjoint
        (6, ["a", "b", "c"]),                              # small subset: length bound prunes vs 1
        (7, ["b", "c", "d", "e", "f", "g", "h"]),          # J=6/8 vs 1, shares prefix late
        (8, []),                                           # empty set
        (9, ["m", "n", "o", "p", "q", "r", "s", "t", "u", "v"]),
        (10, ["m", "n", "o", "p", "q", "r", "s", "t", "u", "w"]),  # J=9/11 >= t vs 9
    ]
    planted = []
    for n, base in ((5, 20), (10, 30)):
        sup = [f"k{base + i}" for i in range(n)]
        m = -(-n * round(t * 10) // 10)  # ⌈t·n⌉: J = m/n, = t when exact
        docs += [(base, sup), (base + 1, sup[n - m:])]
        planted.append((base, base + 1))
    sets = {i: set(sh) for i, sh in docs}
    truth = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and Fraction(inter, union) >= Fraction(t).limit_denominator(10):
            truth.add((a, b))
    assert (9, 10) in truth and (1, 3) in truth  # planted hits
    assert ((1, 4) in truth) == (t == 0.7)  # J = 7/10
    assert set(planted) <= truth

    d = spark.createDataFrame(docs, "doc_id long, sh array<string>")
    d = (
        d.withColumn("sh", F.array_sort(F.array_distinct("sh")))
        .withColumn("n", F.size("sh"))
        .withColumn("prefix", F.slice("sh", 1, _prefix_len(t)))
    )
    cand = {
        (r.doc_a, r.doc_b)
        for r in _prefix_filtered_candidates(d, [], t).collect()
    }
    assert truth <= cand, f"lossy prune dropped {truth - cand}"
    # and the bounds do prune the planted negatives
    assert (1, 6) not in cand  # length bound: 3 vs 7
    assert (1, 5) not in cand and (8, 9) not in cand


def test_prefix_positional_candidates_oversize_path(spark):
    """The salted big-bucket regime must emit the same filtered
    candidate set as the in-row regime (cap forced tiny)."""
    from maillog2db_spark.operators.dedup import (
        _prefix_filtered_candidates,
        _prefix_len,
    )

    t = 0.7
    docs = [(i, [f"s{j}" for j in range(i % 3, i % 3 + 8)]) for i in range(1, 30)]
    d = spark.createDataFrame(docs, "doc_id long, sh array<string>")
    d = (
        d.withColumn("sh", F.array_sort(F.array_distinct("sh")))
        .withColumn("n", F.size("sh"))
        .withColumn("prefix", F.slice("sh", 1, _prefix_len(t)))
    )
    small_regime = {
        tuple(r) for r in _prefix_filtered_candidates(d, [], t).collect()
    }
    big_regime = {
        tuple(r)
        for r in _prefix_filtered_candidates(d, [], t, cap=2, salt=3).collect()
    }
    assert small_regime == big_regime and small_regime


# --- r11: single-pass regex group extraction (parsing.py) -------------------


def test_regex_groups_matches_regexp_extract(spark):
    """regex_groups must agree with per-group regexp_extract on every
    input class: matching lines, non-matching lines (empty-string
    convention), lines where the match starts mid-string, and the
    separator-byte fallback row."""
    from maillog2db_spark.parsing import SMTP_RE, regex_groups

    rows = [
        ("AB12CD: to=<u@x>, relay=r1[10.0.0.1]:25, delay=0.5, delays=0.1/0/0.2/0.2, dsn=2.0.0, status=sent (ok)",),
        ("NOQUEUE: to=<v@y>, relay=none, delay=1, delays=1/0/0/0, dsn=5.0.0, status=reject (blocked)",),
        ("no match here at all",),
        ("junk prefix! AB12CD: to=<w@z>, relay=r2, delay=2, delays=2/0/0/0, dsn=4.0.0, status=deferred (later)",),
        ("AB12CD: to=<u@x\x01evil>, relay=r1, delay=0.5, delays=0.1/0/0.2/0.2, dsn=2.0.0, status=sent (\x01ok)",),
        ("",),
    ]
    df = spark.createDataFrame(rows, "m string")
    got = df.select(regex_groups(F.col("m"), SMTP_RE, 8).alias("g")).collect()
    want = df.select(
        F.array(
            *[F.regexp_extract("m", SMTP_RE, i) for i in range(1, 9)]
        ).alias("g")
    ).collect()
    assert [r.g for r in got] == [r.g for r in want]


def test_regex_groups_top_level_alternation(spark):
    """A pattern with a top-level ``a|b`` stays one alternative group
    inside regex_groups' anchored wrapper: groups of whichever branch
    matched, empty strings for the other branch and for no match —
    exactly per-group regexp_extract."""
    from maillog2db_spark.parsing import regex_groups

    pat = r"(\w+)=(\d+)|(\w+):(\d+)"
    rows = [("x a=1 y",), ("k:2",), ("pre b=3 and c:4",), ("c:4 then b=3",),
            ("nothing",), ("",)]
    df = spark.createDataFrame(rows, "m string")
    got = df.select(regex_groups(F.col("m"), pat, 4).alias("g")).collect()
    want = df.select(
        F.array(*[F.regexp_extract("m", pat, i) for i in range(1, 5)]).alias("g")
    ).collect()
    assert [r.g for r in got] == [r.g for r in want]
    assert got[1].g == ["", "", "k", "2"]


def test_kcenter_tie_at_bound_refills(spark, monkeypatch):
    """r11 review fix: a buffer row that SHRINKS to exactly the fill
    bound must not certify — an outside row can sit at the bound with
    a smaller vec_id once every at-fill-bound buffer row has shrunk
    below it. Deterministic adversarial corpus (dim 4, exact
    orthogonality chain; j_cap = 12 < n = 14):

      seed A = e1 (vid 0); ten dups of p = (-1,1,0,0) at d = 1,707,107
      (vids 1-10); z = (-1,-1,0,2) at d = 1,408,248 but GIVEN VID 50;
      b1 = e3 at the bound d = 1e6 (vid 11, collected 12th);
      o = e4 at the bound (vid 12, OUTSIDE the fill).

      step 2 selects p; z ⊥ p shrinks to EXACTLY 1e6 (the bound).
      step 3 selects b1 (1e6, vid 11 — the last at-fill-bound row);
      z ⊥ b1 stays at the bound. step 4's buffer argmax is z
      (1e6, vid 50) == bound, but the TRUE argmax is the outside o
      (1e6, vid 12): an uncertified acceptance picks z and the
      trajectory diverges; the <= refill admits o."""
    import math

    from maillog2db_spark.operators import selection as S

    def nrm(v):
        return math.sqrt(sum(x * x for x in v))

    A = [1.0, 0.0, 0.0, 0.0]
    p = [-1.0, 1.0, 0.0, 0.0]
    z = [-1.0, -1.0, 0.0, 2.0]
    b1 = [0.0, 0.0, 1.0, 0.0]
    o = [0.0, 0.0, 0.0, 1.0]
    rows = [(0, A, nrm(A))]
    rows += [(vid, p, nrm(p)) for vid in range(1, 11)]
    rows += [(11, b1, nrm(b1)), (12, o, nrm(o)), (50, z, nrm(z))]
    e = spark.createDataFrame(rows, "vec_id long, emb array<double>, nrm double")
    monkeypatch.setattr(S, "_BUFFER_J", 4096)  # buffer holds all: exact
    want = _traj(S.kcenter_from(e, 6))
    monkeypatch.setattr(S, "_BUFFER_J", 2)  # j_cap = max(2, 12) = 12 < 14
    got = _traj(S.kcenter_from(e, 6))
    assert got == want
    # the divergence point: step 4 must select the outside row o
    assert want[3][0] == 4 and want[3][1] == 12
