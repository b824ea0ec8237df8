"""Product quantization (llm/pq.py): encode argmin vs numpy, ADC
distance identity, recall gate vs the exact scorer, degenerate cells.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest


def _vecs(spark, X, id_start=0):
    rows = [(id_start + i, [float(x) for x in r]) for i, r in enumerate(X)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _hash_cell(sub, vid, ks):
    h = hashlib.md5(f"{sub}:{vid}".encode()).hexdigest()
    return int(h[:15], 16) % ks


def _numpy_codebook(X, m, ks):
    d = X.shape[1]
    sd = d // m
    book = {}
    for s in range(m):
        cells = {}
        for vid in range(X.shape[0]):
            c = _hash_cell(s, vid, ks)
            if c not in cells or vid < cells[c]:
                cells[c] = vid
        for c, vid in cells.items():
            book[(s, c)] = X[vid, s * sd:(s + 1) * sd].astype(np.float64)
    return book, sd


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.RandomState(3)
    return rng.randn(120, 16).astype(np.float32)


def test_pq_encode_matches_numpy_argmin(spark, corpus):
    from yardstick_spark.llm import pq_codebook, pq_encode

    m, ks = 4, 8
    df = _vecs(spark, corpus)
    cb = pq_codebook(df, m=m, ks=ks)
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, cb).collect()}
    book, sd = _numpy_codebook(corpus, m, ks)
    for vid in range(corpus.shape[0]):
        for s in range(m):
            sl = corpus[vid, s * sd:(s + 1) * sd].astype(np.float64)
            # same rounded-distance, ties-to-lower-code rule
            best = min(
                ((round(float(((sl - cent) ** 2).sum()), 6), c)
                 for (ss, c), cent in book.items() if ss == s),
            )
            assert got[vid][s] == best[1], (vid, s)


def test_pq_codes_shape_and_range(spark, corpus):
    from yardstick_spark.llm import pq_codebook, pq_encode

    df = _vecs(spark, corpus)
    cb = pq_codebook(df, m=4, ks=8)
    for r in pq_encode(df, cb).collect():
        assert len(r.codes) == 4
        assert all(0 <= c < 8 for c in r.codes)


def test_pq_knn_adc_identity(spark, corpus):
    """adist(query, vec) == sum_s ||q_s - centroid(code_s)||^2 (to the
    rounding grid) — checked against a full numpy recomputation."""
    from yardstick_spark.llm import pq_codebook, pq_encode, pq_knn

    m, ks = 4, 8
    df = _vecs(spark, corpus)
    cb = pq_codebook(df, m=m, ks=ks)
    codes = {r.vec_id: list(r.codes)
             for r in pq_encode(df, cb).collect()}
    res = pq_knn(pq_encode(df, cb), cb, df.filter("vec_id < 3"), k=120)
    book, sd = _numpy_codebook(corpus, m, ks)
    for r in res.collect():
        q = corpus[r.query_id].astype(np.float64)
        want = sum(
            round(float(((q[s * sd:(s + 1) * sd]
                          - book[(s, codes[r.neighbor_id][s])]) ** 2
                         ).sum()), 6)
            for s in range(m))
        assert r.adist == pytest.approx(want, abs=2e-6)


def test_pq_recall_vs_exact(spark, corpus):
    """Seeded (untrained) codebook still recalls a usable fraction of
    the true top-10 at 64x compression; self-match is always found."""
    from yardstick_spark.llm import (brute_force_knn, pq_codebook,
                                     pq_encode, pq_knn)

    df = _vecs(spark, corpus)
    cb = pq_codebook(df, m=8, ks=16)
    queries = df.filter("vec_id < 10")
    approx = pq_knn(pq_encode(df, cb), cb, queries, k=10)
    exact = brute_force_knn(df, queries, k=10)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.15
    for q in range(10):
        assert (q, q) in a  # own quantization is distance-0-ish


def test_pq_knn_stale_codebook_raises(spark, corpus):
    # codes scored against a codebook missing a (sub, code) centroid
    # they reference would silently drop that subspace from the LUT
    # join and understate adist — the job must fail instead
    # (round-6 ADVICE fix, llm/pq.py raise_error guard)
    from yardstick_spark.llm import pq_codebook, pq_encode, pq_knn

    df = _vecs(spark, corpus)
    cb = pq_codebook(df, m=4, ks=8)
    codes = pq_encode(df, cb)
    used = codes.selectExpr("codes[0] AS c0").first().c0
    stale = cb.filter(f"NOT (sub = 0 AND code = {used})")
    q = _vecs(spark, corpus[:2])
    with pytest.raises(Exception, match="pq_knn"):
        pq_knn(codes, stale, q, k=3).collect()


def test_pq_empty_cells_are_skipped(spark):
    """ks near the corpus size leaves empty cells; encode argmins over
    the codes that exist instead of failing."""
    from yardstick_spark.llm import pq_codebook, pq_encode

    rng = np.random.RandomState(0)
    X = rng.randn(10, 8).astype(np.float32)
    df = _vecs(spark, X)
    cb = pq_codebook(df, m=2, ks=64)
    assert cb.count() < 2 * 64  # genuinely sparse book
    rows = pq_encode(df, cb).collect()
    assert len(rows) == 10
    valid = {(r.sub, r.code) for r in cb.collect()}
    for r in rows:
        for s, c in enumerate(r.codes):
            assert (s, c) in valid


def _round_half_away(x: float) -> int:
    import math

    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def _numpy_trained(X, m, ks, iters):
    """Driver-free twin of pq_codebook(train=True): md5-seeded cells,
    then Lloyd on the 1e-6 integer grid with half-away means and
    ties-to-lower-code assignment — the exact spec the Spark and
    DuckDB sides implement."""
    Q = 1_000_000
    book, sd = _numpy_codebook(X, m, ks)
    Xq = np.array([[_round_half_away(float(v) * Q)
                    for v in row.astype(np.float64)] for row in X],
                  dtype=np.int64)
    cents = {k: np.array([_round_half_away(float(v) * Q) for v in c],
                         dtype=np.int64) for k, c in book.items()}
    n = X.shape[0]
    for _ in range(iters):
        members: dict = {}
        for i in range(n):
            for s in range(m):
                sq = Xq[i, s * sd:(s + 1) * sd]
                best = min((int(((sq - c) ** 2).sum()), code)
                           for (ss, code), c in cents.items() if ss == s)
                members.setdefault((s, best[1]), []).append(sq)
        cents = {}
        for key, rows in members.items():
            S = np.stack(rows).astype(np.int64).sum(axis=0)
            cents[key] = np.array(
                [_round_half_away(float(t) / len(rows)) for t in S],
                dtype=np.int64)
    return {k: [v / Q for v in c] for k, c in cents.items()}, sd


@pytest.fixture(scope="module")
def blobs():
    """Planted subspace structure: every subspace slice is one of 8
    well-separated prototypes plus small jitter — the regime where a
    trained codebook should crush a seeded one (seeded donors can
    duplicate one blob and leave another codeless)."""
    rng = np.random.RandomState(11)
    m, sd = 4, 4
    protos = rng.randn(m, 8, sd) * 4.0
    X = np.zeros((160, m * sd), dtype=np.float32)
    for i in range(160):
        for s in range(m):
            X[i, s * sd:(s + 1) * sd] = \
                protos[s, (i * 7 + s) % 8] + rng.randn(sd) * 1.5
    return X


def test_pq_trained_codebook_matches_numpy(spark, blobs):
    """pq_codebook(train=True) equals an independent numpy
    reimplementation of the integer-grid Lloyd spec, centroid for
    centroid (exact — every value lives on the 1e-6 grid)."""
    from yardstick_spark.llm import clear_dedup_caches, pq_codebook

    m, ks, iters = 4, 8, 2
    df = _vecs(spark, blobs)
    got = {(r.sub, r.code): [round(v * 1e6) for v in r.centroid]
           for r in pq_codebook(df, m=m, ks=ks, train=True,
                                iters=iters).collect()}
    want_book, _ = _numpy_trained(blobs, m, ks, iters)
    want = {k: [round(v * 1e6) for v in c] for k, c in want_book.items()}
    clear_dedup_caches()
    assert got == want


def test_pq_trained_beats_seeded_recall_and_distortion(spark, blobs):
    """Against the exact scorer on the planted-blob fixture (every
    query's true top-20 is exactly its 20 same-blob-signature
    classmates): the trained book must (a) strictly cut total
    quantization distortion — Lloyd monotonicity from the seed — and
    (b) reach near-perfect class recall@20, beating the seeded book
    whose donor cells duplicate some blobs and leave others codeless.
    recall@20 rather than @10 because a codebook that quantizes a
    whole class to one codeword ties all 20 members at equal adist —
    @10 would measure tie-breaking luck, not retrieval quality."""
    from yardstick_spark.llm import (brute_force_knn, clear_dedup_caches,
                                     pq_codebook, pq_encode, pq_knn)

    df = _vecs(spark, blobs)
    queries = df.filter("vec_id < 10")
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_knn(df, queries, k=20).collect()}

    def measure(cb):
        codes = pq_encode(df, cb)
        approx = {(r.query_id, r.neighbor_id)
                  for r in pq_knn(codes, cb, queries, k=20).collect()}
        book = {(r.sub, r.code): np.array(r.centroid)
                for r in cb.collect()}
        cd = {r.vec_id: r.codes for r in codes.collect()}
        m, sd = 4, 4
        dist = sum(
            float(((blobs[i, s * sd:(s + 1) * sd].astype(np.float64)
                    - book[(s, cd[i][s])]) ** 2).sum())
            for i in range(blobs.shape[0]) for s in range(m))
        return len(approx & exact) / len(exact), dist

    s_rec, s_dist = measure(pq_codebook(df, m=4, ks=8))
    t_rec, t_dist = measure(pq_codebook(df, m=4, ks=8, train=True,
                                        iters=2))
    clear_dedup_caches()
    assert t_dist < s_dist * 0.9, (s_dist, t_dist)
    assert t_rec > s_rec, (s_rec, t_rec)
    assert t_rec >= 0.9, (s_rec, t_rec)


def test_pq_trained_repartition_stable(spark, blobs):
    """The trained book is bit-identical under any input layout (the
    integer grid makes every centroid update order-independent)."""
    from yardstick_spark.llm import clear_dedup_caches, pq_codebook

    ref = None
    for n in (1, 3, 8):
        df = _vecs(spark, blobs).repartition(n)
        got = sorted((r.sub, r.code, tuple(r.centroid))
                     for r in pq_codebook(df, m=4, ks=8, train=True,
                                          iters=2).collect())
        clear_dedup_caches()
        if ref is None:
            ref = got
        else:
            assert got == ref


def test_pq_trained_degenerate_inputs(spark):
    """Trained codebooks on hostile inputs: a corpus smaller than ks
    trains fine over its sparse seeded cells (empty cells drop, codes
    stay valid); an empty corpus raises the empty-codebook error at
    consume time rather than producing garbage."""
    from yardstick_spark.llm import (clear_dedup_caches, pq_codebook,
                                     pq_encode)

    X = np.arange(5 * 8, dtype=np.float32).reshape(5, 8)
    df = _vecs(spark, X)
    cb = pq_codebook(df, m=2, ks=64, train=True, iters=2)
    assert cb.count() <= 2 * 5  # at most one cell per (sub, vector)
    rows = pq_encode(df, cb).collect()
    valid = {(r.sub, r.code) for r in cb.collect()}
    assert len(rows) == 5
    for r in rows:
        for s, c in enumerate(r.codes):
            assert (s, c) in valid
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="empty codebook"):
        pq_encode(empty, pq_codebook(empty, m=2, ks=4,
                                     train=True)).collect()
    clear_dedup_caches()


# ---------------------------------------------------------------------------
# MMR re-ranking
# ---------------------------------------------------------------------------


def test_mmr_prefers_diversity(spark):
    """Three near-clones of the query plus one distinct-but-relevant
    vector: pure top-3 is all clones; MMR at lam=0.5 swaps the
    redundant third clone for the distinct direction."""
    from yardstick_spark.llm import brute_force_knn, mmr_rerank

    # clones: sim(q, clone) = 0.95 but mutual sim ~ 1, so after the
    # first pick the others score ~ 0.5*(0.95 - 1) < 0; the distinct
    # vector scores 0.5*(0.7 - 0.665) > 0 and must displace them
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),            # query
        (1, [0.95, 0.0, 0.312, 0.0]),          # clones (same direction)
        (2, [0.95, 0.0, 0.312, 0.001]),
        (3, [0.95, 0.001, 0.312, 0.0]),
        (4, [0.7, 0.714, 0.0, 0.0]),           # distinct direction
        (5, [-1.0, 0.0, 0.0, 0.0]),            # irrelevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    topk = {r.neighbor_id
            for r in brute_force_knn(df, q, k=3, round_to=4).collect()}
    assert topk == {1, 2, 3}
    mmr = {r.neighbor_id
           for r in mmr_rerank(df, q, k=3, pool=5, lam=0.5).collect()}
    assert 4 in mmr


def test_mmr_driver_gate_matches_distributed(spark, call_spy):
    """The gated driver-side greedy rounds and the distributed
    checkpointed loop must agree exactly — same double literals, same
    (score desc NULLS LAST, id asc) pick, same pen = MAX over
    selected."""
    import numpy as np

    from yardstick_spark.llm import mining as M
    from yardstick_spark.llm import mmr_rerank

    calls = call_spy(M, "_mmr_driver")
    rng = np.random.RandomState(7)
    X = rng.randn(40, 6).astype(np.float32)
    df = _vecs(spark, X)
    q = df.filter("vec_id < 3")
    fast = sorted(map(tuple, mmr_rerank(df, q, k=5, pool=12).collect()))
    assert len(calls) == 1
    slow = sorted(map(tuple, mmr_rerank(
        df, q, k=5, pool=12, driver_max_pool_rows=0).collect()))
    assert len(calls) == 1
    assert fast == slow and len(fast) == 15


def test_mmr_matches_duckdb_unrolled(spark):
    """Spark greedy rounds == mmr_sql rounds on random vectors (the
    determinism contract the oracle relies on)."""
    import duckdb

    import numpy as np

    from yardstick_spark.llm import mmr_rerank, mmr_sql

    rng = np.random.RandomState(9)
    X = rng.randn(40, 6).astype(np.float32)
    df = _vecs(spark, X)
    got = {(r.query_id, r.mmr_rank): r.neighbor_id
           for r in mmr_rerank(df, df.filter("vec_id < 4"),
                               k=4, pool=10, lam=0.6).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE emb (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)",
                    [(i, [float(x) for x in r]) for i, r in enumerate(X)])
    want = {(r[0], r[3]): r[1] for r in con.sql(
        mmr_sql("emb", "id < 4", k=4, pool=10, lam=0.6)).fetchall()}
    assert got == want


def test_mmr_pair_bound_falls_back(spark):
    """_mmr_driver collects BOTH cand and pair (cand x (pool-1) rows):
    a pool large enough that the pair table would blow the driver
    collect must route to the distributed loop even when the cand
    count alone passes the gate — and both paths must agree."""
    import numpy as np

    from yardstick_spark.llm import mmr_rerank
    from yardstick_spark.llm import mining as M

    rng = np.random.RandomState(11)
    X = rng.randn(30, 6).astype(np.float32)
    df = _vecs(spark, X)
    q = df.filter("vec_id < 2")
    # cand = 2 queries x pool 25 = 50 <= 50 passes the old gate, but
    # pair rows = 50 * 24 = 1200 > 20 * 50 — must NOT hit the driver
    orig = M._mmr_driver

    def boom(*a, **k):
        raise AssertionError("driver path must not run")

    M._mmr_driver = boom
    try:
        slow = sorted(map(tuple, mmr_rerank(
            df, q, k=4, pool=25, driver_max_pool_rows=50).collect()))
    finally:
        M._mmr_driver = orig
    fast = sorted(map(tuple, mmr_rerank(df, q, k=4, pool=25).collect()))
    assert fast == slow and len(fast) == 8


def test_mmr_duplicate_ids_bound_pair_collect(spark):
    """The gate's pair estimate cand x (pool-1) assumes unique corpus
    ids; duplicated ids fan the pair join out past it.  A corpus whose
    estimate passes but whose real pair table exceeds the bound must
    route to the distributed loop — and agree with it."""
    import numpy as np

    from yardstick_spark.llm import brute_force_knn, mmr_rerank
    from yardstick_spark.llm import mining as M

    rng = np.random.RandomState(13)
    X = rng.randn(30, 6).astype(np.float32)
    # every id twice, with a near-copy vector
    df = _vecs(spark, X).unionByName(_vecs(spark, X + 1e-3))
    q = _vecs(spark, X[:2], id_start=1000)
    pool, bound = 10, 20
    cand_n = brute_force_knn(df, q, k=pool, round_to=4).count()
    assert cand_n <= bound and cand_n * (pool - 1) <= 20 * bound, \
        "the cand-based estimate alone must pass the gate"
    orig = M._mmr_driver

    def boom(*a, **k):
        raise AssertionError("driver path must not run")

    M._mmr_driver = boom
    try:
        got = sorted(map(tuple, mmr_rerank(
            df, q, k=4, pool=pool, driver_max_pool_rows=bound).collect()))
    finally:
        M._mmr_driver = orig
    want = sorted(map(tuple, mmr_rerank(
        df, q, k=4, pool=pool, driver_max_pool_rows=0).collect()))
    assert got == want and len(got) == 8
