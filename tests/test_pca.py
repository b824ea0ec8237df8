"""Distributed covariance / PCA / JL projection (llm/pca.py) vs numpy.

The covariance path is the one-pass partition-Gram treeAggregate shape;
these tests pin it to numpy's definition exactly (population cov), pin
PCA to numpy.linalg.eigh on the same matrix, and pin the JL projection
to an explicit sign-matrix matmul plus its distance-preservation
property in expectation.
"""

from __future__ import annotations

import numpy as np
import pytest


def _vec_df(spark, X, id_start=0):
    rows = [(id_start + i, [float(x) for x in r]) for i, r in enumerate(X)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


def _quant(X):
    # the operator's documented semantic: covariance of coordinates
    # snapped to the 1e-6 grid with floor (exact-integer sufficient
    # statistics -> partition-stable output; llm/pca.py _QUANT_SCALE)
    return np.floor(X.astype(np.float64) * 1e6) / 1e6


@pytest.fixture(scope="module")
def cloud():
    rng = np.random.RandomState(7)
    # anisotropic cloud: known dominant directions
    base = rng.randn(200, 6)
    scale = np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    return (base * scale).astype(np.float32)


def test_covariance_matches_numpy(spark, cloud):
    from yardstick_spark.llm import covariance_matrix

    df = _vec_df(spark, cloud).repartition(7)  # cross-partition merge
    got = {(r.i, r.j): r.cov
           for r in covariance_matrix(df, round_to=None).collect()}
    C = np.cov(_quant(cloud).T, bias=True)
    d = cloud.shape[1]
    assert len(got) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            assert got[(i, j)] == pytest.approx(C[i, j], abs=1e-9)
    # and the quantized covariance is within the documented grid error
    # of the unquantized one (~2 * max|x| * 1e-6)
    C0 = np.cov(cloud.astype(np.float64).T, bias=True)
    assert np.abs(C - C0).max() < 1e-4


def test_covariance_partition_stable(spark, cloud):
    # THE determinism contract (round-5 driver red row): float sums are
    # non-associative, so the old kernel's output depended on the
    # partition split.  Exact-integer sufficient statistics must give
    # BIT-IDENTICAL output (untruncated doubles) for any repartition.
    from yardstick_spark.llm import covariance_matrix

    df = _vec_df(spark, cloud)
    ref = None
    for n in (1, 3, 8, 32):
        got = {(r.i, r.j): r.cov
               for r in covariance_matrix(df.repartition(n),
                                          round_to=None).collect()}
        if ref is None:
            ref = got
        else:
            assert got == ref  # exact ==, not approx


def test_covariance_never_emits_signed_zero(spark):
    # Round-6 driver red row (emb_covariance): a tiny negative
    # covariance rounds to IEEE -0.0, which a sign-preserving value
    # hash distinguishes from the oracle's +0.0.  The projection now
    # adds +0.0 to canonicalize.  These two dims have
    # cov = -2.5e-13 -> ROUND(.,6) = -0.0 without the fix.
    import math

    from yardstick_spark.llm import covariance_matrix

    df = spark.createDataFrame(
        [(0, [1e-6, 0.0]), (1, [0.0, 1e-6])],
        "vec_id long, embedding array<float>")
    for r in covariance_matrix(df).collect():
        if r.cov == 0.0:
            assert math.copysign(1.0, r.cov) > 0, (r.i, r.j, r.cov)


def test_covariance_skips_null_and_ragged(spark, cloud):
    from yardstick_spark.llm import covariance_matrix

    df = _vec_df(spark, cloud)
    extra = spark.createDataFrame(
        [(9000, None), (9001, [1.0])],
        "vec_id long, embedding array<float>")
    got = {(r.i, r.j): r.cov
           for r in covariance_matrix(df.unionByName(extra),
                                      round_to=None).collect()}
    C = np.cov(_quant(cloud).T, bias=True)
    # 6-dim majority wins; the 1-dim + NULL rows don't poison the stats
    assert got[(0, 0)] == pytest.approx(C[0, 0], abs=1e-9)
    assert max(j for (_, j) in got) == cloud.shape[1] - 1


def test_pca_components_match_numpy_eigh(spark, cloud):
    from yardstick_spark.llm import pca_components

    comps, evals = pca_components(_vec_df(spark, cloud), k=3)
    C = np.cov(_quant(cloud).T, bias=True)
    ev, evec = np.linalg.eigh(C)
    order = np.argsort(ev)[::-1][:3]
    assert evals == pytest.approx(ev[order], rel=1e-6)
    for row, col in zip(comps, order):
        ref = evec[:, col]
        if ref[np.argmax(np.abs(ref))] < 0:
            ref = -ref
        assert row == pytest.approx(ref, abs=1e-6)
    # dominant axis is the scale=5 coordinate
    assert np.argmax(np.abs(comps[0])) == 0


def test_pca_project_scores(spark, cloud):
    from yardstick_spark.llm import pca_components, pca_project

    df = _vec_df(spark, cloud)
    comps, evals = pca_components(df, k=2)
    got = {(r.id, r.pos): r.val
           for r in pca_project(df, comps, round_to=None).collect()}
    want = cloud.astype(np.float64) @ comps.T
    for i in range(cloud.shape[0]):
        for p in range(2):
            assert got[(i, p)] == pytest.approx(want[i, p], abs=1e-9)
    # variance of centered scores along component p equals eigenvalue p
    # (rel 1e-4: scores use the unquantized cloud while evals come from
    # the 1e-6-grid covariance — the documented quantization gap)
    scores = (cloud.astype(np.float64)
              - cloud.astype(np.float64).mean(axis=0)) @ comps.T
    assert scores.var(axis=0) == pytest.approx(evals, rel=1e-4)


def test_jl_project_matches_sign_matrix(spark, cloud):
    from yardstick_spark.llm import jl_project
    from yardstick_spark.llm.similarity import _md5_signs

    k, seed = 4, 123
    df = _vec_df(spark, cloud)
    got = {(r.id, r.pos): r.val
           for r in jl_project(df, out_dim=k, seed=seed,
                               round_to=None).collect()}
    S = _md5_signs(cloud.shape[1], k, (seed,))
    want = (cloud.astype(np.float64) @ S) / np.sqrt(k)
    for i in range(cloud.shape[0]):
        for p in range(k):
            assert got[(i, p)] == pytest.approx(want[i, p], abs=1e-9)


def test_jl_preserves_norms_in_expectation(spark):
    from yardstick_spark.llm import jl_project

    rng = np.random.RandomState(11)
    X = rng.randn(50, 64).astype(np.float32)
    df = _vec_df(spark, X)
    rows = jl_project(df, out_dim=32, seed=5, round_to=None).collect()
    proj = np.zeros((50, 32))
    for r in rows:
        proj[r.id, r.pos] = r.val
    orig = (X.astype(np.float64) ** 2).sum(axis=1)
    kept = (proj ** 2).sum(axis=1)
    # E[||Px||^2] = ||x||^2; at k=32 the mean ratio concentrates
    ratio = (kept / orig).mean()
    assert 0.8 < ratio < 1.2


def _planted_clusters(spark, n_per=40, k=4, dim=8):
    # k well-separated blobs: center c has coordinates 10*c, members
    # perturb one coordinate by i/1000 (well inside the separation)
    rows = []
    vid = 0
    for c in range(k):
        for i in range(n_per):
            v = [10.0 * c] * dim
            v[i % dim] += i / 1000.0
            rows.append((vid, v, c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, truth int")


def test_kmeans_recovers_planted_clusters(spark):
    from yardstick_spark.llm import kmeans_assign

    vecs = _planted_clusters(spark)
    out = kmeans_assign(vecs, k=4, iters=4).collect()
    assert len(out) == 160
    truth = {r["vec_id"]: r["truth"] for r in vecs.collect()}
    # same-blob members must share a cell; different blobs must not
    by_truth = {}
    for r in out:
        by_truth.setdefault(truth[r["vec_id"]], set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_truth.values())
    assert len({next(iter(c)) for c in by_truth.values()}) == 4


def test_kmeans_partition_stable_and_null_policy(spark):
    from pyspark.sql import functions as F
    from yardstick_spark.llm import kmeans_assign

    vecs = _planted_clusters(spark).unionByName(
        spark.createDataFrame(
            [(900, None, 0), (901, [], 0)],
            "vec_id bigint, embedding array<double>, truth int"))
    base = sorted(map(tuple, kmeans_assign(vecs, k=4, iters=3).collect()))
    assert not any(r[0] in (900, 901) for r in base)  # NULL/empty dropped
    for n in (1, 5, 32):
        got = sorted(map(tuple, kmeans_assign(
            vecs.repartition(n), k=4, iters=3).collect()))
        assert got == base, f"assignment changed under repartition({n})"


def test_kmeans_driver_gate_matches_distributed(spark, call_spy):
    """The gated driver-side numpy fit and the distributed seeding +
    Lloyd collects must produce identical assignments — the centroid
    arithmetic is exact integer sums plus Spark's shortest-decimal
    HALF_UP mean rounding, replayed verbatim in `_fit_driver`.  The
    planted corpus makes centroid means hit non-integral fractions, so
    the rounding path is genuinely exercised."""
    from yardstick_spark.llm import kmeans as K
    from yardstick_spark.llm import kmeans_assign

    calls = call_spy(K, "_fit_driver")
    vecs = _planted_clusters(spark)
    fast = sorted(map(tuple, kmeans_assign(vecs, k=4, iters=3).collect()))
    assert len(calls) == 1
    slow = sorted(map(tuple, kmeans_assign(
        vecs, k=4, iters=3, driver_max_vectors=0).collect()))
    assert len(calls) == 1
    assert fast == slow
    # negative coordinates exercise the away-from-zero rounding branch
    neg = vecs.selectExpr(
        "vec_id", "transform(embedding, x -> -x - 0.0000005) AS embedding")
    nfast = sorted(map(tuple, kmeans_assign(neg, k=3, iters=2).collect()))
    assert len(calls) == 2
    nslow = sorted(map(tuple, kmeans_assign(
        neg, k=3, iters=2, driver_max_vectors=0).collect()))
    assert len(calls) == 2
    assert nfast == nslow


def test_kmeans_rejects_wide_k(spark):
    import pytest
    from yardstick_spark.llm import kmeans_assign

    with pytest.raises(ValueError, match="ceiling"):
        kmeans_assign(_planted_clusters(spark), k=500)


def test_cluster_balanced_sample_caps_per_cell(spark):
    from yardstick_spark.llm import cluster_balanced_sample

    out = cluster_balanced_sample(_planted_clusters(spark), k=4,
                                  iters=3, per_cell=7).collect()
    import collections
    sizes = collections.Counter(r["cell"] for r in out)
    assert all(v <= 7 for v in sizes.values())
    assert len(sizes) == 4 and len(out) == 28
    assert all(1 <= r["rn"] <= 7 for r in out)


def test_margin_pairs_recover_planted_translations(spark):
    from yardstick_spark.llm import brute_force_knn, margin_pairs

    # side A: 12 well-separated vectors; side B: the same vectors
    # lightly perturbed (the "translation"), ids offset by 100
    rows = []
    for i in range(12):
        base = [0.0] * 12
        base[i] = 1.0 + i
        rows.append((i, [float(x) for x in base]))
        pert = [x + 0.01 for x in base]
        rows.append((100 + i, pert))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    a, b = df.filter("vec_id < 100"), df.filter("vec_id >= 100")
    got = margin_pairs(brute_force_knn(b, a, k=3),
                       brute_force_knn(a, b, k=3)).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # every planted translation is a mutual best-margin pair
    assert {(i, 100 + i) for i in range(12)} <= pairs
    assert all(r["margin"] > 1.0 for r in got)  # above-average neighbor


def test_margin_pairs_repartition_stable(spark):
    from yardstick_spark.llm import brute_force_knn, margin_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a, b = emb.filter("label <= 4"), emb.filter("label >= 5")
    base = sorted(map(tuple, margin_pairs(
        brute_force_knn(b, a, k=4), brute_force_knn(a, b, k=4)).collect()))
    for n in (1, 7, 32):
        got = sorted(map(tuple, margin_pairs(
            brute_force_knn(b.repartition(n), a, k=4),
            brute_force_knn(a.repartition(n), b, k=4)).collect()))
        assert got == base, f"margin pairs changed under repartition({n})"
