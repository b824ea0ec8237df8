"""Approximate-nearest-neighbor search over an embedding column
(`array<float>`).

Brute-force cosine top-k, LSH (random-hyperplane buckets, optional
multi-probe) and seeded IVF (`ivf.ivf_knn_seeded`) share one
operator: a single mapInPandas over the corpus (`_folded_knn`) that
buckets or cell-assigns each Arrow batch, scores it against the
closure-carried query matrix, and keeps a per-partition top-k.

At 100 TB: the corpus side stays partitioned and queries ride the
closure, so scoring never shuffles corpus rows.  The final
`row_number() <= k` filter is executed by Spark as a map-side partial
WindowGroupLimit (InferWindowGroupLimit) over the <= n_tasks * k rows
per query the fold forwards — no reducer sees corpus-proportional
input (asserted in tests/test_plans.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from ..sparkutil import as_double, local_input, parquet_rows


def _length_groups(*arrays):
    """Group batch rows by (shared) vector length: yields (dim, sel)
    index groups for rows where every array has the same non-zero
    length; rows with a NULL, empty, or length-mismatched vector are
    simply not yielded (callers leave their output slot as None).
    Shared by every Arrow UDF and fold in this package so NULL
    handling and ragged grouping have exactly one implementation."""
    import numpy as np

    def l(row):
        lens = {len(v) if v is not None else -1 for v in row}
        v = lens.pop()
        return v if not lens else -1

    lens = np.array([l(row) for row in zip(*arrays)], dtype=np.int64)
    for dim in np.unique(lens[lens > 0]):
        yield int(dim), np.nonzero(lens == dim)[0]


def _md5_signs(dim: int, n_planes: int, band_seeds: tuple) -> "object":
    """(dim, len(band_seeds)*n_planes) matrix of {-1,+1} hyperplane
    weights, parity of md5(f"{band_seed}:{plane}:{dim_index}") —
    the single canonical sign derivation every LSH path (and the DuckDB
    oracles) uses.  Cached per worker."""
    import hashlib

    import numpy as np

    key = (dim, n_planes, band_seeds)
    S = _SIGN_CACHE.get(key)
    if S is None:
        S = np.empty((dim, len(band_seeds) * n_planes))
        for b, bs in enumerate(band_seeds):
            for p in range(n_planes):
                for i in range(dim):
                    h = hashlib.md5(f"{bs}:{p}:{i}".encode()).hexdigest()
                    S[i, b * n_planes + p] = (
                        1.0 if int(h[:15], 16) & 1 else -1.0)
        _SIGN_CACHE[key] = S
    return S


def brute_force_knn(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_to: int | None = 4) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, sim, rank).  `queries` is expected
    small (it is closure-carried); self-matches excluded.

    ONE mapInPandas over the corpus scores every Arrow batch against
    the closure-carried query matrix and keeps a per-partition top-k,
    so the only shuffle moves <= n_partitions * k rows per query (see
    `_folded_knn`; sims equal the `sim_knn_bruteforce` DuckDB oracle).
    """
    qids, Q, qn = _collect_query_matrix(
        queries, id_col, vec_col, keep_null_vecs=True)
    return _folded_knn(corpus, queries, k, id_col, vec_col,
                       round_to, None, None, qids, Q, qn)


def _plane_dots_udf(n_planes: int, seed: int):
    """Arrow-vectorized plane-dots: array<double> of the vector's dot
    products against `n_planes` {-1,+1} hyperplanes derived from
    md5(seed, plane, dim) (`_md5_signs`, the planes the DuckDB oracles
    embed as literals), folded sequentially per dimension so
    near-zero dots keep the oracle's sign bit.  A closure-carried sign
    matrix instead of an n_planes x dim literal expression tree, whose
    driver-side analysis cost (~1-2 s at dim 64) dominated the kNN
    queries' wall clock."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def dots(vs: pd.Series) -> pd.Series:
        import numpy as np

        arr = vs.to_numpy()
        out = np.empty(len(arr), dtype=object)
        out[:] = None
        for dim, sel in _length_groups(arr):
            mat = np.vstack(arr[sel]).astype(np.float64)
            S = _md5_signs(dim, n_planes, (seed,))
            # sequential left fold over dimensions — matches the SQL
            # aggregate() order so near-zero dots keep their sign bit
            acc = np.zeros((mat.shape[0], n_planes))
            for i in range(dim):
                acc += mat[:, i:i + 1] * S[i:i + 1, :]
            for j, row in zip(sel, acc):
                out[j] = row
        return pd.Series(list(out))

    return dots


def _band_buckets_udf(n_planes: int, bands: int, seed: int):
    """Arrow-vectorized UDF computing all `bands` LSH bucket ids per
    vector in one numpy pass — bit-identical to the DuckDB oracle's
    per-band bucket (same md5-parity signs, same sequential left-fold
    summation order, same `dot > 0` bit rule).

    Dense sign-matrix products are the one place numpy beats the SQL
    expression route here: the literal-planes form costs seconds of
    driver analysis + Janino codegen per session (8 bands x 6 planes
    x dim literal nodes), while this UDF is a (batch, dim) @ (dim,
    48) product with per-worker-cached signs.  Per-partition,
    Arrow-batched, embarrassingly parallel — the hot path stays
    vectorized at any corpus size."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def buckets(vs: pd.Series) -> pd.Series:
        import numpy as np

        # NULL / zero-length vectors get a NULL bucket array (posexplode
        # drops them, so they join no bucket); ragged lengths are
        # grouped and hashed with their own dim-sized sign matrix
        # instead of crashing vstack
        arr = vs.to_numpy()
        out = np.empty(len(arr), dtype=object)
        out[:] = None
        band_seeds = tuple(seed + 1000 * b for b in range(bands))
        for dim, sel in _length_groups(arr):
            mat = np.vstack(arr[sel]).astype(np.float64)
            S = _md5_signs(dim, n_planes, band_seeds)
            # sequential left fold over dimensions — matches the SQL
            # aggregate() order the oracles replicate, so near-zero
            # dots keep the same sign bit
            dots = np.zeros((mat.shape[0], bands * n_planes))
            for i in range(dim):
                dots += mat[:, i:i + 1] * S[i:i + 1, :]
            bits = (dots > 0).reshape(-1, bands, n_planes)
            weights = 1 << np.arange(n_planes, dtype=np.int64)
            vals = (bits * weights).sum(axis=2).astype(np.int64)
            for j, row in zip(sel, vals):
                out[j] = row
        return pd.Series(list(out))

    return buckets


_SIGN_CACHE: dict = {}


def _dots_to_bucket(dots: str, n_planes: int) -> str:
    return (
        f"aggregate(zip_with({dots}, sequence(0, {n_planes - 1}), "
        f"(v, i) -> IF(v > 0, shiftleft(1L, i), 0L)), 0L, (a, x) -> a | x)"
    )


def lsh_probe_buckets_expr(dots_col: str, n_planes: int = 8,
                           n_probes: int = 1) -> str:
    """array<bigint> of `n_probes` bucket ids to search, given a column
    holding the plane-dots array (`_plane_dots_udf`): the vector's
    own bucket first, then the buckets reached by flipping the sign bit
    of the LEAST-CONFIDENT planes (smallest |dot| — the planes the
    vector sits closest to, where its true neighbors most likely landed
    on the other side).  Standard multi-probe LSH: buys recall without
    more hash tables, at n_probes x candidate cost."""
    base = _dots_to_bucket(dots_col, n_planes)
    flip_order = (
        f"transform(array_sort(zip_with({dots_col}, "
        f"sequence(0, {n_planes - 1}), "
        "(d, i) -> struct(abs(d) AS a, i AS i))), s -> s.i)"
    )
    return (
        f"concat(array({base}), transform(slice({flip_order}, 1, "
        f"{n_probes - 1}), i -> ({base}) ^ shiftleft(1L, i)))"
    )


# ---------------------------------------------------------------------------
# Folded single-scan kNN
#
# Every kNN operator here (brute force, LSH, seeded IVF) is ONE
# mapInPandas over the corpus: each Arrow batch is (optionally)
# bucketed/cell-assigned with the md5-parity signs / centroid
# distances, scored against the closure-carried query matrix with the
# sequential per-dimension float fold of the DuckDB oracles' list_sum,
# and compacted to a per-partition top-k — so the only shuffle moves
# <= n_partitions * k rows per query into the final rank window.
# This is exactly the 100 TB shape: queries ride the closure (they are
# small by contract), corpus rows never shuffle, and Python cost is
# one Arrow pass.  A broadcast-join formulation (per-pair interpreted
# HOF lambdas, a bucket/cell stage, a candidate join) ran 1.6-1.9x
# slower at 10x (20k x dim-64, 5 queries; SCALING.md "Folded
# single-scan kNN").  Correctness reference: the `sim_knn_*` DuckDB
# oracle SQL in `__spark_entry__.oracle_sql()`.
# ---------------------------------------------------------------------------


def _np_seq_dot(C, QT):
    """(n, d) x (d, q) dot products accumulated dimension-by-dimension
    (left fold) — the same float additions, in the same order, as the
    SQL `aggregate(zip_with(...))` expression and the DuckDB oracles'
    `list_sum`, so sims are bit-identical to the oracles."""
    import numpy as np

    acc = np.zeros((C.shape[0], QT.shape[1]))
    for i in range(C.shape[1]):
        acc += C[:, i:i + 1] * QT[i:i + 1, :]
    return acc


def _np_seq_norm(C):
    """Row L2 norms with the same sequential fold as the SQL
    `sqrt(aggregate(v, 0D, (s, v) -> s + v*v))`."""
    import numpy as np

    acc = np.zeros(C.shape[0])
    for i in range(C.shape[1]):
        acc += C[:, i] * C[:, i]
    return np.sqrt(acc)


def _collect_query_matrix(queries: DataFrame, id_col: str, vec_col: str,
                          keep_null_vecs: bool):
    """Driver-side (qids, Q, qn) for the folded kNN paths.  The query
    side is small by contract and rides the Arrow closure.  NULL /
    empty query vectors: brute force emits top-k rows for them with
    NULL sims (every candidate sim is NULL, as in the oracle's
    cross join), which a zero row reproduces (denominator 0 -> sim
    NULL); LSH/IVF drop them (they have no bucket or cell to probe),
    so callers pass keep_null_vecs accordingly."""
    import numpy as np

    rows = queries.select(
        F.col(id_col).alias("__qid"),
        F.expr(as_double(vec_col)).alias("__qv"),
    ).collect()
    return _query_matrix_from_rows(
        [(r["__qid"], r["__qv"]) for r in rows], keep_null_vecs)


def _query_matrix_from_rows(id_vec_rows, keep_null_vecs):
    """(qids, Q, qn) from already-collected (id, vec) pairs — shared
    by `_collect_query_matrix` and the IVF fold path's single combined
    centroid+query collect."""
    import numpy as np

    dim = next((len(v) for _, v in id_vec_rows if v), 0)
    qids, vecs = [], []
    for qid, v in id_vec_rows:
        if v is not None and len(v) == dim and dim > 0:
            qids.append(qid)
            vecs.append(list(v))
        elif keep_null_vecs:
            qids.append(qid)
            vecs.append([0.0] * dim)
    if not qids:
        return [], None, None
    Q = np.array(vecs, dtype=np.float64)
    return qids, Q, _np_seq_norm(Q)


# Per-TASK work floor for the fold fan-out, in SCORE CELLS (corpus
# rows × query count).  Every extra mapInPandas task pays a
# Python-runner handshake that is partly serialized through the worker
# daemon (see dedup._spread_by_bytes), so the fan-out target is
# work // floor — each fanned task keeps ≥ ~0.3-0.6 s of vectorized
# score+sort work (~3-6× the handshake), instead of splitting by core
# count.  r11 shipped a bytes-based 16 MB budget here that fanned the
# 2M-cell emb_margin_pairs fold to 32 tasks: the driver bench measured
# that query 2.3× SLOWER at 32 cores than at 8 (handshake-bound,
# scaling ratio 0.27).  r12 interleaved A/Bs at sf0.1 (min/median of
# 7 reps, same JVM): this floor (→ 9 tasks) runs 1.80/1.98 s at 32
# cores and 2.28/3.09 s at 8, vs fan-to-all-cores 2.40/2.54 and
# 2.05/2.54, vs no-fan-out 2.93/5.01 and 7.64/12.34 — bounded fan-out
# wins at both core counts and restores 32-core ≤ 8-core.
_FOLD_CELLS_PER_PART = 256 << 10
# Bytes-based fallback when parquet row counts are unreadable: at
# ~400 B/row for a dim-64 float-array row, 256k cells ≈ 100 MB of
# (file bytes × queries); 64 MB keeps the fallback slightly more eager
# than the row floor without re-creating the 32-task regime.
_FOLD_WORK_PER_PART = 64 << 20


def _fan_out_for_queries(df: DataFrame, nq: int) -> DataFrame:
    """Round-robin fan-OUT of a few-split corpus scan before the fold
    when PER-TASK score work (corpus rows × query count) would pin a
    few cores for many seconds.  Never shrinks partitioning, and
    inputs whose size is unknown (mid-pipeline, remote FS) are left
    alone — at cluster scale the scan already has >=
    defaultParallelism splits and this is a no-op, so the 100 TB plan
    shape is unchanged.  Row counts come from parquet footers on the
    driver (no Spark job; the `_spread_by_bytes` rows_per_part
    precedent), so the target is exactly work // per-task-floor: a
    fold that cannot keep every fanned task busy stays on its few
    tasks instead of paying 32 handshakes to split a 2-second job."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= cores:
        return df
    local = local_input(df)
    if local is None or local[1] <= 0:
        return df
    paths, total = local
    rows = parquet_rows(paths)
    if rows:
        target = min(cores,
                     1 + rows * max(nq, 1) // _FOLD_CELLS_PER_PART)
    else:
        target = min(cores,
                     1 + total * max(nq, 1) // _FOLD_WORK_PER_PART)
    if target > cur:
        return df.repartition(int(target))
    return df


def _knn_result_schema(corpus: DataFrame, queries: DataFrame,
                       id_col: str):
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    return StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("neighbor_id", corpus.schema[id_col].dataType),
        StructField("sim", DoubleType()),
        StructField("rank", IntegerType(), False),
    ])


def _folded_knn(corpus: DataFrame, queries: DataFrame, k: int,
                id_col: str, vec_col: str, round_to: int | None,
                key_closure, qsel_by_key, qids, Q, qn) -> DataFrame:
    """Single-scan kNN core: ONE mapInPandas over `corpus` computing
    (optional) bucket/cell keys, cosine sims against the closure query
    matrix, and a per-partition top-k; then one rank window over the
    <= n_partitions * k * |queries| surviving candidates.

    `key_closure(dim, C) -> int64[n]` assigns each batch row a bucket /
    cell (None = score every row against every query); `qsel_by_key`
    maps key -> np.array of query indices probing it (None for brute).
    Sims use the same sequential per-dimension fold as the DuckDB
    oracles — outputs equal them row for row (asserted in
    tests/test_scale_ops.py::test_folded_knn_matches_duckdb_oracle;
    the NULL-sim, zero-norm and NULL-id edges in
    test_folded_knn_edge_semantics)."""
    import numpy as np

    schema = _knn_result_schema(corpus, queries, id_col)
    spark = corpus.sparkSession
    if not qids:
        return spark.createDataFrame([], schema)
    qids_arr = np.array(qids, dtype=object)
    qdim = Q.shape[1]

    def score(it):
        best = None
        for pdf in it:
            ids = pdf["__nid"].to_numpy()
            arr = pdf["__cv"].to_numpy()
            frames = []
            for dim, sel in _length_groups(arr):
                C = np.vstack(arr[sel]).astype(np.float64)
                rid = ids[sel]
                if key_closure is None:
                    groups = [(np.arange(len(rid)),
                               np.arange(len(qids_arr)))]
                else:
                    keys = key_closure(dim, C)
                    groups = []
                    for kv in np.unique(keys):
                        qsel = qsel_by_key.get(int(kv))
                        if qsel is not None:
                            groups.append(
                                (np.nonzero(keys == kv)[0], qsel))
                cn = _np_seq_norm(C) if dim == qdim else None
                for rsel, qsel in groups:
                    if dim == qdim:
                        S = _np_seq_dot(C[rsel], Q[qsel].T)
                        denom = np.outer(cn[rsel], qn[qsel])
                        with np.errstate(divide="ignore",
                                         invalid="ignore"):
                            sim = S / denom
                        sim[denom <= 0] = np.nan  # x/0 -> NULL sim
                        if round_to is not None:
                            sim = np.round(sim, round_to)
                    else:
                        # dim-mismatched (query, corpus) pairs: sim
                        # NULL (SQL zip_with pads with NULLs); keep
                        # the candidates so queries with < k same-dim
                        # matches rank them last, after every scored one
                        sim = np.full((rsel.size, qsel.size), np.nan)
                    f = pd.DataFrame({
                        "query_id": np.repeat(qids_arr[qsel], rsel.size),
                        "neighbor_id": np.tile(rid[rsel], qsel.size),
                        "sim": sim.T.ravel(),
                    })
                    frames.append(f[f["query_id"] != f["neighbor_id"]])
            if frames:
                cand = pd.concat(frames, ignore_index=True)
                best = (cand if best is None
                        else pd.concat([best, cand], ignore_index=True))
                # partial top-k: same (sim DESC NULLS LAST, neighbor)
                # order as the final window, so the survivors are
                # exactly the rows the global top-k needs
                best = (best.sort_values(
                    ["query_id", "sim", "neighbor_id"],
                    ascending=[True, False, True], na_position="last")
                    .groupby("query_id", sort=False).head(k))
        if best is not None:
            # nullable Float64 so NaN (NULL-sim candidates) arrives as
            # SQL NULL, not as a NaN that would rank first
            best["sim"] = best["sim"].astype("Float64")
            yield best

    # NULL corpus ids: SQL's three-valued `query_id <> neighbor_id`
    # drops them; pandas `!=` would keep them, so filter here
    cand = _fan_out_for_queries(
        corpus.select(
            F.col(id_col).alias("__nid"),
            F.expr(as_double(vec_col)).alias("__cv"),
        ).filter(F.col("__nid").isNotNull()), len(qids)
    ).mapInPandas(
        score,
        "query_id {}, neighbor_id {}, sim double".format(
            schema["query_id"].dataType.simpleString(),
            schema["neighbor_id"].dataType.simpleString(),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _allpairs_verifier(threshold: float, group_col: str | None = None):
    """`applyInPandas` function verifying ALL pairs within one group
    (rows: id, v [, group_col]) by exact cosine in a chunked numpy
    fold, emitting only pairs whose RAW sim could still round up to
    `threshold` (margin 5e-5; the exact ROUND(.,4)-then-compare happens
    SQL-side so HALF_UP semantics match the DuckDB oracles).  The fold
    is the same sequential per-dimension accumulation as `_np_seq_dot`,
    so results are bit-identical to the oracles' per-pair cosine.
    Row-chunked (1024), so one task's memory is O(chunk × group), not
    O(group²).
    `group_col` (if given) is passed through as a constant output
    column — used by `semantic_dedup_pairs` to keep the cell id."""
    import numpy as np

    margin = threshold - 5e-5

    def verify(pdf):
        ids = pdf["id"].to_numpy()
        vs = pdf["v"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids, vs = ids[order], vs[order]
        out_a, out_b, out_s = [], [], []
        for dm, sel in _length_groups(vs):
            gi = ids[sel]
            A = np.vstack(vs[sel]).astype(np.float64)
            n = len(gi)
            if n < 2:
                continue
            # sequential per-dimension fold — the same float additions,
            # in the same order, as _np_seq_dot / the SQL aggregate()
            nrm = np.zeros(n)
            for d in range(dm):
                nrm += A[:, d] * A[:, d]
            root = np.sqrt(nrm)
            for s in range(0, n - 1, 1024):
                hi = min(s + 1024, n - 1)
                C = A[s:hi]  # rows i; partners are rows > i
                dot = np.zeros((hi - s, n))
                for d in range(dm):
                    dot += C[:, d:d + 1] * A[None, :, d]
                denom = root[s:hi, None] * root[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = dot / denom
                for i in range(hi - s):
                    j = np.nonzero(
                        (sims[i, s + i + 1:] >= margin)
                        & (denom[i, s + i + 1:] > 0)
                    )[0] + s + i + 1
                    if j.size:
                        out_a.extend([int(gi[s + i])] * j.size)
                        out_b.extend(int(x) for x in gi[j])
                        out_s.extend(float(x) for x in sims[i, j])
        res = {"id_a": pd.Series(out_a, dtype="int64"),
               "id_b": pd.Series(out_b, dtype="int64"),
               "sim": pd.Series(out_s, dtype="float64")}
        if group_col is not None:
            gval = pdf[group_col].iloc[0] if len(pdf) else 0
            res = {group_col: pd.Series([gval] * len(out_a),
                                        dtype="int64"), **res}
        return pd.DataFrame(res)

    return verify


def embedding_dedup_pairs(corpus: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.4, n_planes: int = 6,
                          bands: int = 8, seed: int = 42,
                          max_broadcast_pairs: int | None = None,
                          dim: int | None = None,
                          max_bucket_size: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from banded
    random-hyperplane LSH buckets, verified with exact cosine and
    thresholded.  Returns (id_a, id_b, sim) with id_a < id_b.

    Each band hashes with its own `n_planes` hyperplanes (seed offset
    per band); a pair is a candidate if it collides in ANY band —
    recall = 1 - (1 - p^n_planes)^bands for per-plane agreement p, so
    bands buy recall and planes bound bucket size.

    Verification is PER-BUCKET MATRIX, not per-pair join: each
    (band, bucket) group's vectors verify all-pairs in one numpy fold
    inside `applyInPandas`, and only pairs that can reach the threshold
    leave the group.  The vectors ride the bucket shuffle, so shuffle
    volume is bands × corpus — linear, vs the previous per-pair join
    that shipped TWO dim-length vectors per candidate through an Arrow
    exchange (quadratic in bucket size: 256 k candidates × 2 × 64
    doubles ≈ 260 MB at sf0.1 against this path's 8 MB).  Sub-threshold
    pairs never enter any exchange; the cross-band distinct sees only
    survivors.  `max_bucket_size` still caps degenerate buckets before
    the group-by, and within a group the fold is row-chunked, so one
    task's memory is O(chunk × bucket), not O(bucket²).

    Float semantics are bit-identical to the previous pair path (and
    the DuckDB oracle): sequential left-fold over dimensions for dot
    and norms, `dot / (sqrt(na) * sqrt(nb))`, ROUND-then-threshold on
    the Spark side.  Feed the output to `dedup_assign` for
    per-document keep/drop verdicts.
    """
    del dim  # signs adapt to size(vec) inside the UDF; kept for API compat
    del max_broadcast_pairs  # no pair-level join remains; API compat
    buckets = _band_buckets_udf(n_planes, bands, seed)(F.col(vec_col))
    from .dedup import _cap_buckets, _spread

    b = _cap_buckets(
        _spread(corpus).select(
            F.col(id_col).alias("id"),
            F.expr(as_double(vec_col)).alias("v"),
            F.posexplode(buckets).alias("band", "bucket"),
        ),
        ["band", "bucket"], max_bucket_size,
    )
    pairs = b.groupBy("band", "bucket").applyInPandas(
        _allpairs_verifier(threshold),
        schema="id_a BIGINT, id_b BIGINT, sim DOUBLE",
    )
    # a pair colliding in several bands yields bit-identical rows
    # (same fold over the same rows) — distinct over survivors only
    return (
        pairs.distinct()
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup_pairs(corpus: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.4,
                         n_lists: int = 8,
                         boundary_eps: float = 0.0) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then verify
    all-pairs cosine WITHIN each cluster only — the scalable
    approximation that made semantic dedup tractable for LAION/web
    corpora.  Returns (cell, id_a, id_b, sim) with id_a < id_b and
    ROUND(sim, 4) >= threshold.

    Differences from `embedding_dedup_pairs` (banded LSH): one
    partition of the space (each vector lands in exactly ONE cell via
    deterministic seeded centroids — `ivf.seed_centroids`), so recall
    is bounded by cluster purity rather than band count, and the
    shuffle is 1 × corpus instead of bands × corpus.  Use this when
    duplicates are *semantic neighborhoods* (clustered structure);
    use the LSH operator for worst-case scattered near-dups.

    `boundary_eps > 0` turns on MULTI-PROBE assignment: a vector
    within the relative margin (d2 - d1) <= eps * (d1 + d2) of its
    runner-up centroid is ALSO a member of that cell
    (`ivf.assign_cells_boundary`), so a near-dup pair straddling a
    cluster boundary — the recall loss single assignment suffers,
    LIMITATIONS §12 — meets in at least one shared cell.  Membership
    grows by at most the boundary fraction (shuffle stays O(corpus));
    a pair found in both shared cells deduplicates to its smallest
    cell id.  The default 0.0 is exact single assignment (the
    bit-oracled `dedup_semantic` contract).

    100 TB shape: centroid assignment is scan-side (Arrow-UDF closure
    — `ivf.assign_cells`), the only shuffle is the cell group-by
    carrying each vector once, and verification is the
    shared chunked matrix fold (`_allpairs_verifier`) so sub-threshold
    pairs never enter an exchange.  Degenerate cells are bounded by
    n_lists sizing (cells ≈ corpus / n_lists; raise n_lists to shrink
    the quadratic term exactly like SemDeDup's k)."""
    from .ivf import _as_vec, assign_cells, seed_centroids

    cent_df = seed_centroids(corpus, id_col, vec_col, n_lists)
    vectors = corpus.select(
        F.col(id_col).alias("id"),
        F.expr(_as_vec(vec_col)).alias("arr"),
    )
    # NULL cells (NULL / empty / dim-mismatched vectors the assignment
    # UDF could not place) are dropped BEFORE the group-by: they carry
    # nothing verifiable, and a NULL-cell group would reach the
    # verifier as one giant pseudo-bucket
    if boundary_eps > 0:
        from .ivf import assign_cells_boundary

        assigned = (
            assign_cells_boundary(vectors, cent_df, boundary_eps)
            .select(F.explode("cells").alias("cell"), "id",
                    F.col("arr").alias("v"))
            .filter(F.col("cell").isNotNull())
        )
    else:
        assigned = assign_cells(vectors, cent_df).filter(
            F.col("cell").isNotNull()
        ).select("cell", "id", F.col("arr").alias("v"))
    pairs = assigned.groupBy("cell").applyInPandas(
        _allpairs_verifier(threshold, group_col="cell"),
        schema="cell BIGINT, id_a BIGINT, id_b BIGINT, sim DOUBLE",
    )
    out = (
        pairs.select("cell", "id_a", "id_b",
                     F.round("sim", 4).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    if boundary_eps > 0:
        # a boundary pair sharing BOTH probed cells verifies twice
        # with an identical sim (same fold over the same two vectors)
        # — collapse to the smallest cell id
        out = (out.groupBy("id_a", "id_b")
               .agg(F.min("cell").alias("cell"),
                    F.min("sim").alias("sim"))
               .select("cell", "id_a", "id_b", "sim"))
    return out


def semantic_dedup_verdicts(corpus: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.4,
                            n_lists: int = 8,
                            boundary_eps: float = 0.0) -> DataFrame:
    """Per-vector keep/drop verdicts from `semantic_dedup_pairs` under
    the SemDeDup keep-one rule with min-id priority: a vector is a
    duplicate iff some LOWER-id vector in its cell is within the
    cosine threshold.  One anti-joinable drop-list — no connected
    components needed, because the priority order makes the rule
    local to each pair.  `boundary_eps` passes through to the pair
    generator's multi-probe assignment."""
    drops = (semantic_dedup_pairs(corpus, id_col, vec_col,
                                  threshold, n_lists, boundary_eps)
             .select(F.col("id_b").alias("__drop_id")).distinct())
    return corpus.join(
        drops, F.col(id_col) == F.col("__drop_id"), "left"
    ).select(
        F.col(id_col),
        F.col("__drop_id").isNotNull().alias("is_duplicate"),
    )


def _lsh_key_closure(n_planes: int, seed: int):
    """Worker-side bucket assignment for the folded LSH path: the same
    md5-parity signs and sequential dimension fold as
    `_plane_dots_udf` + `_dots_to_bucket`, so bucket ids are
    bit-identical to `save_lsh_index` and the DuckDB oracles."""
    def key(dim, C):
        import numpy as np

        S = _md5_signs(dim, n_planes, (seed,))
        acc = np.zeros((C.shape[0], n_planes))
        for i in range(dim):
            acc += C[:, i:i + 1] * S[i:i + 1, :]
        w = 1 << np.arange(n_planes, dtype=np.int64)
        return ((acc > 0) * w).sum(axis=1).astype(np.int64)

    return key


def _lsh_probe_map(Q, n_planes: int, seed: int, n_probes: int):
    """key -> query-index array for the folded LSH path: each query's
    own bucket plus the buckets reached by flipping its least-confident
    sign bits — the same (|dot|, plane) ordering as
    `lsh_probe_buckets_expr`."""
    import numpy as np

    dim = Q.shape[1]
    S = _md5_signs(dim, n_planes, (seed,))
    acc = np.zeros((Q.shape[0], n_planes))
    for i in range(dim):
        acc += Q[:, i:i + 1] * S[i:i + 1, :]
    w = 1 << np.arange(n_planes, dtype=np.int64)
    base = ((acc > 0) * w).sum(axis=1).astype(np.int64)
    qsel_by_key: dict = {}
    for qi in range(Q.shape[0]):
        flip = np.lexsort((np.arange(n_planes), np.abs(acc[qi])))
        buckets = [int(base[qi])] + [
            int(base[qi] ^ (1 << int(flip[j])))
            for j in range(n_probes - 1)
        ]
        for b in dict.fromkeys(buckets):
            qsel_by_key.setdefault(b, []).append(qi)
    return {b: np.array(v) for b, v in qsel_by_key.items()}


def lsh_bucketed_knn(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     n_planes: int = 8, seed: int = 42,
                     n_probes: int = 1) -> DataFrame:
    """ANN via random-hyperplane LSH: corpus and queries are bucketed by
    the sign pattern of `n_planes` pseudo-random hyperplanes (derived
    deterministically from md5(seed, plane, dim) so the bucketing is
    reproducible across runs and engines); search runs within buckets.

    n_probes > 1 enables multi-probe: each query additionally searches
    the buckets reached by flipping its least-confident sign bits
    (see `lsh_probe_buckets_expr`) — recall rises with n_probes at
    n_probes x candidate cost, corpus-side layout unchanged (the probe
    set is computed on the small closure-carried query side only).

    Recall < 1.0 by design; each query scores only the
    ~n_probes*n/2^n_planes corpus rows in its probed buckets.

    Bucket assignment, probe lookup, scoring and the per-partition
    top-k all run inside ONE mapInPandas over the corpus
    (`_folded_knn`) — no candidate join, no separate bucket stage.
    Output equals the `sim_knn_lsh` / `sim_knn_lsh_multiprobe` DuckDB
    oracles.
    """
    qids, Q, qn = _collect_query_matrix(
        queries, id_col, vec_col, keep_null_vecs=False)
    qmap = (_lsh_probe_map(Q, n_planes, seed, n_probes)
            if qids else {})
    return _folded_knn(corpus, queries, k, id_col, vec_col, 4,
                       _lsh_key_closure(n_planes, seed), qmap,
                       qids, Q, qn)


def save_lsh_index(corpus: DataFrame, path: str, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_planes: int = 8,
                   seed: int = 42) -> None:
    """Persist the LSH-bucketed corpus as a probe-ready index: one
    parquet dataset PARTITIONED BY bucket holding (neighbor_id, vector,
    precomputed norm) — built once, probed many times, the production
    shape where the corpus is hashed by a nightly job and queries
    arrive all day.  Partitioning by bucket turns every probe into a
    partition-PRUNED scan: a query touching p buckets reads p/2^n_planes
    of the files and none of the rest.  Hyperplane parameters ride in a
    `_lsh_meta.json` sidecar so a probe can never silently hash with
    different planes than the index was built with."""
    import json
    from pathlib import Path

    dots = _plane_dots_udf(n_planes, seed)
    nrm = "sqrt(aggregate({v}, 0D, (s, v) -> s + v * v))"
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(as_double(vec_col)).alias("cv"),
        dots(F.col(vec_col)).alias("__ds"),
    ).select(
        "neighbor_id", "cv",
        F.expr(nrm.format(v="cv")).alias("cn"),
        F.expr(_dots_to_bucket("__ds", n_planes)).alias("bucket"),
    )
    # co-locate each bucket before the partitioned write: one file per
    # bucket instead of (tasks x buckets) shards — the small-file
    # problem is the classic partitioned-index killer at scale
    (c.repartition(F.col("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    Path(path, "_lsh_meta.json").write_text(
        json.dumps({"n_planes": n_planes, "seed": seed}))


def knn_lsh_from_index(spark, path: str, queries: DataFrame,
                       k: int = 10, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_probes: int = 1) -> DataFrame:
    """kNN probe against a `save_lsh_index` dataset — bit-identical
    results to `lsh_bucketed_knn` over the original corpus (same
    md5-parity planes from the sidecar, same fold order, same
    tie-break), without re-hashing or even re-reading the unprobed
    corpus: the probed bucket ids (≤ queries × n_probes, collected —
    bounded by the query batch, which broadcasts anyway) become a
    partition-pruning filter on the index scan."""
    import json
    from pathlib import Path

    meta = json.loads(Path(path, "_lsh_meta.json").read_text())
    n_planes, seed = meta["n_planes"], meta["seed"]
    dots = _plane_dots_udf(n_planes, seed)
    nrm = "sqrt(aggregate({v}, 0D, (s, v) -> s + v * v))"
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.expr(as_double(vec_col)).alias("qv"),
            dots(F.col(vec_col)).alias("__ds"),
        )
        .select(
            "query_id", "qv",
            F.expr(nrm.format(v="qv")).alias("qn"),
            F.explode(F.expr(
                lsh_probe_buckets_expr("__ds", n_planes, n_probes)
            )).alias("bucket"),
        )
    )
    probed = [r.bucket for r in q.select("bucket").distinct().collect()]
    idx = (spark.read.option("basePath", path).parquet(path)
           .filter(F.col("bucket").isin(probed)))
    dot = ("aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, "
           "(s, v) -> s + v)")
    scored = (
        idx.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(F.expr(f"({dot} / (qn * cn))"), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           round_to: int = 4) -> DataFrame:
    """Benchmark-contamination screen over embeddings: one row per
    scoreable corpus vector with its nearest benchmark item —
    (id_col, bench_id, max_sim, contaminated INT) — the semantic
    complement of the n-gram `decontaminate` in `llm/text.py` (catches
    paraphrased eval items that shingle overlap misses).

    Scale shape: the benchmark is an eval set — thousands of rows —
    so it rides the Arrow closure (sorted by id for deterministic
    ties) and the corpus is scanned ONCE by a mapInPandas computing a
    vectorized max-cosine per row; nothing corpus-sized ever shuffles
    (the output is one slim row per corpus vector, produced map-side).
    Compare the relational formulation (corpus CROSS JOIN benchmark
    then groupBy max): |benchmark|× row inflation through the
    exchange.  Sims use the same sequential per-dimension fold as
    every kNN path here, so results are bit-identical to the SQL
    oracle; ties on the rounded max pick the smallest bench id.

    NULL, dimension-mismatched, and zero-norm corpus vectors are NOT
    scored (unknown content cannot be declared contaminated);
    zero-norm benchmark vectors score NULL against everything and
    drop out of the max like the SQL MAX over NULLs."""
    import numpy as np

    from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                                   StructField, StructType)

    qids, Q, qn = _collect_query_matrix(
        benchmark, id_col, vec_col, keep_null_vecs=False)
    corpus_id_type = corpus.schema[id_col].dataType
    bench_id_type = benchmark.schema[id_col].dataType
    schema = StructType([
        StructField(id_col, corpus_id_type),
        StructField("bench_id", bench_id_type),
        StructField("max_sim", DoubleType()),
        StructField("contaminated", IntegerType()),
    ])
    spark = corpus.sparkSession
    if not qids:
        return spark.createDataFrame([], schema)
    order = np.argsort(np.array(qids))     # smallest bench id wins ties
    qids_sorted = [qids[i] for i in order]
    Qs, qns = Q[order], qn[order]
    qdim = Qs.shape[1]

    slim = corpus.select(F.col(id_col).alias("__nid"),
                         F.expr(as_double(vec_col)).alias("__cv"))

    def score(it):
        for pdf in it:
            ids = pdf["__nid"].to_numpy()
            arr = pdf["__cv"].to_numpy()
            for dim, sel in _length_groups(arr):
                if dim != qdim:
                    continue
                C = np.vstack(arr[sel]).astype(np.float64)
                rid = ids[sel]
                cn = _np_seq_norm(C)
                ok = cn > 0
                if not ok.any():
                    continue
                S = _np_seq_dot(C[ok], Qs.T)
                denom = np.outer(cn[ok], qns)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = S / denom
                sim[denom <= 0] = np.nan
                sim = np.round(sim, round_to)
                allnan = np.all(np.isnan(sim), axis=1)
                if allnan.all():
                    continue
                sim_f = np.where(np.isnan(sim), -np.inf, sim)
                best = np.argmax(sim_f, axis=1)   # first max = min id
                mx = sim_f[np.arange(sim_f.shape[0]), best]
                keep = ~allnan
                yield pd.DataFrame({
                    id_col: rid[ok][keep],
                    "bench_id": [qids_sorted[j] for j in best[keep]],
                    "max_sim": mx[keep],
                    "contaminated": (mx[keep] >= threshold)
                    .astype("int32"),
                })

    return slim.mapInPandas(score, schema)


def margin_pairs(knn_a2b: DataFrame, knn_b2a: DataFrame,
                 round_to: int = 6) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix bitext criterion, "ratio" margin):

        margin(x, y) = cos(x, y) /
                       (0.5 * (mean_k cos(x, NN_B(x)) +
                               mean_k cos(y, NN_A(y))))

    factored the way it scales: the inputs are BOUNDED top-k neighbor
    lists (query_id, neighbor_id, sim, rank) from ANY retriever —
    `brute_force_knn` for exactness, `lsh_bucketed_knn` /
    `knn_lsh_from_index` at corpus scale — so every join here is on
    lists of <= |side| * k rows and nothing quadratic materializes
    (the same post-processing factorization as `rrf_fuse`).

    Returns the MUTUAL best-margin pairs (id_a, id_b, margin): y is
    x's margin-argmax in A->B and x is y's in B->A — the
    "intersection" strategy of the paper, the highest-precision
    variant.  Determinism: sims arrive rounded (round_to=4 in the kNN
    paths); denominators sum the 1e-4-quantized sims as exact BIGINTs
    (order-independent), margins round to `round_to` with signed zero
    canonicalized, argmax ties break to the smaller neighbor id.
    An exactly-zero mean-sim denominator yields a NULL margin and the
    pair is excluded; a NEGATIVE denominator (all-negative neighbor
    sims) flows through as a negative margin — identically on both
    engines — and loses every argmax to any positive-margin pair."""
    q = "CAST(round(sim * 10000) AS BIGINT)"

    def _denom(knn: DataFrame) -> DataFrame:
        return (knn.select(F.col("query_id").alias("id"),
                           F.expr(q).alias("sq"))
                .groupBy("id")
                .agg(F.sum("sq").alias("s"), F.count("*").alias("n")))

    da, db = _denom(knn_a2b), _denom(knn_b2a)

    def _margined(knn: DataFrame, dq: DataFrame, dn: DataFrame) -> DataFrame:
        m = ("round(sim / nullif((sa / CAST(na AS DOUBLE) "
             "+ sb / CAST(nb AS DOUBLE)) / 2.0 / 10000.0, 0D), "
             f"{round_to}) + 0.0D")
        scored = (
            knn.join(dq.select(F.col("id").alias("query_id"),
                               F.col("s").alias("sa"),
                               F.col("n").alias("na")), "query_id")
            .join(dn.select(F.col("id").alias("neighbor_id"),
                            F.col("s").alias("sb"),
                            F.col("n").alias("nb")), "neighbor_id")
            .select("query_id", "neighbor_id", F.expr(m).alias("margin"))
            .filter(F.col("margin").isNotNull())
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("margin").desc(), F.col("neighbor_id"))
        return (scored.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))

    best_a = _margined(knn_a2b, da, db)
    best_b = _margined(knn_b2a, db, da)
    return (
        best_a.alias("a")
        .join(best_b.alias("b"),
              (F.col("a.query_id") == F.col("b.neighbor_id"))
              & (F.col("a.neighbor_id") == F.col("b.query_id")))
        .select(F.col("a.query_id").alias("id_a"),
                F.col("a.neighbor_id").alias("id_b"),
                F.col("a.margin").alias("margin"))
    )
