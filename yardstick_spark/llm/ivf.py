"""IVF (inverted-file) approximate nearest neighbor — the k-means
scale path for embedding search.

Build: cluster the corpus into `n_lists` cells with Spark ML KMeans
(seeded, deterministic); store each vector's cell id.  Query: probe the
`n_probe` cells whose centroids are nearest the query vector and score
only those candidates — a corpus scan shrinks to ~n_probe/n_lists of the
data, and the cell assignment is a broadcast-able centroid table at any
corpus size.

Compared to `lsh_bucketed_knn` (random hyperplanes, data-independent),
IVF adapts its partitions to the data distribution — better recall at
equal probe cost on clustered embeddings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..sparkutil import cache, portable_hash


def _as_vec(col: str) -> str:
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def build_ivf_index(corpus: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", n_lists: int = 16,
                    seed: int = 42, max_iter: int = 8) -> tuple[DataFrame, DataFrame]:
    """Returns (assigned, centroids): corpus rows with a `cell` column,
    and the centroid table (cell, centroid array<double>).

    max_iter=8 (vs the ML default 20): each k-means iteration is a full
    corpus pass; IVF recall is insensitive to late iterations (cell
    boundaries move little after the first few) and the recall gate in
    tests/test_scale_ops.py holds at 8.  Random init instead of
    k-means|| for the same reason — || init costs ~5 extra corpus
    passes to place seeds the probe structure is insensitive to (the
    recall gate holds on random init).  The feature projection is
    cached so the init + max_iter passes don't re-scan and re-convert
    the corpus each round."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # registered via sparkutil.cache so clear_dedup_caches() releases
    # the feature blocks (the returned `assigned` frame still reads them;
    # unmaterialized consumers recompute after a clear — documented
    # lifecycle in llm.__doc__)
    feats = cache(corpus.select(
        F.col(id_col).alias("id"),
        F.expr(_as_vec(vec_col)).alias("arr"),
    ).withColumn("features", array_to_vector("arr")))
    km = KMeans(k=n_lists, seed=seed, predictionCol="cell",
                maxIter=max_iter, initMode="random")
    model = km.fit(feats)
    assigned = model.transform(feats).select("id", "arr", "cell")
    centroids = feats.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        schema="cell INT, centroid ARRAY<DOUBLE>",
    )
    return assigned, centroids


def seed_centroids(corpus: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   n_lists: int = 16) -> DataFrame:
    """Deterministic, engine-portable seed centroids: bucket vector ids
    by a portable md5 hash, take the min-id vector of each bucket as
    that cell's centroid.

    Closed-form (no iterative fit, no FP aggregation), so a SQL oracle
    can reproduce the identical index bit-for-bit — unlike a k-means
    fit, whose floating-point mean updates are not reproducible across
    engines.  At scale this is one map-side-combined groupBy-min over
    ids plus a join back for the n_lists seed rows.  Recall trails a
    fitted k-means on clustered data (seeds ignore the distribution)
    but the probe structure and cost model are identical.
    """
    h = portable_hash(f"CAST({id_col} AS STRING)")
    # NULL/empty vectors can never seed a cell (a NULL centroid would
    # poison every distance fold downstream); the filter is a no-op on
    # clean corpora, so the SQL oracles — which don't model it — agree
    b = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).select(
        F.col(id_col).alias("id"),
        F.expr(_as_vec(vec_col)).alias("arr"),
        F.expr(f"pmod({h}, {n_lists})").alias("cell"),
    )
    # min_by fetches the min-id row's vector inside the same map-side-
    # combined aggregation — one shuffle of n_lists rows, no join back
    # (ids are unique, so min_by ties cannot arise and the result is
    # identical to the former min-id + join-back formulation)
    return b.groupBy("cell").agg(
        F.expr("min_by(arr, id)").alias("centroid")
    )


def _centroid_matrix(centroids: DataFrame):
    """(cells_sorted, matrix) with row i = centroid of cells_sorted[i];
    collects the (bounded, n_lists-row) centroid table and delegates to
    `_centroid_matrix_from_rows`."""
    return _centroid_matrix_from_rows(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
        if r["centroid"] is not None and len(r["centroid"]) > 0
    )


def _centroid_matrix_from_rows(cell_centroid_rows):
    """(cells_sorted, matrix) from (cell, centroid) pairs.  On a ragged
    corpus the seeded centroids can disagree on dimension; the matrix
    keeps only the MAJORITY dimension's cells (ties to the smaller dim
    — deterministic), and the assignment UDFs drop vectors whose dim
    doesn't match the matrix, so mixed-dim corpora degrade to NULL
    cells instead of a vstack crash."""
    import numpy as np

    rows = sorted(cell_centroid_rows)
    if not rows:
        return np.array([], dtype=np.int64), np.zeros((0, 1))
    from collections import Counter

    dims = Counter(len(v) for _, v in rows)
    best_dim = min(sorted(dims), key=lambda d: (-dims[d], d))
    rows = [(c, v) for c, v in rows if len(v) == best_dim]
    cells = np.array([c for c, _ in rows], dtype=np.int64)
    mat = np.array([v for _, v in rows], dtype=np.float64)
    return cells, mat


def _sq_dists(A, mat, mat_sq):
    """Squared euclidean distances via the matmul identity
    ||a-c||^2 = ||a||^2 + ||c||^2 - 2 a·c.  O(rows × lists) output
    memory — the 3D broadcast form ((A[:,None,:]-mat)²).sum() allocates
    rows × lists × dim float64 per Arrow batch, which at the 4k-64k
    list sizes this path exists for (e.g. 10k rows × 16k lists × 128
    dims ≈ 160 GB) OOMs the executor.  ||a||^2 is dropped: constant
    per row, so argmin/ordering over cells is unchanged and we never
    compare distances across rows.  Tiny negative values from
    cancellation don't matter for ordering ties beyond float noise
    (within 1e-9 of the oracles' sequential fold)."""
    import numpy as np

    return mat_sq[None, :] - 2.0 * (A @ mat.T)


# rows per distance-matrix chunk inside one Arrow batch: bounds peak
# memory at _CHUNK_ROWS × n_lists × 8 bytes (512 × 65536 × 8 = 256 MB
# worst case) regardless of spark.sql.execution.arrow.maxRecordsPerBatch
_CHUNK_ROWS = 512


def _assign_cell_udf(cells, mat):
    """Scan-side nearest-centroid assignment via Arrow batches; the
    centroid matrix lives in the closure, not the expression tree.
    Ties break to the lower cell id (rows are cell-sorted and argmin
    returns the first minimum), the oracles' ORDER BY d2, cell rule.
    NULL / empty / centroid-dim-mismatched vectors get a NULL cell
    (dropped by the downstream equi-join on cell) — never a vstack
    crash."""
    from pyspark.sql.functions import pandas_udf

    from .similarity import _length_groups

    mat_sq = (mat * mat).sum(axis=1)

    @pandas_udf("int")
    def assign(arr: pd.Series) -> pd.Series:
        import numpy as np

        vs = arr.to_numpy()
        out = np.empty(len(vs), dtype=object)
        out[:] = None
        for dm, sel in _length_groups(vs):
            if dm != mat.shape[1]:
                continue
            A = np.vstack(vs[sel]).astype(np.float64)
            res = np.empty(len(A), dtype="int64")
            for s in range(0, len(A), _CHUNK_ROWS):
                d2 = _sq_dists(A[s:s + _CHUNK_ROWS], mat, mat_sq)
                res[s:s + _CHUNK_ROWS] = cells[np.argmin(d2, axis=1)]
            for j, v in zip(sel, res):
                out[j] = int(v)
        return pd.Series(out)

    return assign


def _probe_cells_udf(cells, mat, n_probe: int):
    """Scan-side probe selection: the n_probe nearest cells per query
    vector, ordered by (d2, cell) — the oracles' ORDER BY d2, cell
    rule.  NULL / empty / dim-mismatched query vectors probe a NULL
    cell list (explode drops them)."""
    from pyspark.sql.functions import pandas_udf

    from .similarity import _length_groups

    mat_sq = (mat * mat).sum(axis=1)

    @pandas_udf("array<int>")
    def probe(qv: pd.Series) -> pd.Series:
        import numpy as np

        vs = qv.to_numpy()
        out = np.empty(len(vs), dtype=object)
        out[:] = None
        for dm, sel in _length_groups(vs):
            if dm != mat.shape[1]:
                continue
            Q = np.vstack(vs[sel]).astype(np.float64)
            probes = []
            for s in range(0, len(Q), _CHUNK_ROWS):
                d2 = _sq_dists(Q[s:s + _CHUNK_ROWS], mat, mat_sq)
                for row in d2:
                    order = np.lexsort((cells, row))[:n_probe]
                    probes.append([int(c) for c in cells[order]])
            for j, p in zip(sel, probes):
                out[j] = p
        return pd.Series(out)

    return probe


def assign_cells(vectors: DataFrame, cent_df: DataFrame,
                 vec_col: str = "arr") -> DataFrame:
    """`vectors` plus a `cell` column: nearest centroid by squared
    euclidean distance, ties to the lower cell id.  Scan-side with zero
    extra shuffle: an Arrow UDF whose closure carries the centroid
    matrix (`_assign_cell_udf`), so driver-side plan cost is O(1) in
    the centroid count.  Assignments equal the `asg` CTE of the
    `sim_knn_ivf` / `dedup_semantic` DuckDB oracles.  Used by
    `semantic_dedup_pairs`."""
    cells, mat = _centroid_matrix(cent_df)
    return vectors.withColumn(
        "cell", _assign_cell_udf(cells, mat)(F.col(vec_col)))


def assign_cells_boundary(vectors: DataFrame, cent_df: DataFrame,
                          boundary_eps: float,
                          vec_col: str = "arr") -> DataFrame:
    """`vectors` plus a `cells` ARRAY column: the nearest centroid's
    cell, PLUS the second-nearest when the vector sits within the
    relative boundary margin — (d2 - d1) <= eps * (d1 + d2), the
    symmetric normalized margin, 0 exactly on the bisecting
    hyperplane.  The SemDeDup multi-probe: a near-dup pair straddling
    a cluster boundary splits across cells under single assignment
    (the recall loss LIMITATIONS §12 documents); probing the runner-up
    cell for boundary vectors bounds that loss at the cost of a
    <= (1 + boundary_fraction) membership blow-up — still one scan,
    no extra shuffle beyond the slightly larger group-by.

    Ordering is (d, cell) lexicographic (ties to the lower cell id),
    the same rule as `assign_cells`; NULL / empty / dim-mismatched
    vectors yield a NULL array (dropped by callers' NotNull filter
    after the explode).  Expected cells are pinned in
    tests/test_text_ops.py::test_assign_cells_boundary_cells."""
    cells, mat = _centroid_matrix(cent_df)
    return vectors.withColumn(
        "cells",
        _assign_cells_boundary_udf(cells, mat, boundary_eps)(
            F.col(vec_col)))


def _assign_cells_boundary_udf(cells, mat, eps: float):
    """Arrow boundary-probe assignment for `assign_cells_boundary`
    (closure-carried centroid matrix, (d2, cell) lexsort tie rule)."""
    from pyspark.sql.functions import pandas_udf

    from .similarity import _length_groups

    mat_sq = (mat * mat).sum(axis=1)

    @pandas_udf("array<bigint>")
    def assign(arr: pd.Series) -> pd.Series:
        import numpy as np

        vs = arr.to_numpy()
        out = np.empty(len(vs), dtype=object)
        out[:] = None
        for dm, sel in _length_groups(vs):
            if dm != mat.shape[1]:
                continue
            A = np.vstack(vs[sel]).astype(np.float64)
            for s in range(0, len(A), _CHUNK_ROWS):
                chunk = A[s:s + _CHUNK_ROWS]
                # _sq_dists drops the per-row ||x||^2 constant (argmin
                # doesn't need it) — the relative-margin DENOMINATOR
                # does, so restore it to get true squared distances
                d2 = (_sq_dists(chunk, mat, mat_sq)
                      + (chunk * chunk).sum(axis=1, keepdims=True))
                for j, row in zip(sel[s:s + _CHUNK_ROWS], d2):
                    order = np.lexsort((cells, row))
                    picked = [int(cells[order[0]])]
                    if (len(order) >= 2
                            and row[order[1]] - row[order[0]]
                            <= eps * (row[order[0]] + row[order[1]])):
                        picked.append(int(cells[order[1]]))
                    out[j] = picked
        return pd.Series(out)

    return assign


def _ivf_key_closure(cells, mat):
    """Worker-side nearest-centroid key for the folded IVF path — the
    same `_sq_dists` matmul identity and first-argmin (lowest cell)
    tie rule as `_assign_cell_udf`, so assignments are identical."""
    mat_sq = (mat * mat).sum(axis=1)

    def key(dim, C):
        import numpy as np

        if dim != mat.shape[1]:
            # dim-mismatched rows get a cell no query probes
            return np.full(len(C), -1, dtype=np.int64)
        res = np.empty(len(C), dtype=np.int64)
        for s in range(0, len(C), _CHUNK_ROWS):
            d2 = _sq_dists(C[s:s + _CHUNK_ROWS], mat, mat_sq)
            res[s:s + _CHUNK_ROWS] = cells[np.argmin(d2, axis=1)]
        return res

    return key


def _ivf_probe_map(Q, cells, mat, n_probe: int):
    """key -> query-index array: each query probes its n_probe nearest
    cells ordered by (d2, cell) — the same lexsort rule as
    `_probe_cells_udf`."""
    import numpy as np

    qmap: dict = {}
    if Q is None or mat.size == 0 or Q.shape[1] != mat.shape[1]:
        return qmap
    mat_sq = (mat * mat).sum(axis=1)
    d2 = _sq_dists(Q, mat, mat_sq)
    for qi, row in enumerate(d2):
        order = np.lexsort((cells, row))[:n_probe]
        for c in cells[order]:
            qmap.setdefault(int(c), []).append(qi)
    return {c: np.array(v) for c, v in qmap.items()}


def ivf_knn_seeded(corpus: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_lists: int = 16, n_probe: int = 4) -> DataFrame:
    """Approximate top-k cosine neighbors over a deterministically
    seeded IVF index (see `seed_centroids`).

    The centroid table is bounded by n_lists, so cell assignment and
    probe selection run scan-side with zero extra shuffle (exactly how
    a deployed IVF index ships its centroids to every executor): cell
    assignment, probe lookup, scoring and the per-partition top-k all
    run inside ONE mapInPandas over the corpus
    (`similarity._folded_knn`) with the centroid matrix and query
    matrix in the closure, so driver-side plan analysis stays O(1) in
    n_lists — the production path for 4k-64k-list indexes.  No
    candidate join, no separate assignment stage; the final top-k
    rank window sees <= n_partitions * k rows per query.  Output
    equals the `sim_knn_ivf` DuckDB oracle (same `_sq_dists` +
    first-argmin assignment, same sequential cosine fold).
    """
    from .similarity import _folded_knn, _query_matrix_from_rows

    cent_df = seed_centroids(corpus, id_col, vec_col, n_lists)
    # ONE combined driver action for both closure inputs: the
    # n_lists-row centroid aggregate and the (small by contract)
    # query rows ride the same tagged union, so the fold path pays
    # exactly two Spark jobs total — this collect and the scan —
    # instead of three (separate centroid + query collects each
    # paid a full job-launch floor; measured on the 10x corpus the
    # merge removes ~0.2 s of pure scheduling).  Both legs keep
    # their original shaping expressions, so the parsed rows are
    # identical to the two-collect formulation.
    qid_t = queries.schema[id_col].dataType
    cent_leg = cent_df.select(
        F.lit(0).alias("__tag"),
        F.col("cell").cast("int").alias("cell"),
        F.col("centroid").alias("centroid"),
        F.lit(None).cast(qid_t).alias("__qid"),
        F.lit(None).cast("array<double>").alias("__qv"),
    )
    q_leg = queries.select(
        F.lit(1).alias("__tag"),
        F.lit(None).cast("int").alias("cell"),
        F.lit(None).cast("array<double>").alias("centroid"),
        F.col(id_col).alias("__qid"),
        F.expr(_as_vec(vec_col)).alias("__qv"),
    )
    rows = cent_leg.unionByName(q_leg).collect()
    cells, mat = _centroid_matrix_from_rows(
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in rows
        if r["__tag"] == 0 and r["centroid"] is not None
        and len(r["centroid"]) > 0)
    qids, Q, qn = _query_matrix_from_rows(
        [(r["__qid"], r["__qv"]) for r in rows if r["__tag"] == 1],
        keep_null_vecs=False)
    qmap = _ivf_probe_map(Q, cells, mat, n_probe) if qids else {}
    return _folded_knn(corpus, queries, k, id_col, vec_col, 4,
                       _ivf_key_closure(cells, mat), qmap,
                       qids, Q, qn)


def _score_probed(assigned: DataFrame, probes: DataFrame,
                  vec_name: str) -> DataFrame:
    """Cosine-score (query, corpus) candidates of the probe join.
    Norms are folded once per vector SCAN-SIDE on each input, so the
    per-candidate expression is the dot product alone — the norm folds
    are interpreted HOF lambdas, and folding them per candidate tripled
    the inner-loop interpreter steps (measured 1.61 s -> 1.02 s on
    10^5 pairs).  The probe side broadcasts; same left-to-right FP
    fold, bit-identical results."""
    nrm = "sqrt(aggregate({v}, 0D, (s, v) -> s + v * v))"
    a = assigned.withColumn("cn", F.expr(nrm.format(v=vec_name)))
    p = probes.withColumn("qn", F.expr(nrm.format(v="qv")))
    dot = (f"aggregate(zip_with(qv, {vec_name}, (x, y) -> x * y), 0D, "
           "(s, v) -> s + v)")
    return (
        a.join(F.broadcast(p), "cell")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(F.expr(f"({dot} / (qn * cn))"), 4).alias("sim"),
        )
    )


def save_ivf_index(assigned: DataFrame, centroids: DataFrame,
                   path: str) -> None:
    """Persist a built IVF index: assignments parquet PARTITIONED BY
    cell (so a probed query scans only its n_probe cell directories —
    partition pruning does the inverted-file part), centroids as one
    small parquet."""
    (assigned.write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/assignments"))
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids) read back from `save_ivf_index` output."""
    return (
        spark.read.parquet(f"{path}/assignments"),
        spark.read.parquet(f"{path}/centroids"),
    )


def ivf_query_index(spark, path: str, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_probe: int = 4) -> DataFrame:
    """Query a PERSISTED IVF index (build once with `build_ivf_index` +
    `save_ivf_index`, query many times — the deployment shape).  The
    probe join is on the assignments' partition column, so Spark's
    dynamic partition pruning restricts the scan to the probed cells."""
    assigned, centroids = load_ivf_index(spark, path)
    return _ivf_probe_score(assigned, centroids, queries, k,
                            id_col, vec_col, n_probe)


def ivf_knn(corpus: DataFrame, queries: DataFrame, k: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            n_lists: int = 16, n_probe: int = 4,
            seed: int = 42) -> DataFrame:
    """Approximate top-k cosine neighbors probing n_probe IVF cells."""
    assigned, centroids = build_ivf_index(
        corpus, id_col, vec_col, n_lists, seed
    )
    return _ivf_probe_score(assigned, centroids, queries, k,
                            id_col, vec_col, n_probe)


def _ivf_probe_score(assigned: DataFrame, centroids: DataFrame,
                     queries: DataFrame, k: int,
                     id_col: str, vec_col: str,
                     n_probe: int) -> DataFrame:
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(_as_vec(vec_col)).alias("qv"),
    )
    # rank cells per query by centroid distance; keep n_probe
    dist = (
        "aggregate(zip_with(qv, centroid, (a, b) -> (a - b) * (a - b)), "
        "0D, (s, v) -> s + v)"
    )
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("d2", F.expr(dist))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "cell")
            ),
        )
        .filter(F.col("rnk") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = _score_probed(assigned, probes, "arr")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_pairs_against_index(new_vecs: DataFrame, spark, path: str,
                                 threshold: float = 0.4,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 n_probe: int = 1) -> DataFrame:
    """Incremental semantic dedup: probe NEW embeddings against a
    PERSISTED IVF index (`build_ivf_index`/`seed_centroids` +
    `save_ivf_index`) — the ingest twin of
    `similarity.semantic_dedup_pairs`, and the batch twin of
    `streaming.ingest.semantic_ingest_stream`.  Returns
    (new_id, corpus_id, sim) with ROUND(sim, 4) >= threshold.

    The corpus is never re-embedded, re-assigned, or self-joined: new
    vectors are assigned to their n_probe nearest stored centroids
    scan-side (Arrow closure — the centroid table is collected once at
    plan-build, bounded by n_lists), and the join against the
    cell-PARTITIONED assignments parquet prunes to the probed cell
    directories.  Cost per ingest batch: O(batch) + a scan of the
    matched cells.  n_probe > 1 trades extra probed cells for recall
    on vectors near a cell boundary, exactly like the kNN probe."""
    assigned, centroids = load_ivf_index(spark, path)
    cells, mat = _centroid_matrix(centroids)
    new_sel = new_vecs.select(
        F.col(id_col).alias("query_id"),
        F.expr(_as_vec(vec_col)).alias("qv"),
    )
    if n_probe <= 1:
        probes = new_sel.withColumn(
            "cell", _assign_cell_udf(cells, mat)(F.col("qv")))
    else:
        probes = new_sel.withColumn(
            "cell",
            F.explode(_probe_cells_udf(cells, mat, n_probe)(F.col("qv"))),
        )
    return (
        _score_probed(assigned, probes, "arr")
        .select(F.col("query_id").alias("new_id"),
                F.col("neighbor_id").alias("corpus_id"), "sim")
        .filter(F.col("sim") >= threshold)
    )
