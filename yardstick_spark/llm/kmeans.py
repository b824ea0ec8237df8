"""Deterministic k-means over embedding columns (SemDeDup-style topic
clustering) plus cluster-balanced sampling.

Lloyd's algorithm with every floating-point hazard removed so results
are bit-identical across partitionings AND engines (the
`covariance_matrix` determinism contract):

- coordinates snap once to the 1e-6 integer grid, so distances are
  exact BIGINT sums (order-independent, no float accumulation);
- seeds are md5-bucket representatives (the min-id vector of each of
  the k id-hash buckets), not RNG draws;
- centroid updates round the integer-sum / count mean back onto the
  grid with round-half-away-from-zero, identical in Spark and DuckDB;
- argmin ties break to the smaller cell id.

Scale shape: each Lloyd iteration is ONE corpus scan (the centroid
table is a <=k-row SQL literal, folded by Catalyst into whole-stage
codegen, no join) plus one k-row aggregate collected to the driver.
The corpus never shuffles at vector grain; the only shuffle per
iteration carries k * dim partial sums per partition.  `iters` is
fixed (no convergence collect), so the whole fit is `iters + 1`
scans over a cached quantized projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sparkutil import cache, collect_if_small, portable_hash

_QUANT = 1_000_000  # 1e-6 coordinate grid, shared with the oracle SQL

# literal-centroid ceiling: k above this would bloat the generated SQL
# (and a >256-way kmeans should use IVF's Arrow matmul path instead)
_MAX_K = 256


def _quantized(vecs: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, xq) with xq = coordinates snapped to the integer grid;
    NULL/empty vectors are excluded (they can neither seed nor be
    assigned — same policy as `ivf.seed_centroids`)."""
    from .dedup import _spread  # single-file inputs must not pin 1 core

    xq = (f"transform(CAST({vec_col} AS ARRAY<DOUBLE>), "
          f"x -> CAST(round(x * {_QUANT}.0D) AS BIGINT))")
    return (
        _spread(vecs)
        .select(F.col(id_col).alias("id"), F.expr(xq).alias("xq"))
        .filter(F.col("xq").isNotNull() & (F.size("xq") > 0))
    )


def _cent_literal(cents: list[tuple[int, list[int]]]) -> str:
    """The centroid table as a SQL array-of-structs literal."""
    rows = ", ".join(
        f"struct({cell} AS cell, array({', '.join(f'{x}L' for x in c)}) AS c)"
        for cell, c in cents
    )
    return f"array({rows})"


def _assign(vq: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """(id, xq, cell, dist_q): nearest centroid by exact integer
    squared L2, ties to the smaller cell id."""
    best = (
        f"array_sort(transform({_cent_literal(cents)}, s -> struct("
        f"aggregate(zip_with(xq, s.c, (x, y) -> (x - y) * (x - y)), "
        f"0L, (a, b) -> a + b) AS d, s.cell AS cell)))[0]"
    )
    return vq.withColumn("__b", F.expr(best)).select(
        "id", "xq",
        F.col("__b.cell").alias("cell"),
        F.col("__b.d").alias("dist_q"),
    )


def _fit_driver(rows, k: int, iters: int) -> list[tuple[int, list[int]]]:
    """Seeding + Lloyd over a gate-checked collected (id, xq) list —
    the small-corpus half of `kmeans_assign` (see its docstring for
    the gate rationale).  Bit-identical to the distributed fit:

    - distances are exact int64 sums on the grid (order-independent);
    - the centroid mean replays Spark's exact semantics: IEEE double
      division of the exact integer sum, then `round()`'s
      shortest-decimal-representation HALF_UP (java BigDecimal.valueOf
      == Python repr(), both shortest round-trip), then truncate-cast;
    - argmin/argmax tie-breaks (smaller cell / smaller id) match the
      array_sort / orderBy orderings expression for expression.
    """
    import decimal

    import numpy as np

    ids = [r["id"] for r in rows]
    # NULLS FIRST, like Spark's default ascending orderBy
    order = sorted(range(len(ids)),
                   key=lambda i: (ids[i] is not None, ids[i]))
    x = np.asarray([rows[i]["xq"] for i in order], dtype=np.int64)
    n, dim = x.shape
    cents = [(0, [int(v) for v in x[0]])]
    dmin = None
    for s in range(1, k):
        # min distance to the chosen set; only the newest seed is new
        d_new = (np.square(
            x - np.asarray(cents[-1][1], dtype=np.int64))).sum(axis=1)
        dmin = d_new if dmin is None else np.minimum(dmin, d_new)
        # argmax with ties to the smaller id: x is already id-sorted,
        # so numpy's first-max IS the tie contract
        cents.append((s, [int(v) for v in x[int(np.argmax(dmin))]]))
    cents.sort()
    half_up = decimal.Decimal(1)
    for _ in range(iters):
        carr = np.asarray([c for _, c in cents], dtype=np.int64)
        cell_ids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
        # exact integer squared distances to every centroid; argmin
        # ties to the smaller cell id (cents is cell-sorted, numpy
        # argmin takes the first minimum)
        d = (np.square(x[:, None, :] - carr[None, :, :])).sum(axis=2)
        assigned = cell_ids[np.argmin(d, axis=1)]
        nxt = []
        for cid in cell_ids:
            mask = assigned == cid
            cnt = int(mask.sum())
            if cnt == 0:  # empty cells drop out (Lloyd convention)
                continue
            sums = x[mask].sum(axis=0)  # exact int64 column sums
            cnt_d = float(cnt)
            mean = [
                int(decimal.Decimal(repr(float(s_) / cnt_d))
                    .quantize(half_up, rounding=decimal.ROUND_HALF_UP))
                for s_ in sums.tolist()
            ]
            nxt.append((int(cid), mean))
        cents = sorted(nxt)
    return cents


def _fit_distributed(vq: DataFrame, k: int,
                     iters: int) -> list[tuple[int, list[int]]]:
    """Seeding + Lloyd as Spark jobs over the cached quantized
    projection — the large-corpus half of `kmeans_assign`; [] for an
    empty corpus."""
    # farthest-first seeding (Gonzalez 1985): seed 0 is the min-id
    # vector; each next seed maximizes its exact integer distance to
    # the chosen set (ties to the smaller id).  Deterministic, covers
    # well-separated blobs by construction (md5-bucket representatives
    # routinely leave blobs seedless — Lloyd cannot recover from
    # that), and costs k - 1 extra scans, each a per-partition
    # TakeOrdered(1) over the cached quantized projection.
    first = vq.orderBy("id").select("xq").limit(1).collect()
    if not first:
        return []
    cents = [(0, [int(x) for x in first[0]["xq"]])]
    for s in range(1, k):
        dmin = (
            f"array_min(transform({_cent_literal(cents)}, s -> "
            f"aggregate(zip_with(xq, s.c, (x, y) -> (x - y) * (x - y)), "
            f"0L, (a, b) -> a + b)))"
        )
        nxt = (
            vq.select("id", "xq", F.expr(dmin).alias("__d"))
            .orderBy(F.col("__d").desc(), "id").limit(1).collect()
        )
        cents.append((s, [int(x) for x in nxt[0]["xq"]]))
    cents.sort()
    for _ in range(iters):
        assigned = _assign(vq, cents)
        dim = len(cents[0][1])
        mean_cols = [
            F.expr(f"CAST(round(sum(element_at(xq, {d + 1})) "
                   f"/ CAST(count(1) AS DOUBLE)) AS BIGINT)").alias(f"c{d}")
            for d in range(dim)
        ]
        rows = assigned.groupBy("cell").agg(*mean_cols).collect()
        cents = sorted((int(r["cell"]), [int(r[f"c{d}"]) for d in range(dim)])
                       for r in rows)
    return cents


def kmeans_assign(vecs: DataFrame, k: int = 8, iters: int = 3,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  driver_max_vectors: int = 200_000) -> DataFrame:
    """Fit k-means with `iters` Lloyd updates and return the final
    assignment (id_col, cell, dist_q) — dist_q is the exact integer
    squared distance on the 1e-6 grid (grid units squared).

    Empty cells drop out of later iterations (standard Lloyd empty-
    cluster handling), so fewer than k cells may appear.  Ragged
    corpora: vectors shorter than a centroid zip to the shorter
    length; callers with mixed dims should pre-filter (the testdata
    corpus is fixed-dim).

    `driver_max_vectors`: corpora at or under this row count fit the
    centroids driver-side in numpy instead of running k - 1 seeding
    scans plus one collect per Lloyd round — the same explicit-gate
    pattern as `pagerank` / `connected_components`.  The fit loop is
    otherwise ~2k + iters sequential tiny Spark jobs whose scheduling
    floor dwarfs the arithmetic on a small corpus (measured: 18 jobs
    summing 0.9 s of job time inside a 2.9 s sf0.1 query), while the
    gate bound keeps the collect ≤ ~100 MB (200k rows × dim 64 int64).
    At data scale the gate fails after one count on the cached
    quantized projection (which the seeding scan materializes anyway)
    and `_fit_distributed` runs unchanged.  The driver fit replays the exact integer-grid
    arithmetic (see `_fit_driver`), so the centroids — and therefore
    the returned assignment, which is computed by the SAME distributed
    literal-centroid scan either way — are bit-identical;
    `test_kmeans_driver_gate_matches_distributed` pins this.  Set
    `driver_max_vectors=0` to force the distributed fit."""
    if k > _MAX_K:
        raise ValueError(f"k={k} exceeds the literal-centroid ceiling "
                         f"{_MAX_K}; use the IVF Arrow path for wide k")
    vq = cache(_quantized(vecs, vec_col, id_col))
    rows = collect_if_small(vq, driver_max_vectors, count_first=True)
    if rows is None:
        cents = _fit_distributed(vq, k, iters)
    else:
        cents = _fit_driver(rows, k, iters) if rows else []
    if not cents:  # empty corpus: no vector can seed a cell
        return vq.select(F.col("id").alias(id_col),
                         F.lit(None).cast("int").alias("cell"),
                         F.lit(None).cast("bigint").alias("dist_q"))
    return (
        _assign(vq, cents)
        .select(F.col("id").alias(id_col),
                F.col("cell").cast("int").alias("cell"), "dist_q")
    )


def cluster_balanced_sample(vecs: DataFrame, k: int = 8, iters: int = 3,
                            per_cell: int = 10,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            seed: int = 42) -> DataFrame:
    """Topic-balanced selection: k-means the corpus, then keep
    `per_cell` deterministic md5-uniform winners per cluster — the
    "cluster then sample uniformly within clusters" diversity
    heuristic that keeps a pretraining mix from being swamped by the
    densest topic.

    Returns (id_col, cell, rn).  Scale shape: kmeans' scans plus one
    cell-grain window — per-cell top-n, never a global sort."""
    assigned = kmeans_assign(vecs, k=k, iters=iters, vec_col=vec_col,
                             id_col=id_col)
    key = portable_hash(f"concat('{seed}:', CAST({id_col} AS STRING))")
    w = Window.partitionBy("cell").orderBy(F.expr(key), F.col(id_col))
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_cell)
        .select(id_col, "cell", "rn")
    )
