"""Distributed linear algebra over an embedding column: second-moment
(Gram) / covariance matrices, PCA, and Johnson-Lindenstrauss random
projection.

These are the dimensionality tools a 100 TB embedding pipeline needs
before anything quadratic touches the vectors: PCA whitening/compaction
for index build (faiss OPQ-style pre-rotation), JL projection for cheap
distance-preserving sketches, and the covariance matrix itself for
drift monitoring and hygiene checks.

100 TB design:
- `covariance_matrix` is the textbook one-pass treeAggregate expressed
  in DataFrame terms: every partition folds its rows into a single
  d x d partial Gram + d-vector sum + count with numpy (no per-row
  Python), emits exactly d*(d+1)/2 + 1 rows, and the groupBy that
  merges partials moves #partitions * O(d^2) rows — independent of the
  corpus row count.  The driver never sees vectors, only the d x d
  result.  The sufficient statistics are EXACT INTEGERS over inputs
  quantized to a 1e-6 grid (see `_QUANT_SCALE`): float summation is
  non-associative, so the result would otherwise depend on the
  partition split — on a 1000-executor cluster that means a different
  answer every run.  Integer/decimal sums are associative; the output
  is bit-identical under any partitioning (property-tested under
  randomized repartition in tests/test_pca.py).
- `pca_components` eigendecomposes the (tiny) covariance result on the
  driver — gated at d <= 512 like every other driver-side step in the
  package (cluster.py <= 1M edges, dedup.py <= 200k vocab); above the
  gate you want a randomized/iterative method, not a dense eigh.
- `pca_project` / `jl_project` are scan-only: the k x d projection
  rides a broadcast (PCA) or is re-derived per worker from md5 parity
  (JL — the SAME sign derivation as `similarity._md5_signs`, so a SQL
  oracle reproduces the matrix bit-for-bit) and each vector maps to k
  numbers in one Arrow batch pass.  No shuffle at any corpus size.

JL background: Johnson & Lindenstrauss (1984); the +-1 "database-
friendly" variant is Achlioptas (JCSS 2003) — E[<Px,Py>] = <x,y> and
distances are preserved within (1 +- eps) for k = O(log n / eps^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DecimalType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

from ..sparkutil import as_double
from .similarity import _length_groups, _md5_signs

# driver-side eigh gate: d=512 -> 131k covariance cells, a 2 MB
# collect and a <1 s LAPACK call; past that, dense driver eigh is the
# wrong tool (use a sketched/randomized solver) so we refuse loudly
_MAX_EIGH_DIM = 512

# Element quantization grid for the covariance sufficient statistics:
# every coordinate is snapped to floor(x * 1e6) BEFORE accumulation,
# and all sums are exact integer arithmetic from there on.  This is
# what makes the operator PARTITION-STABLE: float summation is
# non-associative, so a different partition split used to land cells
# on the other side of the 6-dp output rounding vs the oracle (the
# round-5 driver red row).  Integer sums are associative — any
# partitioning, any merge order, bit-identical output.  floor (not
# round) because IEEE floor is exact and has no half-way rule to
# disagree on between numpy and a SQL engine.  The price is a ~1e-6
# per-element quantization, i.e. ~1e-5 absolute on covariance cells —
# documented in `covariance_matrix`.
_QUANT_SCALE = 10 ** 6

_COV_PARTIAL_SCHEMA = StructType([
    StructField("d", IntegerType()),
    StructField("i", IntegerType()),
    StructField("j", IntegerType()),
    StructField("sxy", DecimalType(38, 0)),
    StructField("sx", DecimalType(38, 0)),
    StructField("sy", DecimalType(38, 0)),
    StructField("n", LongType()),
])


def _cov_partial_fn():
    """The partition-Gram mapInPandas kernel shared by
    `covariance_matrix` and `streaming.stats` (so the streamed and
    batch sufficient statistics are bit-identical by construction):
    folds a partition's rows into one d x d Gram + sum vector + count
    PER OBSERVED DIMENSION and emits upper-triangle rows.

    EXACT INTEGER accumulation: coordinates are quantized to the
    `_QUANT_SCALE` grid (floor), the per-Arrow-batch Gram is an int64
    matmul (|q| <= ~2e9 is enforced so a 10k-row batch cannot
    overflow), and batches fold into arbitrary-precision Python-int
    accumulators (numpy object arrays) so a partition of ANY size is
    exact.  Emitted as DECIMAL(38,0) — the downstream merge is an
    exact decimal sum, so the whole statistic is independent of
    partitioning and merge order."""

    def partial(batches):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        acc = {}  # dim -> [gram(object), sums(object), cnt]
        for pdf in batches:
            arr = pdf.iloc[:, 0].to_numpy()
            for dim, sel in _length_groups(arr):
                A = np.vstack(arr[sel]).astype(np.float64)
                # a single NULL/NaN ELEMENT inside one vector would
                # otherwise poison the whole partition Gram (NaN
                # spreads through the matmul and the merge sum) —
                # drop non-finite rows, mirroring the whole-vector
                # NULL filter upstream
                ok = np.isfinite(A).all(axis=1)
                if not ok.all():
                    A = A[ok]
                    if A.shape[0] == 0:
                        continue
                Q = np.floor(A * _QUANT_SCALE)
                # exactness proof for the int64 chunk matmul below:
                # 1024 rows * q^2 <= 9.2e18 (int64 max) requires
                # |q| <= 3e6*... precisely sqrt(9.2e18/1024) = 9.5e7,
                # i.e. |x| <= ~94 at the 1e6 grid.  Gate at 3e7
                # (|x| <= 30) for a 10x margin; real embedding
                # coordinates are O(1)
                if np.abs(Q).max(initial=0.0) > 3e7:
                    raise ValueError(
                        "covariance kernel: |coordinate| > 30 exceeds "
                        "the exact-int64 chunk accumulation bound")
                Qi = Q.astype(np.int64)
                for lo in range(0, Qi.shape[0], 1024):
                    C = Qi[lo:lo + 1024]
                    g = (C.T @ C).astype(object)
                    s = C.sum(axis=0, dtype=np.int64).astype(object)
                    slot = acc.get(dim)
                    if slot is None:
                        acc[dim] = [g, s, C.shape[0]]
                    else:
                        slot[0] += g
                        slot[1] += s
                        slot[2] += C.shape[0]
        for d, (gram, sums, cnt) in acc.items():
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({
                "d": np.full(iu.size, d, dtype="int32"),
                "i": iu.astype("int32"), "j": ju.astype("int32"),
                "sxy": [Decimal(int(v)) for v in gram[iu, ju]],
                "sx": [Decimal(int(v)) for v in sums[iu]],
                "sy": [Decimal(int(v)) for v in sums[ju]],
                "n": np.full(iu.size, cnt, dtype="int64"),
            })

    return partial


def covariance_matrix(vecs: DataFrame, vec_col: str = "embedding",
                      round_to: int | None = 6) -> DataFrame:
    """Population covariance of the embedding coordinates:
    (i, j, cov) for the upper triangle i <= j — COVAR_POP over the
    coordinates snapped to the 1e-6 `_QUANT_SCALE` grid (floor), which
    differs from the unquantized covariance by at most ~2*max|x|*1e-6
    per cell but is EXACT and therefore bit-identical under any
    partitioning (the determinism contract; see `_QUANT_SCALE`).

    One corpus scan: each partition's rows fold into one d x d integer
    Gram partial (Q^T Q), a coordinate-sum vector, and a count PER
    OBSERVED DIMENSION; partials are emitted as d*(d+1)/2 upper-
    triangle rows keyed by d, so mixed-dimension corpora can never
    merge partials across dims (a 1-dim stray would otherwise corrupt
    cell (0,0)).  The merge groupBy sees #partitions * O(d^2) rows;
    after it, only the dominant dimension (largest row count) is kept.
    cov = (Sxy*n - Sx*Sy) / (n^2 * scale^2) is assembled after the
    merge in one exact decimal numerator + one double divide.  NULL /
    empty vectors are skipped (same policy as `_length_groups`)."""

    parts = (
        vecs.select(F.expr(as_double(vec_col)).alias("v"))
        .filter(F.col("v").isNotNull() & (F.size("v") > 0))
        .mapInPandas(_cov_partial_fn(), schema=_COV_PARTIAL_SCHEMA)
    )
    return covariance_from_moments(merge_moment_tables(parts),
                                   round_to=round_to)


def merge_moment_tables(*tables: DataFrame) -> DataFrame:
    """Sum covariance sufficient-statistic tables
    (d, i, j, sxy, sx, sy, n) — moments are exactly mergeable, which
    is what makes both the partition partials here and the streaming
    maintenance in `streaming.stats` correct.  One table just
    re-aggregates (the partial-merge step).  Sums are DECIMAL(38,0):
    exact and order-independent, so the merged statistic never depends
    on the shuffle's reduce order (Spark raises on decimal overflow
    rather than wrapping — at 1e38 that is ~1e20 rows of unit-norm
    vectors, far past any corpus)."""
    dec = DecimalType(38, 0)
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("d", "i", "j").agg(
        F.sum(F.col("sxy").cast(dec)).cast(dec).alias("sxy"),
        F.sum(F.col("sx").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("sy").cast(dec)).cast(dec).alias("sy"),
        F.sum("n").alias("n"),
    )


def covariance_from_moments(moments: DataFrame,
                            round_to: int | None = 6) -> DataFrame:
    """(i, j, cov) assembled from a (merged) moment table:
    cov = Sxy/n - (Sx/n)(Sy/n), keeping only the dominant dimension
    (largest row count, ties to the larger d) via a 1-row broadcast —
    never a collect.  The single shared assembly for the batch
    operator and the streaming state reader."""
    best = F.broadcast(
        moments.filter((F.col("i") == 0) & (F.col("j") == 0))
        .orderBy(F.col("n").desc(), F.col("d").desc())
        .limit(1)
        .select("d")
    )
    merged = moments.join(best, "d")
    # numerator Sxy*n - Sx*Sy is EXACT decimal arithmetic; the single
    # double divide mirrors the oracle expression token-for-token
    # (CAST(numer AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
    # * 1e12)) so both engines perform the identical IEEE operations
    # on identical inputs — bit-equal output, any partitioning
    dec = DecimalType(38, 0)
    numer = (F.col("sxy").cast(dec) * F.col("n").cast(dec)
             - F.col("sx").cast(dec) * F.col("sy").cast(dec)).cast(dec)
    n_d = F.col("n").cast("double")
    cov = numer.cast("double") / (
        n_d * n_d * F.lit(float(_QUANT_SCALE) * _QUANT_SCALE))
    if round_to is not None:
        cov = F.round(cov, round_to)
    # + 0.0 canonicalizes IEEE signed zero: a cell that rounds to -0.0
    # (tiny negative covariance) becomes +0.0, matching the oracle's
    # identical normalization — value hashes that preserve the sign bit
    # (the driver's does) would otherwise see -0.0 != +0.0
    cov = cov + F.lit(0.0)
    return merged.select("i", "j", cov.alias("cov"))


def pca_components(vecs: DataFrame, k: int = 8,
                   vec_col: str = "embedding") -> "object":
    """Top-k principal axes of the embedding cloud as a numpy (k, d)
    array (rows = components, descending eigenvalue), plus the
    eigenvalue vector: ``(components, explained_variance)``.

    The distributed part is `covariance_matrix`; the driver only eighs
    the d x d result (gated at d <= 512).  Component signs are
    canonicalized (largest-|coordinate| entry positive) so the output
    is deterministic across LAPACK builds."""
    import numpy as np

    rows = covariance_matrix(vecs, vec_col=vec_col, round_to=None).collect()
    if not rows:
        raise ValueError("pca_components: no valid vectors")
    d = max(r["j"] for r in rows) + 1
    if d > _MAX_EIGH_DIM:
        raise ValueError(
            f"pca_components: dim {d} > {_MAX_EIGH_DIM} driver-eigh gate; "
            "use a randomized solver for very wide embeddings")
    C = np.zeros((d, d))
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    evals, evecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    for c in comps:  # sign canonicalization
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    return comps, evals[order]


def pca_project(vecs: DataFrame, components: "object",
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int | None = 6) -> DataFrame:
    """Project each vector onto the given (k, d) component rows:
    (id, pos, val) with pos = component index.  The projection matrix
    rides the Arrow-UDF closure to every worker (k*d floats — same
    broadcast shape as the LSH planes); one numpy matmul per batch,
    scan-only, no shuffle."""
    import numpy as np

    P = np.asarray(components, dtype=np.float64)
    k = P.shape[0]
    return _project(vecs, P.T, 1.0, k, id_col, vec_col, round_to)


def jl_project(vecs: DataFrame, out_dim: int = 8, seed: int = 42,
               id_col: str = "vec_id", vec_col: str = "embedding",
               round_to: int | None = 6) -> DataFrame:
    """Johnson-Lindenstrauss +-1 random projection to `out_dim`
    coordinates: (id, pos, val) with val = <x, s_pos> / sqrt(out_dim).

    The sign matrix is `similarity._md5_signs(dim, out_dim, (seed,))`
    — parity of md5(f"{seed}:{pos}:{dim_index}") — re-derived (and
    cached) on each worker, so the DuckDB oracle can rebuild the exact
    same matrix from the same md5 calls and match values to the
    rounding level.  Scan-only, one matmul per Arrow batch."""

    def signs(dim):
        return _md5_signs(dim, out_dim, (seed,))

    import math
    return _project(vecs, signs, 1.0 / math.sqrt(out_dim),
                    out_dim, id_col, vec_col, round_to)


_PROJ_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("pos", IntegerType()),
    StructField("val", DoubleType()),
])


def _project(vecs: DataFrame, mat, scale: float, k: int,
             id_col: str, vec_col: str,
             round_to: int | None) -> DataFrame:
    """Shared Arrow projection kernel: `mat` is a (d, k) array or a
    dim -> (d, k) callable (JL derives the matrix from the observed
    dim).  Emits k rows per valid vector; NULL/ragged vectors emit
    nothing (consistent with `_length_groups` policy)."""

    def proj(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            arr = pdf["v"].to_numpy()
            out_id, out_pos, out_val = [], [], []
            for dim, sel in _length_groups(arr):
                M = mat(dim) if callable(mat) else mat
                if M.shape[0] != dim:
                    continue  # projection fixed for another dim
                A = np.vstack(arr[sel]).astype(np.float64)
                # rows with a NULL/NaN element project to NaN — drop
                # them like the whole-vector NULL policy upstream
                ok = np.isfinite(A).all(axis=1)
                if not ok.all():
                    sel, A = sel[ok], A[ok]
                    if sel.size == 0:
                        continue
                V = (A @ M) * scale  # (n, k)
                n = sel.size
                out_id.append(np.repeat(ids[sel], k))
                out_pos.append(np.tile(np.arange(k, dtype="int32"), n))
                out_val.append(V.reshape(-1))
            if out_id:
                vals = np.concatenate(out_val)
                if round_to is not None:
                    vals = np.round(vals, round_to)
                yield pd.DataFrame({
                    "id": np.concatenate(out_id).astype("int64"),
                    "pos": np.concatenate(out_pos),
                    "val": vals,
                })

    return (
        vecs.select(F.col(id_col).cast("long").alias("id"),
                    F.expr(as_double(vec_col)).alias("v"))
        # a NULL (or un-castable) id would round-trip through pandas
        # as NaN and astype to INT64_MIN — refuse it at the plan level
        .filter(F.col("id").isNotNull())
        .mapInPandas(proj, schema=_PROJ_SCHEMA)
    )
