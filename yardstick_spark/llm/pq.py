"""Product quantization (PQ) — subspace codebooks + asymmetric-distance
search, the faiss IVF-PQ memory shape expressed Spark-first.

Scalar quantization (quantize.py) compresses 4x; PQ compresses to
m * log2(ks) BITS per vector (m=8, ks=16 -> 4 bytes for a 64-dim
float32 vector: 64x) — the representation that makes 100 TB of
embeddings searchable from memory.  Search is asymmetric distance
computation (ADC, Jegou et al. TPAMI 2011): the query stays exact, a
per-query lookup table of query-to-centroid distances is built once
(m * ks entries), and each database vector's approximate distance is m
table lookups summed.

Like `ivf.seed_centroids`, the codebook here is SEEDED, not k-means
trained: for each subspace s, vector ids bucket by a portable md5 hash
of f"{s}:{id}" into ks cells and the min-id vector of each cell donates
its subspace slice as that cell's centroid.  Closed-form — no FP
iteration — so a DuckDB oracle derives the identical codebook and codes
bit-for-bit.  A learned codebook drops in by replacing `pq_codebook`
(encode/search are codebook-agnostic); recall of the seeded book is
property-gated in tests, not assumed.

100 TB design:
- `pq_codebook` is one groupBy-min over ids per subspace (map-side
  combined, m * ks result rows) plus a join back for the donor rows.
- `pq_encode` is SCAN-ONLY: the m * ks * (d/m)-float codebook rides
  the closure of one mapInPandas (one numpy argmin pass per Arrow
  batch) — no shuffle, no codebook-sized expression for the driver
  to analyze; codes travel as array<int> and equal the `emb_pq`
  DuckDB oracle's.
- `pq_knn` broadcasts the query-side LUT (q * m * ks rows) against ONE
  scan of the (id, sub, code) explosion; the per-pair work is a hash
  probe + sum, and the top-k is the same map-side WindowGroupLimit as
  every other kNN in the package.

Distances are ROUND()ed (6 dp) before argmin/rank so Spark's
sequential `aggregate` fold and DuckDB's list_sum agree bit-for-bit;
ties break to the lower code / id on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sparkutil import as_double, cache, portable_hash

def _hash_cell(sub_col: str, id_col: str, ks: int) -> str:
    """Portable md5 bucket of f"{sub}:{id}" — same derivation family as
    ivf.seed_centroids, so DuckDB reproduces it verbatim.  `sub_col`
    is a COLUMN reference (the subspace explode below), not a literal,
    so all m subspaces hash in one scan."""
    key = f"concat(CAST({sub_col} AS STRING), ':', CAST({id_col} AS STRING))"
    return f"pmod({portable_hash(key)}, {ks})"


def pq_codebook(corpus: DataFrame, m: int = 8, ks: int = 16,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                train: bool = False, iters: int = 2) -> DataFrame:
    """Codebook (sub, code, centroid array<double> of d/m).

    Default (`train=False`): SEEDED — per subspace, ids hash into ks
    cells via the portable md5 bucket; each cell's min-id vector
    donates its subspace slice.  Cells that catch no vector (possible
    when ks approaches the corpus size) simply have no row — encode
    argmins over the codes that exist.

    `train=True`: the seeded book initializes `iters` Lloyd rounds run
    JOINTLY over all m subspaces (one broadcast-join + map-side-
    combined groupBy per round, never m separate jobs) on the exact
    1e-6 integer grid — the kmeans.py determinism recipe, so both
    engines' centroid updates are bit-identical and the DuckDB oracle
    unrolls training as plain CTEs.  Trained centroids land back on
    the grid (cq / 1e6 — the same double on both engines), and
    encode/search are codebook-agnostic, so the trained book drops
    into `pq_encode`/`pq_knn` unchanged.  Empty cells drop out of
    later rounds (standard Lloyd handling).  Per round the driver
    collects m * ks * (d/m) update rows — bounded by the codebook,
    never the corpus (the kmeans_assign precedent).  At 100 TB you
    train on a corpus SAMPLE (standard PQ practice; the assignment
    pass shuffles corpus×m rows) and encode the full corpus with the
    fixed book."""
    clean = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
        # vectors whose length m doesn't divide can't donate slices;
        # _codebook_rows re-validates consistency at collect time
        & (F.size(vec_col) % m == 0)
    ).select(F.col(id_col).alias("id"),
             F.expr(as_double(vec_col)).alias("arr"))
    # ONE explode + ONE map-side-combined groupBy for all m subspaces
    # (not m separate jobs), and the slice width comes from size(arr)
    # — no driver round-trip before the shuffle
    cells = (
        clean.select(
            "id", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("sub"))
        .select("sub", F.expr(_hash_cell("sub", "id", ks)).alias("code"),
                "id")
        .groupBy("sub", "code")
        .agg(F.min("id").alias("id"))
    )
    sub_dim = f"CAST(size(arr) / {m} AS INT)"
    # the m*ks cell table BROADCASTS against one corpus scan for the
    # donor fetch, and the (tiny) result is cached: encode and every
    # ADC search collect it, and without the barrier each collect
    # would re-run the scan + groupBy (registered so
    # clear_dedup_caches() releases it like every other barrier)
    seeded = cache(
        clean.join(F.broadcast(cells), "id")
        .select(
            "sub", "code",
            F.expr(f"slice(arr, sub * {sub_dim} + 1, {sub_dim})")
            .alias("centroid"),
        )
    )
    if not train:
        return seeded
    return _pq_train(clean, seeded, m, iters)


_PQ_Q = 1_000_000  # 1e-6 training grid, shared with the oracle SQL


def _pq_train(clean: DataFrame, seeded: DataFrame, m: int,
              iters: int) -> DataFrame:
    """Joint-subspace Lloyd on the integer grid (see pq_codebook).

    Fully declarative: the centroid table stays a (broadcast)
    DataFrame through every round — no per-round driver collect, so
    the whole training lineage materializes in ONE job when the book
    is consumed (measured 5.5 s -> 2.6 s for the sf0.1 entry vs the
    collect-per-round variant).  Per round: one broadcast join +
    map-side-combined (id, sub) argmin + per-dim mean — m*ks*(d/m)
    result rows.  Assumes a fixed-dimension corpus like the seeded
    path (`_codebook_rows` raises on mixed widths when the book is
    consumed)."""
    sd = f"CAST(size(arr) / {m} AS INT)"
    vq = cache(
        clean.select(
            "id", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("sub"),
            "arr")
        .select("id", "sub", F.expr(
            f"transform(slice(arr, sub * {sd} + 1, {sd}), "
            f"x -> CAST(round(x * {_PQ_Q}) AS BIGINT))").alias("sq"))
    )
    cents = seeded.select(
        "sub", "code",
        F.expr(f"transform(centroid, x -> CAST(round(x * {_PQ_Q}) "
               "AS BIGINT))").alias("cq"))
    for _ in range(iters):
        assigned = (
            vq.join(F.broadcast(cents), "sub")
            .select("id", "sub", "code", "sq", F.expr(
                "aggregate(zip_with(sq, cq, (x, y) -> (x - y) * (x - y)), "
                "0L, (a, b) -> a + b)").alias("d"))
            # struct-min = (d asc, code asc): ties to the lower code,
            # matching the oracle's ROW_NUMBER ORDER BY dist, code
            .groupBy("id", "sub")
            .agg(F.min(F.struct("d", "code")).alias("mc"),
                 F.first("sq").alias("sq"))  # sq constant per group
        )
        cents = (
            assigned
            .select("sub", F.col("mc.code").alias("code"),
                    F.posexplode("sq").alias("dim", "x"))
            .groupBy("sub", "code", "dim")
            # the kmeans.py exact-integer mean: BIGINT sum, one double
            # division, round-half-away — identical on both engines
            .agg(F.expr("CAST(round(sum(x) / CAST(count(1) AS DOUBLE)) "
                        "AS BIGINT)").alias("c"))
            # reassemble the centroid array in dim order (struct sort
            # is lexicographic and dims are distinct: deterministic)
            .groupBy("sub", "code")
            .agg(F.expr("transform(array_sort(collect_list("
                        "struct(dim, c))), s -> s.c)").alias("cq"))
        )
    # cache barrier like the seeded book: encode AND every ADC search
    # collect the codebook (_codebook_rows); without it each collect
    # would re-run the whole training lineage
    return cache(cents.select(
        "sub", "code",
        F.expr(f"transform(cq, x -> x / CAST({_PQ_Q} AS DOUBLE))")
        .alias("centroid")))


def _codebook_rows(codebook: DataFrame) -> tuple[int, int, dict]:
    """Collect the (m*ks)-row codebook to the driver: returns
    (m, sub_dim, {(sub, code): [floats]}).  Bounded by the codebook
    size, never the corpus."""
    rows = codebook.collect()
    if not rows:
        raise ValueError("empty codebook")
    book = {(r["sub"], r["code"]): [float(x) for x in r["centroid"]]
            for r in rows}
    m = max(s for s, _ in book) + 1
    dims = {len(v) for v in book.values()}
    if len(dims) != 1:
        raise ValueError(f"inconsistent centroid widths {dims} — mixed-"
                         "dimension corpus fed to pq_codebook")
    return m, dims.pop(), book


def pq_encode(corpus: DataFrame, codebook: DataFrame,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id_col, codes array<int> length m): per subspace, the code of
    the nearest centroid by squared L2 on the subspace slice, distance
    rounded to 6 dp BEFORE the argmin, ties to the lower code — the
    rounding grid is what makes these codes equal the `emb_pq` DuckDB
    oracle's despite different summation orders.

    The m*ks*(d/m)-float book rides the mapInPandas closure; one numpy
    pass per batch.  Scan-only, no shuffle, and no giant expression
    for the driver to analyze and Janino to compile (measured: a
    1k-literal argmin tree cost ~1 s of driver time per query at ANY
    data size).  Vectors whose length is not m * sub_dim are
    skipped."""
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    m, sub_dim, book = _codebook_rows(codebook)
    # per subspace: (codes present, centroid matrix) in ascending code
    # order, so numpy argmin's first-minimum IS ties-to-lower-code
    per_sub = []
    for s in range(m):
        cs = sorted(c for ss, c in book if ss == s)
        import numpy as np
        per_sub.append((np.array(cs, dtype="int32"),
                        np.array([book[(s, c)] for c in cs])))

    def enc(batches):
        import numpy as np
        import pandas as pd

        from .similarity import _length_groups

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            arr = pdf["v"].to_numpy()
            out_ids, out_codes = [], []
            for dim, sel in _length_groups(arr):
                if dim != m * sub_dim:
                    continue  # wrong-dimension strays can't encode
                A = np.vstack(arr[sel]).astype(np.float64)
                codes = np.empty((sel.size, m), dtype="int32")
                for s, (cs, C) in enumerate(per_sub):
                    S = A[:, s * sub_dim:(s + 1) * sub_dim]
                    d = np.round(
                        ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1), 6)
                    codes[:, s] = cs[np.argmin(d, axis=1)]
                out_ids.append(ids[sel])
                out_codes.extend(codes.tolist())
            if out_ids:
                yield pd.DataFrame({
                    "id": np.concatenate(out_ids).astype("int64"),
                    "codes": out_codes,
                })

    schema = StructType([
        StructField("id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ])
    return (
        corpus.select(F.col(id_col).cast("long").alias("id"),
                      F.expr(as_double(vec_col)).alias("v"))
        .mapInPandas(enc, schema=schema)
        .withColumnRenamed("id", id_col)
    )


def pq_knn(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
           k: int = 10, id_col: str = "vec_id",
           vec_col: str = "embedding",
           round_to: int = 6) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, neighbor_id, adist, rank),
    adist = sum over subspaces of ||q_sub - centroid(code_sub)||².

    The LUT (query x sub x code -> partial distance) is queries x
    codebook — both small — and BROADCASTS against one scan of the
    exploded (id, sub, code) table; the groupBy that sums m partials
    per (query, vector) is map-side combined, and the final top-k is a
    rank window whose input is k-bounded per task (WindowGroupLimit).
    The corpus side carries CODES ONLY — never vectors — which is the
    entire point of PQ at 100 TB."""
    m, sub_dim, _ = _codebook_rows(codebook)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(as_double(vec_col)).alias("qv"),
    )
    lut = (
        q.crossJoin(F.broadcast(codebook))
        .select(
            "query_id", "sub", "code",
            F.round(
                F.expr(
                    f"aggregate(zip_with(slice(qv, sub * {sub_dim} + 1, "
                    f"{sub_dim}), centroid, (x, y) -> (x - y) * (x - y)), "
                    "0D, (acc, t) -> acc + t)"),
                round_to,
            ).alias("pdist"),
        )
    )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id"))
    # all m subspaces must hit the LUT: codes produced by a stale /
    # different codebook would silently drop their unmatched subspaces
    # from the inner join and understate adist (wrong rankings) —
    # fail the job instead
    n_sub = F.count(F.lit(1))
    return (
        exploded.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pdist"), round_to).alias("adist"),
             n_sub.alias("__n_sub"))
        .filter(
            F.when(F.col("__n_sub") != m, F.expr(
                f"raise_error('pq_knn: codes matched ' || __n_sub || "
                f"' of {m} codebook subspaces - stale or mismatched "
                "codebook')").cast("boolean"))
            .otherwise(F.lit(True)))
        .drop("__n_sub")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
