"""Contrastive-training data mining over an embedding column:
hard-negative selection, per-label prototypes (centroids), and medoids.

Training-data pipelines for retrieval / contrastive models need, for
each anchor, the most-similar vectors that are NOT of its class
(hard negatives — the pairs that actually move the loss), plus a
per-class prototype vector for clustering, drift monitoring, and
centroid-based labeling.

100 TB design:
- `hard_negatives` keeps the corpus partitioned and broadcasts the
  (small) anchor set, exactly like `similarity.brute_force_knn`: the
  scoring join never shuffles corpus rows, and the final top-k filter
  runs as a map-side partial WindowGroupLimit — each scan task forwards
  at most k rows per anchor, so no reducer sees corpus-proportional
  input.  For corpus-scale anchor sets, compose with the LSH/IVF
  candidate generators in `similarity` / `ivf` instead of the exact
  scorer.
- `label_prototypes` is one posexplode + (label, pos) partial-agg
  groupBy: the shuffle carries labels x dim partially-aggregated sums
  per map task (bounded by the label-vocabulary, not the row count),
  then rebuilds the centroid array with a sorted collect_list whose
  group cardinality is the label count.
- `label_medoids` broadcasts the (labels-row) centroid table back
  against ONE corpus scan; the per-label argmax is again a map-side
  WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sparkutil import as_double, cache, collect_if_small


def hard_negatives(corpus: DataFrame, anchors: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   max_sim: float | None = None,
                   round_to: int | None = 4) -> DataFrame:
    """Top-k most-similar DIFFERENT-label vectors per anchor:
    (anchor_id, anchor_label, negative_id, negative_label, sim, rank).

    `anchors` is expected small (it is broadcast).  `max_sim` bounds
    the band from above ("semi-hard" mining: exclude near-duplicates
    that are probably label noise rather than informative negatives).
    Norms are precomputed scan-side on both inputs so the per-pair
    expression is the dot product alone; the fold is the same
    left-to-right `aggregate` as every other cosine in the package, so
    results are bit-identical to the DuckDB oracle."""
    nrm = "sqrt(aggregate({v}, 0D, (s, v) -> s + v * v))"
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.expr(as_double(vec_col)).alias("av"),
    ).withColumn("an", F.expr(nrm.format(v="av")))
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("negative_label"),
        F.expr(as_double(vec_col)).alias("cv"),
    ).withColumn("cn", F.expr(nrm.format(v="cv")))
    dot = "aggregate(zip_with(av, cv, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    sim = F.expr(f"({dot} / nullif(an * cn, 0D))")
    if round_to is not None:
        sim = F.round(sim, round_to)
    scored = (
        c.join(F.broadcast(a))
        .filter(F.col("anchor_label") != F.col("negative_label"))
        .select("anchor_id", "anchor_label", "negative_id",
                "negative_label", sim.alias("sim"))
    )
    if max_sim is not None:
        scored = scored.filter(F.col("sim") <= max_sim)
    # NULL sims (NULL / zero-norm / length-mismatched vectors) must not
    # occupy ranks: desc ordering puts NULL last but still numbers it
    scored = scored.filter(F.col("sim").isNotNull())
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def label_prototypes(vecs: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label",
                     round_to: int | None = 6) -> DataFrame:
    """Per-label centroid: (label, n_vecs, centroid array<double>).

    posexplode -> (label, pos) mean -> ordered collect_list.  The
    groupBy is partially aggregated map-side, so the shuffle moves
    labels x dim sums per task regardless of corpus size; the rebuild
    group count equals the label vocabulary.  Component means are
    ROUND()ed (default 6 dp) so the centroid is reproducible across
    partitionings up to summation order at the 1e-6 level."""
    parts = (
        vecs.select(F.col(label_col).alias("label"),
                    F.posexplode(F.expr(as_double(vec_col)))
                    .alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("mean_val"), F.count("*").alias("n"))
    )
    if round_to is not None:
        parts = parts.withColumn("mean_val", F.round("mean_val", round_to))
    return (
        parts.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mean_val))), "
                "s -> s.mean_val)"
            ).alias("centroid"),
        )
    )


def label_medoids(vecs: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", label_col: str = "label",
                  round_to: int | None = 4) -> DataFrame:
    """The real vector nearest its label's centroid:
    (label, medoid_id, sim) — ties broken by smallest id.

    One corpus scan joined to the broadcast centroid table (one row
    per label); per-label argmax via row_number, executed as a
    map-side WindowGroupLimit."""
    cents = label_prototypes(vecs, id_col=id_col, vec_col=vec_col,
                             label_col=label_col, round_to=None)
    nrm = "sqrt(aggregate({v}, 0D, (s, v) -> s + v * v))"
    v = vecs.select(
        F.col(id_col).alias("medoid_id"),
        F.col(label_col).alias("label"),
        F.expr(as_double(vec_col)).alias("vv"),
    ).withColumn("vn", F.expr(nrm.format(v="vv")))
    c = cents.select("label", F.col("centroid").alias("cv")).withColumn(
        "cn", F.expr(nrm.format(v="cv")))
    dot = "aggregate(zip_with(vv, cv, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    sim = F.expr(f"({dot} / nullif(vn * cn, 0D))")
    if round_to is not None:
        sim = F.round(sim, round_to)
    scored = v.join(F.broadcast(c), "label").select(
        "label", "medoid_id", sim.alias("sim")) \
        .filter(F.col("sim").isNotNull())
    w = Window.partitionBy("label").orderBy(
        F.col("sim").desc(), F.col("medoid_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("label", "medoid_id", "sim")
    )


def embedding_outliers(vecs: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label",
                       round_to: int = 4) -> DataFrame:
    """Per-vector mislabel/contamination signal: euclidean distance to
    the OWN-label prototype plus its within-label z-score —
    (id, label, dist, z).  High z inside a label = probable labeling
    error or contaminated embedding; the standard cheap screen before
    contrastive training.

    One corpus scan after `label_prototypes` (whose shuffle is bounded
    by labels x dim): the labels-row centroid table broadcasts, the
    distance fold is scan-side, and the z-score windows partition by
    label — the same key the prototype aggregation already used.
    Distances are ROUND()ed (6 dp) before the moment windows and z is
    rounded to `round_to` with signed zero canonicalized (+ 0.0: the
    label mean is a float fold whose last ulp differs across engines,
    so a dist == mean row can round to -0.0 on one engine and +0.0 on
    the other — caught at sf0.1 by the r9 cross-scale diff), so
    results are reproducible across partitionings AND engines; a
    zero-variance label (all members equidistant) z-scores to 0
    rather than NULL/NaN."""
    from pyspark.sql import Window

    protos = label_prototypes(vecs, id_col=id_col, vec_col=vec_col,
                              label_col=label_col)
    dist = F.round(
        F.expr(
            "sqrt(aggregate(zip_with(v, centroid, "
            "(x, y) -> (x - y) * (x - y)), 0D, (acc, t) -> acc + t))"),
        6,
    )
    scored = (
        vecs.select(F.col(id_col).alias("id"),
                    F.col(label_col).alias("label"),
                    F.expr(as_double(vec_col)).alias("v"))
        .join(F.broadcast(protos), "label")
        .select("id", "label", dist.alias("dist"))
    )
    w = Window.partitionBy("label")
    sd = F.stddev_pop("dist").over(w)
    z = F.when(sd == 0, F.lit(0.0)).otherwise(
        (F.col("dist") - F.avg("dist").over(w)) / sd)
    return scored.select(
        "id", "label", "dist",
        (F.round(z, round_to) + F.lit(0.0)).alias("z"))


def _mmr_driver(cand: DataFrame, k: int, lam: float, onemlam: float,
                cand_rows: list, pair_rows: list) -> DataFrame:
    """Greedy MMR rounds over the gate-fetched rows of the candidate
    pool and its pairwise table — the small-pool half of `mmr_rerank`
    (the pagerank/kmeans/LPA gate pattern).  Replays the distributed
    rounds exactly: the same two double literals score
    `lam*sim - onemlam*coalesce(pen, 0)`, the same (score desc NULLS
    LAST, neighbor_id asc) pick, pen = MAX of the non-NULL pairwise
    sims against the selected set.  Pinned by
    `test_mmr_driver_gate_matches_distributed`."""
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    spark = cand.sparkSession
    by_q: dict = {}
    for r in cand_rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["sim"]))
    ps: dict = {}
    for r in pair_rows:
        if r["ps"] is not None:
            ps[(r["query_id"], r["a"], r["b"])] = r["ps"]
    out = []
    for q, items in by_q.items():
        # round 1: best raw sim (desc, NULLS LAST), ties to smaller id
        first = min(items, key=lambda t: (t[1] is None,
                                          -t[1] if t[1] is not None else 0,
                                          t[0]))
        sel = [first[0]]
        out.append((q, first[0], first[1], 1))
        for rnd in range(2, k + 1):
            best_key = None
            best = None
            for nid, sim in items:
                if nid in sel:
                    continue
                if sim is None:
                    score = None
                else:
                    pens = [ps[(q, nid, s)] for s in sel
                            if (q, nid, s) in ps]
                    pen = max(pens) if pens else 0.0
                    score = lam * sim - onemlam * pen
                key = (score is None,
                       -score if score is not None else 0, nid)
                if best_key is None or key < best_key:
                    best_key, best = key, (q, nid, sim, rnd)
            if best is None:  # pool exhausted before k picks
                continue
            sel.append(best[1])
            out.append(best)
    schema = StructType([
        StructField("query_id", cand.schema["query_id"].dataType),
        StructField("neighbor_id", cand.schema["neighbor_id"].dataType),
        StructField("sim", DoubleType()),
        StructField("mmr_rank", IntegerType()),
    ])
    return spark.createDataFrame(out, schema)


def mmr_rerank(corpus: DataFrame, queries: DataFrame, k: int = 5,
               pool: int = 20, lam: float = 0.7,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               driver_max_pool_rows: int = 100_000) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick k of the `pool` nearest candidates,
    each round maximizing  lam*sim(query, c) - (1-lam)*max_{s in
    selected} sim(c, s)  — relevance minus redundancy, the standard
    diversification step between retrieval and context assembly.
    Returns (query_id, neighbor_id, sim, mmr_rank).

    Scale shape: the candidate pool (queries x pool rows) and its
    pairwise similarity table (queries x pool^2) are bounded by the
    re-rank width, never the corpus — the corpus is touched exactly
    twice (the kNN pool scan and one candidate-vector fetch).  The k
    greedy rounds are joins over those bounded tables with an eager
    per-round checkpoint (pagerank's superstep pattern; a lazy loop
    doubles the plan per round).  Determinism: sims round to 4 dp,
    score arithmetic uses the same two double literals on both
    engines, ties break to the lower id — `mmr_sql` unrolls the
    identical rounds for the DuckDB oracle."""
    from .similarity import brute_force_knn

    onemlam = 1.0 - lam
    cand = cache(
        brute_force_knn(corpus, queries, k=pool, id_col=id_col,
                        vec_col=vec_col, round_to=4)
        .select("query_id", "neighbor_id", "sim"))
    nrm = "sqrt(aggregate(v, 0D, (s, x) -> s + x * x))"
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(as_double(vec_col)).alias("v"),
    ).withColumn("nn", F.expr(nrm))
    cv = cand.select("query_id", "neighbor_id").join(vecs, "neighbor_id")
    a = cv.selectExpr("query_id", "neighbor_id AS a", "v AS va",
                      "nn AS na")
    b = cv.selectExpr("query_id", "neighbor_id AS b", "v AS vb",
                      "nn AS nb")
    dot = ("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, "
           "(s, t) -> s + t)")
    pair = cache(
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .select("query_id", "a", "b",
                F.round(F.expr(f"{dot} / nullif(na * nb, 0D)"), 4)
                .alias("ps")))
    # gated small-pool fast path (see _mmr_driver): the greedy loop
    # below is k-1 rounds × ~4 tiny jobs each over tables bounded by
    # queries × pool² — pure scheduling floor on an interactive-sized
    # re-rank (measured 42 jobs inside a 3.7 s sf0.1 query).  The gate
    # count runs on the cached candidate pool the loop needs
    # materialized anyway; above the bound the loop runs unchanged.
    # pair is cand × (pool - 1) rows, so that estimate bounds the pair
    # fetch too (a pool of 500 would otherwise push 50M rows to the
    # driver); it assumes unique corpus ids — a duplicated id fans the
    # pair join out past it — so the pair fetch counts against its own
    # bound.
    cand_rows = collect_if_small(cand, driver_max_pool_rows,
                                 count_first=True)
    pair_max = 20 * driver_max_pool_rows
    if (cand_rows is not None
            and len(cand_rows) * max(pool - 1, 0) <= pair_max):
        pair_rows = collect_if_small(pair, pair_max, count_first=True)
        if pair_rows is not None:
            return _mmr_driver(cand, k, lam, onemlam, cand_rows, pair_rows)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    selected = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("query_id", "neighbor_id", "sim",
                F.lit(1).alias("mmr_rank"))
    ).localCheckpoint(eager=True)
    ws = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    for r in range(2, k + 1):
        pen = (
            pair.join(
                selected.select("query_id",
                                F.col("neighbor_id").alias("b")),
                ["query_id", "b"])
            .groupBy("query_id", F.col("a").alias("neighbor_id"))
            .agg(F.max("ps").alias("pen"))
        )
        pick = (
            cand.join(selected.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"], "left_anti")
            .join(pen, ["query_id", "neighbor_id"], "left")
            .select(
                "query_id", "neighbor_id", "sim",
                (F.lit(lam) * F.col("sim")
                 - F.lit(onemlam)
                 * F.coalesce("pen", F.lit(0.0))).alias("score"))
            .withColumn("rn", F.row_number().over(ws))
            .filter("rn = 1")
            .select("query_id", "neighbor_id", "sim",
                    F.lit(r).alias("mmr_rank"))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected


def mmr_sql(vec_table: str, query_pred: str, k: int = 5,
            pool: int = 20, lam: float = 0.7,
            id_col: str = "vec_id",
            vec_col: str = "embedding") -> str:
    """ANSI-SQL twin of `mmr_rerank` as unrolled CTEs (greedy rounds
    are fixed-count, like pagerank_sql/lpa_sql) — the DuckDB oracle.
    `query_pred` filters the vector table down to the query rows."""
    onemlam = repr(1.0 - lam)
    lam_s = repr(lam)
    cos = ("ROUND(list_sum(list_transform(list_zip({a}, {b}), "
           "t -> t[1] * t[2])) / nullif({na} * {nb}, 0), 4)")
    sql = [
        f"WITH v AS (SELECT {id_col} AS id,",
        f"  CAST({vec_col} AS DOUBLE[]) AS e,",
        f"  sqrt(list_sum(list_transform(CAST({vec_col} AS DOUBLE[]),",
        f"    x -> x * x))) AS nn FROM {vec_table}),",
        f" q AS (SELECT id AS query_id, e AS qe, nn AS qn FROM v",
        f"   WHERE {query_pred}),",
        " cand AS (SELECT query_id, id, sim FROM (",
        "   SELECT q.query_id, v.id, "
        + cos.format(a="q.qe", b="v.e", na="q.qn", nb="v.nn")
        + " AS sim,",
        "     row_number() OVER (PARTITION BY q.query_id ORDER BY "
        + cos.format(a="q.qe", b="v.e", na="q.qn", nb="v.nn")
        + f" DESC, v.id) AS rn",
        "   FROM q CROSS JOIN v WHERE v.id <> q.query_id)"
        f" WHERE rn <= {pool}),",
        " pair AS (SELECT ca.query_id, ca.id AS a, cb.id AS b, "
        + cos.format(a="va.e", b="vb.e", na="va.nn", nb="vb.nn")
        + " AS ps",
        "   FROM cand ca JOIN cand cb ON ca.query_id = cb.query_id"
        "     AND ca.id <> cb.id",
        "   JOIN v va ON va.id = ca.id JOIN v vb ON vb.id = cb.id),",
        " sel1 AS (SELECT query_id, id, sim, 1 AS mmr_rank FROM (",
        "   SELECT *, row_number() OVER (PARTITION BY query_id"
        "     ORDER BY sim DESC, id) AS rn FROM cand) WHERE rn = 1),",
    ]
    prev = "sel1"
    for r in range(2, k + 1):
        sql.append(
            f" pen{r} AS (SELECT p.query_id, p.a AS id, MAX(p.ps) AS pen"
            f"   FROM pair p JOIN {prev} s ON p.query_id = s.query_id"
            f"     AND p.b = s.id GROUP BY p.query_id, p.a),"
        )
        sql.append(
            f" pick{r} AS (SELECT query_id, id, sim, {r} AS mmr_rank FROM ("
            f"   SELECT c.query_id, c.id, c.sim,"
            f"     {lam_s} * c.sim - {onemlam} * COALESCE(pen, 0) AS score,"
            f"     row_number() OVER (PARTITION BY c.query_id ORDER BY"
            f"       {lam_s} * c.sim - {onemlam} * COALESCE(pen, 0) DESC,"
            f"       c.id) AS rn"
            f"   FROM cand c LEFT JOIN pen{r} USING (query_id, id)"
            f"   WHERE NOT EXISTS (SELECT 1 FROM {prev} s"
            f"     WHERE s.query_id = c.query_id AND s.id = c.id))"
            f"   WHERE rn = 1),"
        )
        sql.append(
            f" sel{r} AS (SELECT * FROM {prev} UNION ALL"
            f"   SELECT * FROM pick{r}),"
        )
        prev = f"sel{r}"
    sql[-1] = sql[-1].rstrip(",")
    sql.append(
        f" SELECT query_id, id AS neighbor_id, sim,"
        f" CAST(mmr_rank AS INT) AS mmr_rank FROM {prev}")
    return "\n".join(sql)
