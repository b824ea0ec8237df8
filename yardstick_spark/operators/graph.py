"""Graph operators — weighted PageRank as a loop of relational joins.

Complements the pointer-jumping connected components in
`llm/cluster.py`: components answer "which docs are the same?";
PageRank answers "which node is central?" (e.g. pick the canonical
document inside a near-dup cluster, rank event states by steady-state
visit probability).

Spark-first design — each iteration is exactly two shuffles:
  1. ranks ⋈ edges on `src` (reuses the edge partitioning: edges are
     hash-partitioned by src once, cached, and every iteration's join
     shuffles only the small rank table into that layout),
  2. groupBy `dst` to sum contributions (map-side combined).
Dangling-node mass (nodes with no out-edges) is a 1-row broadcast
aggregate — never a driver-side `.collect()` inside the loop.

Each iteration ends in an EAGER `localCheckpoint` — deliberately.
Every round references the previous rank table twice (contributions
and dangling mass), so a fully lazy loop doubles the plan tree per
iteration and Catalyst analysis itself OOMs around 8 rounds
(measured).  Per-superstep materialization is exactly what
GraphX/Pregel does; the checkpointed state is one row per node.
Superseded checkpoint RDDs are dropped by Spark's ContextCleaner once
the Python reference goes (weak-ref based), so state does not
accumulate across iterations.

Iteration count is fixed (power iteration with damping converges
geometrically at rate `damping`; 10 iterations ≈ 2-digit precision at
d=0.85), which makes the result deterministic and oracle-able as
unrolled plain CTEs (`pagerank_sql` below) — no recursive-aggregate
SQL needed.

Scale: per iteration, one shuffle join of ranks into the cached
src-partitioned edges + one map-side-combined groupBy(dst) — the same
asymptotics as GraphX's Pregel PageRank, expressed in pure DataFrame
ops so Catalyst/AQE handle skew (a celebrity node with 10^9 in-edges
is just a skewed groupBy key, which AQE splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import cache, collect_if_small, register


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    symmetrize: bool = False,
    checkpoint_interval: int = 2,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank over `edges` → (node, rank) with
    sum(rank) = 1.  Nodes are the distinct union of endpoints.

    `weight=None` auto-detects: a column literally named "w" is used
    as the edge weight if present, else every edge weighs 1 (pass
    `weight="unit"`-style explicit names to override either way).
    Parallel edges are legal (weights add).  Nodes without out-edges
    contribute their mass uniformly to all nodes (standard dangling
    handling), so rank stays a probability distribution.

    `symmetrize=True` adds the reversed edge for every input edge
    INSIDE this operator, after the one-time projection — for
    undirected graphs whose edge list is expensive to produce (the
    near-dup pair tables), this halves edge-subtree evaluations vs
    the caller unioning `edges` with its own swap (each union leg is
    a separate Catalyst subtree and evaluates independently).

    `checkpoint_interval` fuses that many supersteps into one lazy
    plan between eager materializations.  The VALUES are identical at
    any interval (each iteration evaluates the same expressions —
    only plan-tree granularity changes); what changes is fixed cost:
    at small scale the per-superstep localCheckpoint job dominates
    (~0.35 s of scheduling each at sf0.1), so interval=2 halves the
    floor multiplier, while the plan tree stays depth-bounded (each
    lazy round references the previous rank table twice, so trees
    grow ~2^interval — interval=2 keeps Catalyst analysis trivial;
    the unbounded-lazy version OOMs analysis around 8 rounds, see
    module docstring).  Interval must stay small relative to executor
    lineage limits at cluster scale; 2 is the measured sweet spot.

    `driver_max_edges`: graphs whose COLLAPSED edge count is at or
    under this bound power-iterate in numpy on the driver instead of
    running the join loop — same explicit-gate pattern as the
    union-find fallback in `llm/cluster.py` (there 1M edges, same
    default here).  The iteration floor is the whole cost of the
    distributed loop on a small graph (each superstep is a multi-stage
    Spark job scheduling a few hundred rows), while a ≤1M-edge
    collect is ~25 MB and the numpy loop is microseconds; at data
    scale the gate fails after one cheap count on the already-
    materialized edge checkpoint and the loop below runs unchanged.
    The driver path accumulates in a DETERMINISTIC sorted edge order,
    and both paths compute the identical per-iteration expressions, so
    results agree to float-sum reassociation (~1e-15; callers round
    to 6 dp).  Set `driver_max_edges=0` to force the distributed loop."""
    if weight is None and "w" in edges.columns:
        weight = "w"
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    if symmetrize:
        # explode-the-swap instead of union-the-subtree: one pass over
        # the edge rows emits both directions, so the (possibly very
        # expensive) upstream plan is evaluated once, not per leg
        e = e.select(
            F.explode(F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("w")),
                F.struct(F.col("dst").alias("src"),
                         F.col("src").alias("dst"), F.col("w")),
            )).alias("__e")
        ).select("__e.src", "__e.dst", "__e.w")
    # collapse parallel edges, then EAGERLY materialize (localCheckpoint,
    # not cache): the collapsed relation feeds `outw`, the normalization
    # join, `nodes` and `srcs`, and a lazy cache only materializes
    # inside iteration 1's already-large job — Catalyst re-evaluates
    # the caller's edge subtree (e.g. graph_doc_rank's near-dup pair
    # generation, union-doubled by symmetrization) several times before
    # the cache ever fills (measured: the 6-round doc-rank spent 43 s
    # on a 23k-edge graph; with the eager barrier the same loop runs
    # in ~7 s).  The checkpointed state is one row per distinct edge —
    # the same size class as the per-superstep rank checkpoints below.
    # NOTE eager=True makes CONSTRUCTION eager — calling pagerank()
    # runs this Spark job before the caller takes any action.  The
    # checkpointed state is registered in the shared cache registry so
    # clear_dedup_caches() releases it (registry pop -> ref drop ->
    # ContextCleaner frees the blocks).  localCheckpoint is executor-
    # local and NOT recoverable after executor loss — acceptable here
    # because the state is one row per distinct edge and a lost-stage
    # rerun restarts the operator; a fault-tolerant cluster deployment
    # would set a checkpoint dir and use reliable .checkpoint() instead.
    e = register(e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
                 .localCheckpoint(eager=True))
    # gated small-graph fast path — one cheap count on the checkpoint
    rows = collect_if_small(e, driver_max_edges, count_first=True)
    if rows is not None:
        return _pagerank_driver(e, iterations, damping, rows)
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    e = e.join(outw, "src").withColumn("p", F.col("w") / F.col("outw"))
    e = cache(e.select("src", "dst", "p").repartition("src"))

    nodes = cache(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_df = F.broadcast(nodes.agg(F.count("*").alias("n_nodes")))

    ranks = nodes.crossJoin(n_df).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    srcs = e.select("src").distinct()
    # joins below are NAME-based (`on="col"`), never `df1.c == df2.c`:
    # ranks/nodes/e all share lineage, so attribute-id equality
    # conditions would silently degenerate (classic self-join trap)
    for it in range(iterations):
        contrib = (
            ranks.withColumnRenamed("node", "src")
            .join(e, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        # dangling mass: rank sitting on nodes with no out-edges
        dangling = F.broadcast(
            ranks.withColumnRenamed("node", "src")
            .join(srcs, "src", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(n_df)
            .crossJoin(dangling)
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / F.col("n_nodes")
                    )
                ).alias("rank"),
            )
        )
        # eager materialization every `checkpoint_interval` supersteps
        # (and always after the last) — see the parameter docstring
        if (it + 1) % max(1, checkpoint_interval) == 0 \
                or it + 1 == iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _pagerank_driver(e: DataFrame, iterations: int, damping: float,
                     rows: list) -> DataFrame:
    """numpy power iteration over a gate-checked small edge table —
    the small-graph half of `pagerank` (see its docstring for the
    gate rationale).  `e` is the collapsed (src, dst, w) relation and
    `rows` its rows, fetched by the gate.

    Exactly the textbook update the distributed loop evaluates:
      rank' = (1-d)/n + d * (contrib + dangling_mass / n)
    with contributions accumulated by `np.add.at` over edges sorted by
    (dst, src) — a fixed sequential order, so the result is
    bit-reproducible run to run (float reassociation vs the
    distributed path stays ~1e-15, absorbed by callers' 6-dp rounds
    and pinned by test_pagerank_driver_gate_matches_distributed)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = e.sparkSession
    out_schema = StructType([
        StructField("node", e.schema["src"].dataType),
        StructField("rank", DoubleType()),
    ])
    if not rows:
        return spark.createDataFrame([], out_schema)
    pdf = pd.DataFrame.from_records(rows, columns=e.columns)
    nodes = sorted(set(pdf["src"]) | set(pdf["dst"]))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src_i = pdf["src"].map(idx).to_numpy(dtype=np.int64)
    dst_i = pdf["dst"].map(idx).to_numpy(dtype=np.int64)
    w = pdf["w"].to_numpy(dtype=np.float64)
    order = np.lexsort((src_i, dst_i))  # deterministic edge order
    src_i, dst_i, w = src_i[order], dst_i[order], w[order]
    outw = np.zeros(n)
    np.add.at(outw, src_i, w)
    p = w / outw[src_i]
    has_out = outw > 0
    ranks = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        np.add.at(contrib, dst_i, ranks[src_i] * p)
        dmass = float(ranks[~has_out].sum())
        ranks = (1.0 - damping) / n + damping * (contrib + dmass / n)
    return spark.createDataFrame(
        [(v, float(r)) for v, r in zip(nodes, ranks)], out_schema)


def pagerank_sql(
    edges_sql: str,
    iterations: int = 10,
    damping: float = 0.85,
    materialized: bool = False,
) -> str:
    """ANSI-SQL twin of `pagerank` as UNROLLED chained CTEs (power
    iteration needs no recursion when the round count is fixed), used
    as the DuckDB oracle.  `edges_sql` must yield (src, dst, w).

    `materialized=True` emits DuckDB's `AS MATERIALIZED` on every CTE.
    Required when `edges_sql` is itself expensive: each iteration
    references the edge table several times, and an optimizer that
    inlines CTEs would otherwise re-execute the edge derivation tens
    of times (measured: a minhash-pair edge list went from >100 s to
    sub-second with materialization)."""
    d = damping
    m = "MATERIALIZED " if materialized else ""
    sql = [
        f"WITH e0 AS {m}({edges_sql}),",
        f" e1 AS {m}(SELECT src, dst, SUM(w) AS w FROM e0"
        "   GROUP BY src, dst),",
        f" ow AS {m}(SELECT src, SUM(w) AS outw FROM e1 GROUP BY src),",
        f" e AS {m}(SELECT e1.src, e1.dst, e1.w / ow.outw AS p"
        "   FROM e1 JOIN ow ON e1.src = ow.src),",
        f" nodes AS {m}(SELECT src AS node FROM e1"
        "   UNION SELECT dst FROM e1),",
        f" nn AS {m}(SELECT COUNT(*) AS n_nodes FROM nodes),",
        f" r0 AS {m}(SELECT node, 1.0 / n_nodes AS rank FROM nodes, nn),",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        cur = f"r{i}"
        sql.append(
            f" c{i} AS {m}(SELECT e.dst, SUM({prev}.rank * e.p) AS contrib"
            f"   FROM {prev} JOIN e ON {prev}.node = e.src GROUP BY e.dst),"
        )
        sql.append(
            f" d{i} AS {m}(SELECT COALESCE(SUM(rank), 0) AS dmass"
            f"   FROM {prev}"
            f"   WHERE node NOT IN (SELECT src FROM e)),"
        )
        sql.append(
            f" {cur} AS {m}(SELECT nodes.node,"
            f"   (1 - {d}) / nn.n_nodes + {d} * (COALESCE(c{i}.contrib, 0)"
            f"     + d{i}.dmass / nn.n_nodes) AS rank"
            f"   FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.dst,"
            f"   nn, d{i}),"
        )
        prev = cur
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f" SELECT node, rank FROM {prev}")
    return "\n".join(sql)


def _lpa_driver(e: DataFrame, iterations: int, rows: list) -> DataFrame:
    """Synchronous LPA over a gate-checked small edge table — the
    small-graph half of `label_propagation` (same gate pattern as
    `pagerank`'s `_pagerank_driver`).  `e` is the distinct symmetrized
    (src, dst) relation and `rows` its rows, fetched by the gate; the
    update replays the distributed rounds exactly: count neighbor
    labels per dst, adopt the most frequent, ties to the SMALLEST
    label — all integer/dict arithmetic, so the result is identical by
    construction (pinned by test_lpa_driver_gate_matches_distributed)."""
    from pyspark.sql.types import StructField, StructType

    spark = e.sparkSession
    adj: dict = {}
    for r in rows:
        adj.setdefault(r["dst"], []).append(r["src"])
    labels = {n: n for n in adj}
    for _ in range(iterations):
        nxt = {}
        for d, srcs in adj.items():
            cnt: dict = {}
            for s in srcs:
                lab = labels[s]
                cnt[lab] = cnt.get(lab, 0) + 1
            # max count, ties to smallest label
            nxt[d] = min(cnt, key=lambda lab: (-cnt[lab], lab))
        labels = nxt
    id_type = e.schema["src"].dataType
    return spark.createDataFrame(
        sorted(labels.items()),
        StructType([StructField("node", id_type),
                    StructField("community", id_type)]))


def label_propagation(edges: DataFrame, iterations: int = 4,
                      src: str = "src", dst: str = "dst",
                      driver_max_edges: int = 1_000_000) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the undirected graph of `edges`: (node,
    community).  Each round, every node adopts the most frequent label
    among its neighbors, ties to the SMALLEST label — fully
    deterministic, so a fixed round count unrolls into plain SQL CTEs
    (`lpa_sql`) exactly like `pagerank_sql`.

    Synchronous LPA can oscillate on bipartite-ish structures; with a
    fixed round count the output is still a deterministic labeling,
    and on similarity graphs (near-dup pairs) a handful of rounds
    labels each dense cluster by its minimum reachable id.  Per round:
    one join of the label table into the cached src-partitioned edge
    list + one (dst, label) groupBy + a per-dst argmax window whose
    input was map-side combined — the same two-shuffle superstep cost
    as `pagerank`, with the same eager per-round localCheckpoint (see
    module docstring)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # explode-the-swap, not union-the-subtree (same reasoning as
    # pagerank's symmetrize: each union leg is a separate Catalyst
    # subtree, so an expensive caller edge plan — e.g. the minhash
    # pair generation under graph_communities — would evaluate once
    # per leg before any cache fills); then materialize the distinct
    # symmetrized edge list EAGERLY in its src layout so iteration 1
    # never re-evaluates the caller's plan.  Registered in the shared
    # cache registry for clear_dedup_caches() release, and eager at
    # CONSTRUCTION time — same lifecycle notes as pagerank's edge
    # barrier above.
    e = register(
        e.select(
            F.explode(F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"),
                         F.col("src").alias("dst")),
            )).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    # gated small-graph fast path — one cheap count on the checkpoint
    # (the `pagerank` / `connected_components` gate pattern; see
    # _lpa_driver).  The distributed loop below is iterations × a
    # 3-job superstep (join + argmax window + checkpoint) whose
    # scheduling floor is the whole cost on a near-dup-pair graph,
    # while a ≤1M-edge collect is ~25 MB and the dict rounds are
    # milliseconds.  At data scale the gate fails after the one count
    # and the loop runs unchanged.  driver_max_edges=0 forces the
    # distributed loop.
    rows = collect_if_small(e, driver_max_edges, count_first=True)
    if rows is not None:
        return _lpa_driver(e, iterations, rows)
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label"))
    from pyspark.sql import Window
    w = Window.partitionBy("dst").orderBy(
        F.col("cnt").desc(), F.col("label").asc())
    for _ in range(iterations):
        labels = (
            labels.withColumnRenamed("node", "src")
            .join(e, "src")
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            # symmetrized edges: every node is some edge's dst, so the
            # new label table covers every node — no outer join needed
            .select(F.col("dst").alias("node"), "label")
        )
        labels = labels.localCheckpoint(eager=True)
    return labels.withColumnRenamed("label", "community")


def lpa_sql(edges_sql: str, iterations: int = 4,
            materialized: bool = False) -> str:
    """ANSI-SQL twin of `label_propagation` as unrolled CTEs — the
    DuckDB oracle.  `edges_sql` must yield (src, dst); weights are
    ignored (LPA is count-based)."""
    m = "MATERIALIZED " if materialized else ""
    sql = [
        f"WITH e0 AS {m}({edges_sql}),",
        f" e AS {m}(SELECT DISTINCT src, dst FROM (SELECT src, dst"
        "   FROM e0 UNION ALL SELECT dst, src FROM e0)),",
        f" l0 AS {m}(SELECT DISTINCT src AS node, src AS label FROM e),",
    ]
    prev = "l0"
    for i in range(1, iterations + 1):
        sql.append(
            f" f{i} AS {m}(SELECT e.dst, {prev}.label, COUNT(*) AS cnt"
            f"   FROM {prev} JOIN e ON {prev}.node = e.src"
            f"   GROUP BY e.dst, {prev}.label),"
        )
        sql.append(
            f" l{i} AS {m}(SELECT dst AS node, label FROM ("
            f"   SELECT *, row_number() OVER (PARTITION BY dst"
            f"     ORDER BY cnt DESC, label) AS rn FROM f{i}) WHERE rn = 1),"
        )
        prev = f"l{i}"
    sql[-1] = sql[-1].rstrip(",")
    sql.append(f" SELECT node, label AS community FROM {prev}")
    return "\n".join(sql)


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over the UNDIRECTED
    simple graph induced by `edges` (self-loops and duplicate /
    reversed edges collapse): (node, n_triangles).  Triangle density
    separates tight near-dup cliques from chains of borderline pairs
    — the standard "is this cluster real?" diagnostic on a similarity
    graph — and global count/3 is the classic clustering-coefficient
    numerator.

    Algorithm is degree-ordered compact-forward (Schank & Wagner 2005,
    the MapReduce formulation is Suri & Vassilvitskii WWW'11): orient
    each edge from the (degree, node)-smaller endpoint to the larger,
    so every triangle has exactly ONE vertex with two out-edges.  The
    wedge join then fans out deg_out^2 per node where deg_out is
    bounded by O(sqrt(m)) on the heavy nodes — total wedge volume
    O(m^1.5) instead of the O(sum deg^2) a naive shared-neighbor join
    produces (a celebrity node with 10^6 neighbors would otherwise
    emit 10^12 wedges).  Three shuffles total: degree groupBy, wedge
    self-join, closing semi-join; all on uniform id keys.

    The triangle SET is orientation-independent, so the SQL oracle can
    verify with the naive a<b<c triple join — same triangles, no
    degree logic."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, node): u -> v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    oriented = (
        e.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb"))
                   & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            ).otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"))
            ).alias("uv")
        )
        .select("uv.u", "uv.v")
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    # wedges at the lowest-ranked vertex; x<y dedups the unordered pair
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    closing = e.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"])  # (u, x, y) triangles
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    # nodes in no triangle still appear, with 0
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )
