"""Physical-plan hygiene: the shapes we rely on at 100 TB.

- grand-total (AT (ALL)) contexts join via broadcast, not shuffle
- parquet scans prune columns (ReadSchema) and push filters
- multi-fact joins of measure views collapse to DISTINCT dim relations
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def ysq(spark):
    from yardstick_spark import MeasureSession
    from yardstick_spark.sources import register_parquet_dir

    register_parquet_dir(spark, "/root/testdata/sf0.001",
                         ["lineitem", "orders"])
    ys = MeasureSession(spark)
    ys.collect_warnings = False
    ys.sql(
        "CREATE OR REPLACE VIEW li_m AS SELECT l_returnflag, "
        "YEAR(l_shipdate) AS d_year, "
        "SUM(l_extendedprice * (1 - l_discount)) AS MEASURE revenue "
        "FROM lineitem"
    )
    ys.sql(
        "CREATE OR REPLACE VIEW ord_m AS SELECT "
        "YEAR(o_orderdate) AS d_year, "
        "SUM(o_totalprice) AS MEASURE order_rev FROM orders"
    )
    return ys


def test_grand_total_is_broadcast(ysq):
    from yardstick_spark.plans import has_broadcast_join

    df = ysq.sql(
        "SELECT l_returnflag, AGGREGATE(revenue) AS r, "
        "AGGREGATE(revenue) AT (ALL) AS t FROM li_m GROUP BY l_returnflag"
    )
    assert has_broadcast_join(df), "1-row grand total must broadcast"


def test_plain_aggregate_inlines_single_scan(ysq):
    # when the evaluation context equals the outer grouping, the measure
    # aggregates in place: one fact scan, one shuffle, no context join —
    # at 100 TB this halves the fact-table reads of the common query
    from yardstick_spark.plans import explain_str, read_schema_columns

    df = ysq.sql(
        "SELECT d_year, AGGREGATE(revenue) AS r "
        "FROM li_m GROUP BY d_year HAVING AGGREGATE(revenue) > 0"
    )
    plan = explain_str(df)
    assert "Join" not in plan, "plain AGGREGATE must not build a context join"
    assert len(read_schema_columns(df)) == 1, "plain AGGREGATE must scan once"


def test_visible_modifier_inlines_single_scan(ysq):
    # AT (VISIBLE) is the identity context — same inline shape
    from yardstick_spark.plans import explain_str, read_schema_columns

    df = ysq.sql(
        "SELECT d_year, AGGREGATE(revenue) AT (VISIBLE) AS r "
        "FROM li_m WHERE l_returnflag = 'R' GROUP BY d_year"
    )
    plan = explain_str(df)
    assert "Join" not in plan
    assert len(read_schema_columns(df)) == 1


def test_scan_prunes_columns(ysq):
    from yardstick_spark.plans import read_schema_columns

    df = ysq.sql(
        "SELECT l_returnflag, AGGREGATE(revenue) AS r "
        "FROM li_m GROUP BY l_returnflag"
    )
    scans = read_schema_columns(df)
    assert scans, "expected parquet scans in plan"
    for cols in scans:
        # revenue needs 4 cols; no scan should read the full 11-col table
        assert len(cols) <= 5, f"unpruned scan: {cols}"


def test_filter_pushdown_reaches_scan(ysq):
    from yardstick_spark.plans import pushed_filters

    df = ysq.sql(
        "SELECT l_returnflag, AGGREGATE(revenue) AS r FROM li_m "
        "WHERE l_returnflag = 'R' GROUP BY l_returnflag"
    )
    assert any("l_returnflag" in f for f in pushed_filters(df)), (
        "dimension filter should push to the parquet scan"
    )


def test_multifact_collapses_to_distinct_dims(ysq):
    sql = ysq.rewrite(
        "SELECT l.d_year AS d_year, AGGREGATE(revenue) AS r, "
        "AGGREGATE(order_rev) AS o FROM li_m l JOIN ord_m o2 "
        "ON l.d_year = o2.d_year GROUP BY l.d_year"
    )
    assert "SELECT DISTINCT" in sql, (
        "measure-view join should collapse to DISTINCT dims"
    )


def test_fanout_count_not_collapsed(ysq):
    # COUNT(*) observes join multiplicity -> collapse must NOT fire
    sql = ysq.rewrite(
        "SELECT o2.d_year AS d_year, COUNT(*) AS n, "
        "AGGREGATE(order_rev) AS o FROM ord_m o2 "
        "JOIN lineitem l ON YEAR(l.l_shipdate) = o2.d_year "
        "GROUP BY o2.d_year"
    )
    assert "SELECT DISTINCT" not in sql


def test_knn_topk_prunes_map_side(spark):
    # every kNN path must emit at most k rows per query from each scan
    # task (partial WindowGroupLimit) before the top-k shuffle
    from yardstick_spark.llm import (
        brute_force_knn, ivf_knn_seeded, lsh_bucketed_knn,
    )
    from yardstick_spark.plans import has_partial_topk, is_folded_scan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    for fn in (brute_force_knn, lsh_bucketed_knn, ivf_knn_seeded):
        df = fn(emb, q, k=10)
        assert has_partial_topk(df), f"{fn.__name__}: top-k not pruned map-side"
        # the folded single-scan shape: ONE mapInPandas (bucket/cell
        # assign + score + partition top-k), no candidate join
        # anywhere in the plan
        assert is_folded_scan(df), f"{fn.__name__}: not a folded scan"


def test_dedup_verification_join_broadcast_policy(spark, monkeypatch):
    # the corpus-sized set/signature table must never be the broadcast
    # side unconditionally: by default the static plan is a shuffle
    # join (the shape a billion-doc corpus needs; AQE broadcasts the
    # genuinely-small side at runtime); the measured-pair-count hint
    # and forced set broadcast remain opt-in.  These knobs describe
    # the JOIN path — the hot-vocab direct enumeration has no
    # verification join to hint (it ignores them, like the ppjoin slim
    # path), so pin the join path for the policy assertions.
    from yardstick_spark.llm import dedup as D
    from yardstick_spark.llm import minhash_lsh_pairs
    from yardstick_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        monkeypatch.setattr(D, "collect_if_small", lambda *a, **k: None)
        # default: no static hint — the static plan is a shuffle join
        # (AQE demotes to broadcast at runtime from observed sizes)
        assert "BroadcastHashJoin" not in explain_str(
            minhash_lsh_pairs(docs)
        )
        # measured-pair-count hint: pair list broadcast when small
        assert "BroadcastHashJoin" in explain_str(
            minhash_lsh_pairs(docs, max_broadcast_pairs=5_000_000)
        )
        # forced set-side broadcast for known-small corpora
        assert "BroadcastHashJoin" in explain_str(
            minhash_lsh_pairs(docs, broadcast_sets=True)
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_chunking_is_shuffle_free(spark):
    from yardstick_spark.llm import chunk_documents
    from yardstick_spark.plans import explain_str, read_schema_columns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = chunk_documents(docs)
    plan = explain_str(df)
    assert "Exchange" not in plan, "chunking must not shuffle"
    # scan reads only the two referenced columns
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) <= {"doc_id", "text"}


def test_mixture_filter_scans_pruned(spark):
    from yardstick_spark.llm import sample_mixture
    from yardstick_spark.plans import explain_str, read_schema_columns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = sample_mixture(docs, {"src0": 0.5}).select("doc_id", "source")
    plan = explain_str(df)
    assert "Exchange" not in plan, "sampling is a scan-only filter"
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) <= {"doc_id", "source"}


def test_inline_bails_on_non_column_tokens(ysq):
    # measure expressions containing tokens that are not base columns
    # (numeric type suffixes, EXTRACT fields) must fall back to the
    # context-join path instead of injecting nonexistent columns
    ysq.sql(
        "CREATE OR REPLACE VIEW li_suffix AS SELECT l_returnflag, "
        "SUM(l_quantity * 1D) AS MEASURE qd, "
        "SUM(EXTRACT(YEAR FROM l_shipdate)) AS MEASURE ysum FROM lineitem"
    )
    rows = ysq.sql(
        "SELECT l_returnflag, AGGREGATE(qd) AS qd, AGGREGATE(ysum) AS ys "
        "FROM li_suffix GROUP BY l_returnflag"
    ).collect()
    assert len(rows) == 3 and all(r["qd"] is not None for r in rows)


def test_all_dim_subtotal_inlines_as_window(ysq):
    # AT (ALL dim) with no outer WHERE is a window over the inline
    # partial aggregates: one raw scan, group-row-sized window shuffle,
    # no second base scan, no context join
    from yardstick_spark.plans import explain_str, read_schema_columns

    df = ysq.sql(
        "SELECT d_year, l_returnflag, AGGREGATE(revenue) AS r, "
        "AGGREGATE(revenue) AT (ALL l_returnflag) AS year_total "
        "FROM li_m GROUP BY d_year, l_returnflag"
    )
    plan = explain_str(df)
    assert "Join" not in plan, "AT (ALL dim) must not build a context join"
    assert len(read_schema_columns(df)) == 1
    assert "Window" in plan


def test_all_dim_with_where_keeps_join(ysq):
    # ALL drops the outer WHERE, so a window over the filtered inline
    # aggregate would be wrong — those sites must keep the join path
    from yardstick_spark.plans import explain_str

    df = ysq.sql(
        "SELECT d_year, l_returnflag, "
        "AGGREGATE(revenue) AT (ALL l_returnflag) AS yt "
        "FROM li_m WHERE d_year >= 1997 GROUP BY d_year, l_returnflag"
    )
    assert "Join" in explain_str(df)


def test_all_dim_with_having_keeps_join_and_full_totals(ysq):
    # windows evaluate AFTER HAVING, so a subtotal window would sum only
    # surviving groups; any HAVING must keep the context-join path and
    # the subtotal must still cover ALL base rows of the partition
    from yardstick_spark.plans import explain_str

    full = {
        (r["d_year"], r["l_returnflag"]): r["yt"]
        for r in ysq.sql(
            "SELECT d_year, l_returnflag, "
            "AGGREGATE(revenue) AT (ALL l_returnflag) AS yt "
            "FROM li_m GROUP BY d_year, l_returnflag"
        ).collect()
    }
    df = ysq.sql(
        "SELECT d_year, l_returnflag, AGGREGATE(revenue) AS r, "
        "AGGREGATE(revenue) AT (ALL l_returnflag) AS yt "
        "FROM li_m GROUP BY d_year, l_returnflag "
        "HAVING AGGREGATE(revenue) > 14000000"
    )
    assert "Join" in explain_str(df)
    rows = df.collect()
    assert rows, "HAVING threshold should keep some groups"
    assert len(rows) < len(full), "HAVING threshold should drop some groups"
    import math

    for r in rows:
        # window path sums per-group partials, join path sums base rows:
        # same value up to float association
        assert math.isclose(
            r["yt"], full[(r["d_year"], r["l_returnflag"])], rel_tol=1e-12
        ), "subtotal must ignore the HAVING filter"



def test_tpch_dim_joins_broadcast(spark):
    # q2/q5/q9/q21 join small dimensions (supplier/nation/region/part)
    # into fact scans; those joins must stay broadcast — a config or
    # AQE-threshold regression that silently reintroduces shuffle joins
    # for dimensions would add a full fact-table exchange per dim at
    # 100 TB.  Counts are the number of dimension joins per query (the
    # remaining big-big joins — lineitem⋈orders, the q21 EXISTS
    # self-joins — may legitimately shuffle).
    import __spark_entry__ as entry
    from yardstick_spark.plans import explain_str

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    expected = {"tpch_q2": 4,   # supplier, nation, region, part
                "tpch_q5": 3,   # supplier, nation, region
                "tpch_q9": 3,   # supplier, part, nation
                "tpch_q21": 1}  # supplier
    for name, n_dims in expected.items():
        plan = explain_str(qs[name](spark, sf))
        n = plan.count("BroadcastHashJoin")
        assert n >= n_dims, f"{name}: {n} broadcast joins < {n_dims}"
    # q2 joins dims onto an already-aggregated lineitem relation — no
    # big-big join exists, so NO join in its plan may shuffle
    plan = explain_str(qs["tpch_q2"](spark, sf))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q18_q21_single_fact_exchange(spark):
    # round-6 audit outcome (SCALING.md): both plans carry exactly ONE
    # exchange of fact-proportional data — q18's per-order aggregate,
    # q21's REPARTITION(l_orderkey) serving the (okey, skey) groupBy
    # AND the per-okey windows — and exactly one lineitem scan each.
    # A second fact scan or fact-keyed exchange is the regression the
    # two queries shipped with until round 5.
    import re

    import __spark_entry__ as entry
    from yardstick_spark.plans import explain_str

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    for name in ("tpch_q18", "tpch_q21"):
        plan = explain_str(qs[name](spark, sf))
        li_scans = len(re.findall(r"ReadSchema: [^\n]*\bl_orderkey\b",
                                  plan))
        assert li_scans == 1, f"{name}: {li_scans} lineitem scans"
        fact_ex = len(re.findall(
            r"Exchange hashpartitioning\((?:l_orderkey|okey)\b", plan))
        assert fact_ex <= 1, f"{name}: {fact_ex} fact exchanges"


def test_q18_q21_bucketed_zero_fact_exchanges(spark):
    # The storage-layout endgame the q18/q21 irreducibility note
    # points at: bucket lineitem AND orders by orderkey ONCE at write
    # time, and the per-order aggregate (q18), the fact-fact join and
    # the per-order windows (q21) all reuse the bucket clustering —
    # ZERO fact-keyed exchanges in either plan (vs exactly one for
    # the plain-parquet variants, test above).  Bucket clustering
    # satisfies the (okey, skey) groupBy by the subset rule and the
    # okey windows directly, so no REPARTITION hint is needed.
    import re

    from yardstick_spark.plans import explain_str
    from yardstick_spark.sources import write_bucketed

    sf = "/root/testdata/sf0.001"
    write_bucketed(spark.read.parquet(f"{sf}/lineitem.parquet"),
                   "li_bkt_t", ["l_orderkey"], num_buckets=8)
    write_bucketed(spark.read.parquet(f"{sf}/orders.parquet"),
                   "od_bkt_t", ["o_orderkey"], num_buckets=8)
    try:
        q18 = spark.sql(
            "WITH osum AS (SELECT l_orderkey AS bokey, "
            "ROUND(SUM(l_quantity), 2) AS sum_qty FROM li_bkt_t "
            "GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) "
            "SELECT o.o_orderkey AS okey, ROUND(o.o_totalprice, 2) "
            "AS total, sum_qty FROM osum "
            "JOIN od_bkt_t o ON o.o_orderkey = bokey "
            "ORDER BY total DESC, okey LIMIT 100")
        q21 = spark.sql(
            "WITH src AS (SELECT l_orderkey, l_suppkey, "
            "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY "
            "THEN 1 ELSE 0 END AS is_late "
            "FROM li_bkt_t JOIN od_bkt_t ON o_orderkey = l_orderkey "
            "WHERE o_orderstatus = 'F'), "
            "per AS (SELECT l_orderkey AS okey, l_suppkey AS skey, "
            "MAX(is_late) AS late FROM src GROUP BY l_orderkey, "
            "l_suppkey), "
            "stat AS (SELECT skey, late, "
            "COUNT(*) OVER (PARTITION BY okey) AS n_supp, "
            "SUM(late) OVER (PARTITION BY okey) AS n_late FROM per) "
            "SELECT skey, COUNT(*) AS numwait FROM stat "
            "WHERE late = 1 AND n_supp >= 2 AND n_late = 1 "
            "GROUP BY skey")
        for name, df in (("q18", q18), ("q21", q21)):
            plan = explain_str(df)
            fact_ex = re.findall(
                r"Exchange (?:hash|range)partitioning\("
                r"(?:l_orderkey|o_orderkey|okey|bokey)\b", plan)
            assert not fact_ex, f"{name}: fact exchanges {fact_ex}"
            assert df.count() >= 0  # plans execute, not just explain
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bkt_t")
        spark.sql("DROP TABLE IF EXISTS od_bkt_t")


def test_mining_and_quantized_plans(spark):
    # hard negatives / quantized kNN keep the kNN plan contract: the
    # anchor/query side broadcasts (corpus rows never shuffle for
    # scoring) and the per-anchor top-k prunes map-side
    from yardstick_spark.llm import (
        hard_negatives, label_medoids, quantization_params,
        quantize_embeddings, quantized_knn,
    )
    from yardstick_spark.plans import (
        has_broadcast_join, has_partial_topk, is_folded_scan,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hn = hard_negatives(emb, emb.filter("vec_id < 5"), k=5)
    assert has_broadcast_join(hn)
    assert has_partial_topk(hn)
    params = quantization_params(emb)
    qv = quantize_embeddings(emb, params=params)
    qk = quantized_knn(qv, qv.filter("vec_id < 5"), params, k=10)
    # quantized_knn rides brute_force_knn, whose default is now the
    # folded single-scan shape (queries in the Arrow closure, no join)
    assert is_folded_scan(qk) or has_broadcast_join(qk)
    assert has_partial_topk(qk)
    # medoids: the labels-row centroid table broadcasts; per-label
    # argmax prunes map-side
    md = label_medoids(emb)
    assert has_broadcast_join(md)
    assert has_partial_topk(md)


def test_scd2_lookup_is_equi_join(spark):
    # the interval predicate must ride as a RESIDUAL on a key equi-join
    # (hash/sort-merge); a nested-loop plan would be O(facts x versions)
    from yardstick_spark.operators import scd2_lookup
    from yardstick_spark.plans import explain_str

    dim = spark.createDataFrame(
        [(1, "NY", "2020-01-01", None, True)],
        "k INT, city STRING, valid_from STRING, valid_to STRING, "
        "is_current BOOLEAN")
    facts = spark.range(1000).selectExpr(
        "id AS fid", "CAST(id % 10 AS INT) AS k", "'2021-01-01' AS ts")
    plan = explain_str(scd2_lookup(facts, dim, ["k"], "ts"))
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_dup_spans_gram_count_is_mapside_and_semi_join(spark):
    # the token-scale gram count must map-side combine (partial_count
    # before the exchange) and the position filter must be a semi join
    # against the duplicated-only gram set — never a full join that
    # fans positions out per occurrence
    from yardstick_spark.llm import duplicated_spans
    from yardstick_spark.plans import explain_str

    docs = spark.createDataFrame(
        [(i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10") for i in range(20)],
        "doc_id INT, text STRING")
    plan = explain_str(duplicated_spans(docs, n=8), mode="simple")
    assert "partial_count" in plan or "partial_count" in \
        explain_str(duplicated_spans(docs, n=8), mode="formatted")
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_heavy_hitters_recount_is_broadcast_semi(spark):
    # pass 2 must recount behind a broadcast semi join of the (tiny)
    # certified candidate set — the corpus never shuffles by term
    from yardstick_spark.operators import heavy_hitters
    from yardstick_spark.plans import explain_str

    df = spark.range(0, 5000, 1, 4).selectExpr(
        "concat('t', cast(cast(5000 / (id + 1) as int) as string)) "
        "AS term")
    plan = explain_str(heavy_hitters(df, "term", k=5, capacity=64),
                       mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_pq_knn_broadcast_lut_and_no_vector_shuffle(spark):
    # ADC search joins the exploded CODES against a broadcast LUT —
    # the corpus side must never carry embeddings through an exchange
    from yardstick_spark.llm import pq_codebook, pq_encode, pq_knn
    from yardstick_spark.plans import explain_str

    emb = spark.range(200).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 15), i -> CAST((id + i) % 7 AS FLOAT))"
        " AS embedding")
    cb = pq_codebook(emb, m=4, ks=8)
    plan = explain_str(
        pq_knn(pq_encode(emb, cb), cb, emb.filter("vec_id < 2"), k=5),
        mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    # the only exchange inputs are (id, sub, code) rows + the rank
    # window — no plan node shuffles an embedding column
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1), m.group(0)


def test_covariance_exchange_is_dim_bounded(spark):
    # the merge groupBy must run over the mapInPandas PARTIAL rows
    # (d^2 per partition), never a posexplode of the corpus
    from yardstick_spark.llm import covariance_matrix
    from yardstick_spark.plans import explain_str

    emb = spark.range(500).selectExpr(
        "transform(sequence(0, 7), i -> CAST(id % 5 AS FLOAT))"
        " AS embedding")
    plan = explain_str(covariance_matrix(emb), mode="simple")
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan
    assert "Generate" not in plan, plan  # no corpus explode


def test_mmr_pool_tables_broadcast(spark):
    # every greedy-round join runs against pool-bounded tables; the
    # corpus appears only in the kNN pool scan + one vector fetch
    from yardstick_spark.llm import mmr_rerank
    from yardstick_spark.plans import explain_str

    emb = spark.range(300).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 7), i -> "
        "CAST(pmod(id * (i + 3), 11) AS FLOAT)) AS embedding")
    out = mmr_rerank(emb, emb.filter("vec_id < 2"), k=3, pool=8)
    # the returned frame is checkpointed per round; assert the LAST
    # round's build plan used broadcasts by rebuilding one round shape
    plan = explain_str(out, mode="simple")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan


def test_containment_verify_no_cartesian(spark):
    from yardstick_spark.llm import ngram_containment_pairs
    from yardstick_spark.plans import explain_str

    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat('sample text body number ', CAST(id % 9 AS STRING), "
        "' with shared tokens everywhere') AS text")
    plan = explain_str(
        ngram_containment_pairs(docs, k=5, threshold=0.8), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tfidf_tf_table_has_cache_barrier(spark):
    # tf feeds both the df aggregation and the final join; without the
    # materialization barrier Catalyst re-executes the explode+agg
    # subtree per consumer (measured 6 scans / 14 exchanges at 10x,
    # round 6) — pin the barrier's presence
    from yardstick_spark.llm import clear_dedup_caches, tfidf_terms
    from yardstick_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try:
        assert "InMemoryTableScan" in explain_str(tfidf_terms(docs))
    finally:
        clear_dedup_caches()


def test_dsir_scoring_broadcasts_buckets_two_exchanges(spark):
    # the bucket log-ratio table (<=1024 rows) must reach the scoring
    # scan as a broadcast hash relation, and the whole weight
    # computation must shuffle exactly twice: once at bucket grain
    # (fit) and once at doc grain (score) — never at gram grain
    from yardstick_spark.llm import dsir_weights
    from yardstick_spark.plans import explain_str, has_broadcast_join

    docs = spark.createDataFrame(
        [(i, f"some words number {i}", "en" if i % 2 else "de")
         for i in range(40)],
        "doc_id bigint, text string, lang string")
    df = dsir_weights(docs, "lang = 'en'")
    assert has_broadcast_join(df), "bucket table must broadcast"
    plan = explain_str(df)
    # bucket-grain fit + doc-grain score; the _spread round-robins are
    # local-mode artifacts (no-ops on a pre-split cluster scan) and
    # gram-grain rows never hash-shuffle
    hash_shuffles = plan.count("hashpartitioning")
    assert hash_shuffles <= 2, f"too many keyed exchanges:\n{plan}"
    assert "SortMergeJoin" not in plan, "scoring join must not sort-merge"


def test_kmeans_assignment_scan_is_joinless(spark):
    # the centroid table rides the row expression as a literal: the
    # final assignment plan must contain no Join operator at all and
    # no Exchange (assignment is scan-side)
    from yardstick_spark.llm import kmeans_assign
    from yardstick_spark.plans import explain_str

    vecs = spark.createDataFrame(
        [(i, [float(i % 4) * 10.0, float(i)]) for i in range(40)],
        "vec_id bigint, embedding array<double>")
    df = kmeans_assign(vecs, k=2, iters=1)
    plan = explain_str(df)
    assert "Join" not in plan, f"assignment must be joinless:\n{plan}"
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), \
        f"assignment must not shuffle the corpus:\n{plan}"


def test_phash_rows_floor_engages_parallelism(spark):
    # the pHash chain's cost is per-ROW numpy work, so the rows floor
    # must fan a tiny-byte multi-hundred-row parquet-backed corpus out
    # to >1 partition (the r9 fix: byte-only estimation pinned the
    # whole DCT chain to 1 task at sf0.1)
    from yardstick_spark.llm import synth_textured_media
    from yardstick_spark.llm.dedup import _spread_by_bytes

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    media = synth_textured_media(docs)
    assert _spread_by_bytes(media, rows_per_part=256) \
        .rdd.getNumPartitions() > 1
    # and the byte-only estimate still coalesces the same tiny input
    # (the decode-chain behavior the original measurement justified)
    assert _spread_by_bytes(media).rdd.getNumPartitions() == 1


def test_spread_rows_floor_disabled_on_any_footer_failure(spark,
                                                          monkeypatch):
    """One unreadable parquet footer must disable the rows floor for
    the WHOLE input, not reset a running count mid-accumulation — a
    partial row total would silently under-partition the per-row-cost
    chain (r9 ADVICE).  With the floor off, the tiny-byte input falls
    back to the byte estimate (1 partition)."""
    import pyarrow.parquet as pq

    from yardstick_spark.llm.dedup import _spread_by_bytes

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    n_files = len(docs.inputFiles())
    real = pq.ParquetFile
    state = {"i": 0}

    def flaky(p, *a, **k):
        state["i"] += 1
        if state["i"] == 1:  # first footer read fails
            raise OSError("injected footer corruption")
        return real(p, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    got = _spread_by_bytes(docs, rows_per_part=64) \
        .rdd.getNumPartitions()
    if n_files == 1:
        # the only footer failed -> floor disabled -> byte estimate
        assert got == 1
    else:
        # later readable footers must NOT re-accumulate a partial
        # count; sf0.001 has ~600 docs, a partial floor would still
        # exceed 1 — the only correct answer is the byte estimate
        assert got == 1


def test_collect_if_small_job_counts(spark):
    """Job counts of both forms of the driver fetch, against count()
    then collect() on an identical fresh input.  The bounded fetch
    runs fewer jobs on 4-partition cache() and localCheckpoint inputs,
    but Spark's take scales up ×4 partitions per job, so on a
    64-partition checkpoint it runs 4 jobs, more than count plus
    collect.  `count_first` runs exactly the jobs of count plus
    collect.  A bound of 0 or less runs no job, and an input over the
    bound returns None."""
    import itertools

    from perfbench.sparkmetrics import job_group, read_group
    from yardstick_spark.sparkutil import collect_if_small

    sc = spark.sparkContext
    groups = itertools.count()

    def jobs(fn):
        group = f"test.collect_if_small.{next(groups)}"
        with job_group(sc, group):
            out = fn()
        return read_group(sc, group, 0.0, 0.0)["jobs"], out

    def count_then_collect(df):
        return df.collect() if df.count() <= 400 else None

    # `i` keeps the three cached plans distinct: cache() of an already
    # cached plan would share its data
    inputs = {
        "cache": lambda i: spark.range(0, 400, 1, 1)
        .selectExpr("id", f"{i} AS i").repartition(4).cache(),
        "localCheckpoint": lambda i: spark.range(0, 400, 1, 4)
        .localCheckpoint(),
        "localCheckpoint64": lambda i: spark.range(0, 400, 1, 64)
        .localCheckpoint(),
    }
    for kind, fresh in inputs.items():
        frames = [fresh(i) for i in range(3)]
        n_old, want = jobs(lambda: count_then_collect(frames[0]))
        n_new, got = jobs(lambda: collect_if_small(frames[1], 400))
        n_cf, got_cf = jobs(
            lambda: collect_if_small(frames[2], 400, count_first=True))
        assert sorted(r.id for r in got) == sorted(r.id for r in want) \
            == sorted(r.id for r in got_cf) == list(range(400)), kind
        assert n_cf == n_old, (kind, n_cf, n_old)
        if kind == "localCheckpoint64":
            assert n_new == 4 and n_new > n_old, (kind, n_new, n_old)
        else:
            assert n_new < n_old, (kind, n_new, n_old)
        for df in frames:
            df.unpersist()

    df = spark.range(0, 400, 1, 4).localCheckpoint()
    for bound in (0, -1):
        assert jobs(lambda: collect_if_small(df, bound)) == (0, None)
        assert jobs(lambda: collect_if_small(df, bound, count_first=True)) \
            == (0, None)
    assert collect_if_small(df, 399) is None
    assert collect_if_small(df, 399, count_first=True) is None


def test_shard_assign_cumsum_is_two_phase(spark):
    # the global token cumsum must be the two-phase scan: the window
    # partitions by spark_partition_id (parallel) and the offsets
    # arrive via a broadcast join — never a single-partition window
    # over the corpus
    from yardstick_spark.llm import shard_assign
    from yardstick_spark.plans import explain_str, has_broadcast_join

    docs = spark.createDataFrame(
        [(i, "w " * 20) for i in range(50)], "doc_id bigint, text string")
    df = shard_assign(docs, shard_tokens=100)
    assert has_broadcast_join(df), "partition offsets must broadcast"
    plan = explain_str(df)
    import re
    for line in plan.splitlines():
        if "Window" in line and "SinglePartition" in line:
            raise AssertionError(f"corpus-wide window found:\n{line}")


def test_inventory_plan_lint_no_cartesian_products(spark):
    """Whole-inventory plan lint: build every entry's physical plan at
    sf0.001 and assert (a) NO CartesianProduct anywhere — an unkeyed
    join over corpus-sized inputs is never an acceptable shape at
    100 TB — and (b) BroadcastNestedLoopJoin appears only in the
    known-bounded set (1-row corpus-stats cross joins and grand-total
    broadcasts, each with a provably tiny build side).  A new entry
    that accidentally introduces an unkeyed join fails here before it
    ever reaches a bench; same pass asserts no row-at-a-time
    BatchEvalPython node survives anywhere in the inventory."""
    import __spark_entry__ as e

    # every member is a 1-row (stats/total) or k-row (grand-total /
    # share / pool-table) broadcast build side, audited individually
    BNLJ_OK = {
        "ret_bm25", "ret_rrf", "ret_hybrid", "sim_knn_pq",
        "sim_knn_pq_trained",  # same bounded queries x codebook LUT
                               # cross join as sim_knn_pq
        "text_unigram_logprob", "emb_hard_negatives",
        "text_vocab_coverage", "dedup_source_matrix", "m_star_join",
        "m_at_set_const", "m_derived_at_all", "m_at_all_share",
        "m_at_where", "m_at_visible", "text_bigram_logprob",
        "text_tfidf", "m_nd_at_all", "m_window_measure",
    }
    sf = "/root/testdata/sf0.001"
    cartesian, stray_bnlj, row_udf, errors = [], [], [], []
    for name, fn in e.queries().items():
        try:
            plan = fn(spark, sf)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            errors.append(f"{name}: {ex}")
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            stray_bnlj.append(name)
        # (c) no row-at-a-time Python UDF anywhere: every Python hop
        # must be Arrow-batched (ArrowEvalPython / MapInPandas /
        # FlatMapGroupsInPandas) — BatchEvalPython is the 10-100x
        # slow path this repo bans from hot paths
        if "BatchEvalPython" in plan:
            row_udf.append(name)
    assert not errors, f"plan build failed: {errors[:3]}"
    assert not cartesian, f"cartesian products in: {cartesian}"
    assert not stray_bnlj, \
        f"unaudited BroadcastNestedLoopJoin in: {stray_bnlj}"
    assert not row_udf, f"row-at-a-time Python UDF in: {row_udf}"
