"""Scale-path operators: salted join equivalence, IVF recall, approx
sketches, csv/json sources."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_salted_join_equals_plain(spark):
    from yardstick_spark.operators import salted_join

    # one hot key (0) carrying half the rows
    left = spark.range(0, 2000).select(
        F.when(F.col("id") < 1000, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    got = salted_join(left, right, "k", salt=8).select("k", "payload", "v")
    want = left.join(right, "k").select("k", "payload", "v")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    left_rows = sorted(
        map(tuple, salted_join(left, right, "k", salt=4, how="left")
            .select("k", "payload", "v").collect())
    )
    want_left = sorted(
        map(tuple, left.join(right, "k", "left")
            .select("k", "payload", "v").collect())
    )
    assert left_rows == want_left


def test_ivf_knn_recall(spark):
    from yardstick_spark.llm import brute_force_knn, ivf_knn
    from yardstick_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_knn(emb, queries, k=10, n_lists=8, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall@10 too low: {recall:.2f}"


def test_simhash_pairs_exact_vs_bruteforce(spark):
    # banded pigeonhole candidates must find EXACTLY the pairs within
    # Hamming distance 3 (pigeonhole: d <= 3 leaves one of 4 bands
    # untouched), so the result equals the quadratic filter
    from pyspark.sql import functions as F

    from yardstick_spark.llm import simhash64, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(docs, max_hamming=3).collect()}
    sigs = simhash64(docs)
    brute = {
        (r["ia"], r["ib"]): r["h"]
        for r in sigs.alias("a").join(
            sigs.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"),
                F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)")
                .alias("h"))
        .filter("h <= 3").collect()
    }
    assert got == brute and got, f"{len(got)} vs {len(brute)} pairs"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_pairs(docs, max_hamming=4)


def test_lsh_multiprobe_recall_non_decreasing(spark):
    # multi-probe candidate sets are supersets of single-probe, so
    # recall@k vs brute force can only rise with n_probes
    from yardstick_spark.llm import brute_force_knn, lsh_bucketed_knn
    from yardstick_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=10).collect()
    }

    # 4 planes -> 16 buckets, dense enough on the near-uniform synthetic
    # embeddings for recall differences to be visible
    def recall(n_probes):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_bucketed_knn(emb, queries, k=10, n_planes=4,
                                      n_probes=n_probes).collect()
        }
        return len(exact & got) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1, f"multi-probe lowered recall: {r1:.2f} -> {r4:.2f}"
    assert r4 > r1 or r1 > 0.5, (
        f"4 of 16 buckets probed should visibly beat 1: {r1:.2f} -> {r4:.2f}"
    )


def test_approx_sketches_near_exact(spark):
    from yardstick_spark.sources import read_table

    li = read_table(spark, "/root/testdata/sf0.01/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_suppkey").alias("acd"),
        F.count_distinct("l_suppkey").alias("cd"),
        F.percentile_approx("l_quantity", 0.5).alias("apq"),
        F.expr("median(l_quantity)").alias("mq"),
    ).first()
    assert abs(row["acd"] - row["cd"]) / row["cd"] < 0.05
    assert abs(row["apq"] - row["mq"]) <= 1.0


def test_csv_json_sources_roundtrip(spark, tmp_path):
    from yardstick_spark.sources import read_table

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 5).alias("g")
    )
    csv_path = str(tmp_path / "t.csv")
    json_path = str(tmp_path / "t.json")
    df.write.mode("overwrite").option("header", "true").csv(csv_path)
    df.write.mode("overwrite").json(json_path)
    assert read_table(spark, csv_path, fmt="csv").count() == 100
    assert read_table(spark, json_path, fmt="json").count() == 100
    orc_path = str(tmp_path / "t.orc")
    df.write.mode("overwrite").orc(orc_path)
    orc = read_table(spark, orc_path, fmt="orc")
    assert sorted((r["id"], r["g"]) for r in orc.collect()) == [
        (i, i % 5) for i in range(100)
    ]


def test_connected_components_vs_union_find(spark, call_spy):
    # chain 0-1-2-3-4 (diameter > 1 forces multiple propagation
    # rounds), a triangle, an isolated pair; verdicts must agree with a
    # driver-side union-find
    from yardstick_spark.llm import cluster as C
    from yardstick_spark.llm import connected_components, dedup_assign

    edges = [(0, 1), (1, 2), (2, 3), (3, 4),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    pairs = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    # the gate's fetch returns the edge rows exactly when the
    # union-find branch runs
    fetched = call_spy(C, "collect_if_small")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert [r is not None for r in fetched] == [True]
    assert got == want

    # distributed label-propagation path must agree with the
    # driver-side union-find fast path
    got_dist = {r["id"]: r["cluster_id"]
                for r in connected_components(
                    pairs, local_threshold=0).collect()}
    assert [r is not None for r in fetched] == [True, False]
    assert got_dist == want

    docs = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
        "doc_id BIGINT",
    )
    verdicts = {r["doc_id"]: (r["cluster_id"], r["keep"])
                for r in dedup_assign(docs, pairs).collect()}
    assert verdicts[99] == (99, True)      # singleton keeps itself
    assert verdicts[4] == (0, False)       # chain end joins component 0
    assert verdicts[0] == (0, True)
    assert sum(1 for c, k in verdicts.values() if k) == 4  # one keeper/cluster


def test_embedding_dedup_pairs_subset_of_bruteforce(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import embedding_dedup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = embedding_dedup_pairs(emb, threshold=0.3).collect()
    assert got, "banded LSH should surface some near-dup pairs"
    assert all(r["id_a"] < r["id_b"] and r["sim"] >= 0.3 for r in got)

    # every reported pair must appear in the exact all-pairs result
    # with the identical rounded cosine (LSH affects recall only)
    v = emb.select("vec_id", F.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"))
    cos = ("aggregate(zip_with(a.e, b.e, (x, y) -> x * y), 0D, (s,v) -> s+v)"
           " / (sqrt(aggregate(a.e, 0D, (s,v) -> s + v*v))"
           " * sqrt(aggregate(b.e, 0D, (s,v) -> s + v*v)))")
    exact = {
        (r["ia"], r["ib"]): r["sim"]
        for r in v.alias("a").join(
            v.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
                F.round(F.expr(cos), 4).alias("sim"))
        .filter("sim >= 0.3").collect()
    }
    for r in got:
        assert exact[(r["id_a"], r["id_b"])] == r["sim"]


def test_ivf_index_persistence_roundtrip(spark, tmp_path):
    # build once -> save -> query the saved index; results must match
    # the in-memory build exactly (same seed), and the probed scan must
    # prune to the probed cell partitions
    from yardstick_spark.llm import (
        build_ivf_index, ivf_knn, ivf_query_index, save_ivf_index,
    )
    from yardstick_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    path = str(tmp_path / "ivf_idx")
    assigned, centroids = build_ivf_index(emb, n_lists=8, seed=7)
    save_ivf_index(assigned, centroids, path)

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in ivf_query_index(spark, path, q, k=5, n_probe=3).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in ivf_knn(emb, q, k=5, n_lists=8, n_probe=3, seed=7).collect()
    )
    assert got == want and len(got) == 25
    # partition layout: one directory per cell
    import os
    cells = [d for d in os.listdir(f"{path}/assignments")
             if d.startswith("cell=")]
    assert len(cells) == 8
    # the probe join runs on the partition column, so the assignments
    # scan must carry a dynamic partition pruning filter — only the
    # probed cell directories are read
    from yardstick_spark.plans import explain_str

    plan = explain_str(ivf_query_index(spark, path, q, k=5, n_probe=3))
    assert "dynamicpruning" in plan.lower(), "probe scan must prune cells"


def test_chunk_means_trailing_empty_segment():
    # an empty payload at the end of a batch must not truncate the
    # preceding row's final chunk (reduceat boundary regression)
    import numpy as np

    from yardstick_spark.llm.multimodal import _chunk_means

    flat = np.array([1.0, 2.0, 3.0, 5.0])
    m = _chunk_means(flat, np.array([4, 0]), 2)
    assert m[0].tolist() == [1.5, 4.0]
    assert m[1].tolist() == [0.0, 0.0]
    # empty segment sandwiched between non-empty rows
    m2 = _chunk_means(np.array([2.0, 4.0]), np.array([1, 0, 1]), 1)
    assert m2.ravel().tolist() == [2.0, 0.0, 4.0]


def test_embedding_dedup_tolerates_null_vectors(spark):
    # NULL embeddings are silently excluded (as the SQL-expression path
    # did), not a job-fatal vstack crash in the bucket UDF
    from pyspark.sql import functions as F

    from yardstick_spark.llm import embedding_dedup_pairs

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(50)
    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("embedding")),
    )
    assert embedding_dedup_pairs(dirty, threshold=0.4).count() >= 0


def test_embedding_dedup_drops_length_mismatched_pairs(spark):
    # a ragged corpus can bucket-collide vectors of different dims; the
    # cosine verifier must yield NULL (dropped by the threshold filter),
    # never NaN — NaN would PASS >= under Spark's NaN-is-largest ordering
    from pyspark.sql import functions as F

    from yardstick_spark.llm import embedding_dedup_pairs

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(60)
    ragged = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 2 == 0,
               F.expr("slice(embedding, 1, 32)"))
        .otherwise(F.col("embedding")),
    )
    pairs = embedding_dedup_pairs(ragged, threshold=-2.0).collect()
    for p in pairs:
        assert p["sim"] is not None and p["sim"] == p["sim"], p


def test_approx_aggregates_within_error_bounds(spark):
    # approx_count_distinct (HLL) and approx_percentile pass through to
    # Spark's native sketches; sanity the error bounds the reference's
    # host engine also promises (~2% HLL, exact-ish percentile here)
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey").alias("approx"),
        F.expr("percentile(l_quantity, 0.5)").alias("p_exact"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("p_approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
    assert abs(row["p_approx"] - row["p_exact"]) <= 1.0


def test_lsh_bucket_cap_guards_degenerate_buckets(spark):
    # 40 near-identical copies of one doc hash to the same buckets in
    # every band; with the cap those buckets are skipped (their pairs
    # belong to exact dedup upstream) while unrelated docs keep pairing
    from pyspark.sql import functions as F

    from yardstick_spark.llm import minhash_lsh_pairs

    boiler = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate text repeated across the corpus "
              "many many times").alias("text"),
    )
    uncapped = minhash_lsh_pairs(boiler, threshold=0.0)
    assert uncapped.count() == 40 * 39 // 2, "exhaustive without a cap"
    capped = minhash_lsh_pairs(boiler, threshold=0.0, max_bucket_size=10)
    assert capped.count() == 0, "over-cap buckets must be skipped"


def test_family_expand_mixed_corpus_cross_and_intra(spark):
    """Family-collapse exactness on a corpus that mixes shapes: two
    identical-text families plus a loner.  Intra-family pairs must
    carry similarity exactly 1.0, cross-family pairs must expand
    through the membership table (f_a x f_b of them, all with the one
    rep-level value), and the loner pairs with nothing.  Also pins the
    cap's recall claim: an over-cap family skips only its INTRA pairs
    while its cross-family pairs still flow (strictly better than the
    pre-collapse bucket cap, which dropped both)."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     minhash_lsh_pairs,
                                     ngram_jaccard_pairs)

    ta = ("the quick brown fox jumps over the lazy dog near the old"
          " river bank every single morning before sunrise and rain")
    tb = ("the quick brown fox jumps over the lazy dog near the old"
          " river bank every single morning before sunrise and snow")
    rows = ([(i, ta) for i in (0, 1, 2)] + [(i, tb) for i in (10, 11)]
            + [(20, "totally unrelated content about maritime"
                    " navigation and celestial charts")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    intra_a = {(0, 1), (0, 2), (1, 2)}
    intra = intra_a | {(10, 11)}
    cross = {(a, b) for a in (0, 1, 2) for b in (10, 11)}

    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, k=5, threshold=0.3)
             .collect()}
    clear_dedup_caches()
    assert set(pairs) == intra | cross
    assert all(pairs[p] == 1.0 for p in intra)
    assert len({pairs[p] for p in cross}) == 1, \
        "every cross pair must carry the one rep-level similarity"
    assert 0.3 <= pairs[(0, 10)] < 1.0

    est = {(r.id_a, r.id_b): r.est_jaccard
           for r in minhash_lsh_pairs(docs, threshold=0.0).collect()}
    clear_dedup_caches()
    assert intra | cross <= set(est)
    assert all(est[p] == 1.0 for p in intra)
    capped = {(r.id_a, r.id_b)
              for r in minhash_lsh_pairs(docs, threshold=0.0,
                                         max_bucket_size=2).collect()}
    clear_dedup_caches()
    assert cross <= capped, "cross pairs must survive the family cap"
    assert (10, 11) in capped, "under-cap family keeps its intra pair"
    assert not (intra_a & capped), "over-cap family skips intra pairs"


def test_simhash_bucket_cap_wiring(spark):
    # capped path: identical docs collapse every band bucket, so the
    # cap suppresses all candidates; uncapped stays exhaustive
    from pyspark.sql import functions as F

    from yardstick_spark.llm import simhash_pairs

    boiler = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.lit("the very same boilerplate text in every document")
        .alias("text"),
    )
    assert simhash_pairs(boiler).count() == 30 * 29 // 2
    assert simhash_pairs(boiler, max_bucket_size=10).count() == 0


def test_verify_arrow_matches_join_verifier(spark, monkeypatch):
    """The gated numpy-popcount verifier and the join-based verifier
    must produce identical pair sets AND identical rounded similarity
    values (same IEEE ratio, same shortest-repr HALF_UP rounding) for
    both metrics.  The corpus is hot-vocab (tiny shingle universe) so
    the Arrow gate fires on the default path; the join path is forced
    by monkeypatching the gate off."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs)
    from yardstick_spark.llm import dedup as D

    rows = [(i, "abcde" * (3 + i % 5) + "fghij" * (i % 3)
             + "klmno" * (i % 4)) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(fn, col):
        out = {(r.id_a, r.id_b): r[col]
               for r in fn(docs, k=5, threshold=0.5).collect()}
        clear_dedup_caches()
        return out

    # both sides take the prefix-join candidates (the direct
    # enumeration would otherwise answer before either verifier runs)
    monkeypatch.setattr(D, "collect_if_small", lambda *a, **k: None)
    fast_c = run(ngram_containment_pairs, "containment")
    fast_j = run(ngram_jaccard_pairs, "jaccard")
    monkeypatch.setattr(D, "_verify_pairs_arrow", lambda *a, **k: None)
    slow_c = run(ngram_containment_pairs, "containment")
    slow_j = run(ngram_jaccard_pairs, "jaccard")
    assert fast_c == slow_c and len(fast_c) > 0
    assert fast_j == slow_j and len(fast_j) > 0


def test_slim_candidates_match_position_filter_path(spark, monkeypatch):
    """The slim candidate path (no ppjoin position bookkeeping, used
    in the Arrow-verify regime) must produce identical final pairs to
    the full position-filter + join-verifier path: verification is
    exact, so the candidate superset may differ but the output cannot.
    The big-vocab path is forced by monkeypatching `_arrow_gate` off,
    which disables BOTH the slim candidates and the Arrow verifier;
    `collect_if_small` is patched off on both sides so the direct
    enumeration does not answer first."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs)
    from yardstick_spark.llm import dedup as D

    rows = [(i, "abcde" * (3 + i % 5) + "fghij" * (i % 3)
             + "klmno" * (i % 4) + "pqrst" * (i % 2)) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(fn, col):
        out = {(r.id_a, r.id_b): r[col]
               for r in fn(docs, k=5, threshold=0.5).collect()}
        clear_dedup_caches()
        return out

    monkeypatch.setattr(D, "collect_if_small", lambda *a, **k: None)
    slim_c = run(ngram_containment_pairs, "containment")
    slim_j = run(ngram_jaccard_pairs, "jaccard")
    monkeypatch.setattr(D, "_arrow_gate", lambda *a, **k: False)
    full_c = run(ngram_containment_pairs, "containment")
    full_j = run(ngram_jaccard_pairs, "jaccard")
    assert slim_c == full_c and len(slim_c) > 0
    assert slim_j == full_j and len(slim_j) > 0


def test_family_collapse_null_text_stays_unpaired(spark):
    """NULL-text docs must NOT pair with each other (regression for
    the family-collapse NULL hole): the uncollapsed band/prefix joins
    drop NULL band values under SQL equality, so the collapsed path
    must treat NULL/NULL-element signatures as singleton families —
    never as one family whose re-expansion emits sim-1.0 intra pairs.
    Real near-dup pairs among non-NULL docs must be unaffected."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     minhash_lsh_pairs,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs, simhash_pairs)

    t = ("the quick brown fox jumps over the lazy dog near the old"
         " river bank every single morning before sunrise")
    rows = [(0, t), (1, t), (2, None), (3, None), (4, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    null_ids = {2, 3, 4}

    for fn, kw in ((minhash_lsh_pairs, {"threshold": 0.0}),
                   (simhash_pairs, {}),
                   (ngram_jaccard_pairs, {"k": 5, "threshold": 0.1}),
                   (ngram_containment_pairs,
                    {"k": 5, "threshold": 0.1})):
        pairs = {(r.id_a, r.id_b) for r in fn(docs, **kw).collect()}
        clear_dedup_caches()
        touched_null = {p for p in pairs
                        if p[0] in null_ids or p[1] in null_ids}
        assert not touched_null, \
            f"{fn.__name__} paired NULL-text docs: {touched_null}"
        assert (0, 1) in pairs, \
            f"{fn.__name__} lost the real duplicate pair"


def test_graph_checkpoints_release_via_shared_registry(spark):
    """The eager edge barriers in pagerank/label_propagation register
    in the same cache registry as every dedup barrier, so
    clear_dedup_caches() drops the references (regression for the
    untracked-localCheckpoint leak)."""
    from yardstick_spark.llm import clear_dedup_caches
    from yardstick_spark.sparkutil import _CACHED
    from yardstick_spark.operators.graph import (label_propagation,
                                                 pagerank)

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, w double")
    clear_dedup_caches()
    pagerank(edges, iterations=2).count()
    assert _CACHED, "pagerank must register its edge state"
    label_propagation(edges, iterations=2).count()
    n = len(_CACHED)
    assert n >= 2, "both operators must register their edge barriers"
    clear_dedup_caches()
    assert not _CACHED


def test_dedup_signature_store_roundtrip(spark, tmp_path):
    # persisted-store probe must find exactly the pairs the direct
    # incremental path finds, without re-reading the corpus text
    from yardstick_spark.llm import (
        clear_dedup_caches,
        incremental_minhash_pairs,
        incremental_pairs_against_store,
        minhash_signatures,
        save_dedup_signatures,
    )

    clear_dedup_caches()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 <> 0")
    path = str(tmp_path / "sigstore")
    save_dedup_signatures(minhash_signatures(corpus), path)
    direct = sorted(map(tuple,
                        incremental_minhash_pairs(new, corpus).collect()))
    stored = sorted(map(tuple,
                        incremental_pairs_against_store(new, spark, path)
                        .collect()))
    assert direct == stored
    clear_dedup_caches()


def test_tfidf_rank_prunes_map_side(spark):
    from yardstick_spark.llm import tfidf_terms
    from yardstick_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert "WindowGroupLimit" in explain_str(tfidf_terms(docs, top_k=3))


def test_repetition_stats_is_shuffle_free(spark):
    from yardstick_spark.llm import repetition_stats
    from yardstick_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = explain_str(repetition_stats(docs))
    # one round-robin spread for single-file inputs is allowed; no
    # key-hash exchange may appear
    assert "hashpartitioning" not in plan.lower()


def test_semantic_dedup_tolerates_null_and_ragged_vectors(spark):
    # NULL / length-mismatched embeddings must get a NULL cell (rows
    # dropped by the cell join), not crash the Arrow assignment UDF
    from pyspark.sql import functions as F

    from yardstick_spark.llm import semantic_dedup_pairs

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(60)
    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None))
        .when(F.col("vec_id") % 5 == 0,
              F.expr("slice(embedding, 1, 32)"))
        .otherwise(F.col("embedding")),
    )
    pairs = semantic_dedup_pairs(dirty, threshold=-2.0, n_lists=4).collect()
    bad = {r["vec_id"] for r in dirty.collect()
           if r["vec_id"] % 7 == 0 or r["vec_id"] % 5 == 0}
    for p in pairs:
        assert p["id_a"] not in bad and p["id_b"] not in bad
        assert p["sim"] is not None and p["sim"] == p["sim"]
    assert pairs


# ---------------------------------------------------------------- mining


def test_hard_negatives_never_share_label(spark):
    from yardstick_spark.llm import brute_force_knn, hard_negatives

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter("vec_id < 4")
    hn = hard_negatives(emb, anchors, k=5).collect()
    assert len(hn) == 4 * 5
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in hn:
        assert r["anchor_label"] == labels[r["anchor_id"]]
        assert r["negative_label"] == labels[r["negative_id"]]
        assert r["anchor_label"] != r["negative_label"]
    # ranks contiguous 1..k per anchor, sims non-increasing
    by_anchor = {}
    for r in sorted(hn, key=lambda r: (r["anchor_id"], r["rank"])):
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for rows in by_anchor.values():
        assert [r["rank"] for r in rows] == list(range(1, 6))
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
    # hard negatives are exactly the kNN restricted to other labels
    knn = brute_force_knn(emb, anchors, k=2000).collect()
    for a, rows in by_anchor.items():
        expect = [r["neighbor_id"] for r in sorted(
            knn, key=lambda r: (r["rank"]))
            if r["query_id"] == a and labels[r["neighbor_id"]] != labels[a]
        ][:5]
        assert [r["negative_id"] for r in rows] == expect


def test_hard_negatives_max_sim_band(spark):
    from yardstick_spark.llm import hard_negatives

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hn = hard_negatives(emb, emb.filter("vec_id < 4"), k=5,
                        max_sim=0.2).collect()
    assert hn and all(r["sim"] <= 0.2 for r in hn)


def test_label_prototypes_and_medoids(spark):
    import numpy as np

    from yardstick_spark.llm import label_medoids, label_prototypes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    protos = {r["label"]: r for r in label_prototypes(emb).collect()}
    # n_vecs partitions the corpus; centroid is the per-dim mean
    assert sum(r["n_vecs"] for r in protos.values()) == len(rows)
    for label, p in protos.items():
        member = np.array([list(r["embedding"]) for r in rows
                           if r["label"] == label], dtype=np.float64)
        assert p["n_vecs"] == member.shape[0]
        np.testing.assert_allclose(
            np.array(p["centroid"]), member.mean(axis=0), atol=1e-6)
    # medoid: the member vector with max cosine against its centroid
    meds = {r["label"]: r for r in label_medoids(emb).collect()}
    assert set(meds) == set(protos)
    for label, m in meds.items():
        cent = np.array(protos[label]["centroid"])
        best_id, best_sim = None, -2.0
        for r in rows:
            if r["label"] != label:
                continue
            v = np.array(list(r["embedding"]), dtype=np.float64)
            sim = round(float(v @ cent / (np.linalg.norm(v)
                        * np.linalg.norm(cent))), 4)
            if sim > best_sim or (sim == best_sim
                                  and r["vec_id"] < best_id):
                best_id, best_sim = r["vec_id"], sim
        assert m["medoid_id"] == best_id
        assert abs(m["sim"] - best_sim) <= 2e-4  # centroid rounding


# ------------------------------------------------------------- quantize


def test_quantize_codes_and_reconstruction(spark):
    import numpy as np

    from yardstick_spark.llm import (dequantize_expr, quantization_params,
                                     quantize_embeddings)
    from yardstick_spark.llm.quantize import _params_arrays
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    params = quantization_params(emb)
    prows = sorted(params.collect(), key=lambda r: r["pos"])
    qv = quantize_embeddings(emb, params=params)
    got = {r["vec_id"]: list(r["qvec"]) for r in qv.collect()}
    src = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    assert set(got) == set(src)
    for codes in got.values():
        assert all(-128 <= q <= 127 for q in codes)
    # reconstruction error bounded by half a quantization step per dim
    mns, rngs = _params_arrays(params)
    deq = qv.select("vec_id",
                    F.expr(dequantize_expr("qvec", mns, rngs)).alias("d"))
    for r in deq.collect():
        orig = np.array(src[r["vec_id"]], dtype=np.float64)
        rec = np.array(list(r["d"]))
        for i, (o, x) in enumerate(zip(orig, rec)):
            step = (prows[i]["mx"] - prows[i]["mn"]) / 255.0
            assert abs(o - x) <= step / 2 + 1e-12


def test_quantized_knn_recall(spark):
    from yardstick_spark.llm import (brute_force_knn, quantization_params,
                                     quantize_embeddings, quantized_knn)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    params = quantization_params(emb)
    qv = quantize_embeddings(emb, params=params)
    queries = emb.filter("vec_id < 10")
    exact = brute_force_knn(emb, queries, k=10).collect()
    quant = quantized_knn(qv, qv.filter("vec_id < 10"), params,
                          k=10).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    qs = {}
    for r in quant:
        qs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(ex[q] & qs[q]) / 10 for q in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_quantize_frozen_params_for_new_batch(spark):
    # production shape: params frozen at index build, applied to a new
    # ingest batch — codes for shared vectors must be identical
    from yardstick_spark.llm import quantization_params, quantize_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    params = quantization_params(emb)
    all_codes = {r["vec_id"]: list(r["qvec"]) for r in
                 quantize_embeddings(emb, params=params).collect()}
    batch = emb.filter("vec_id % 3 = 0")
    batch_codes = {r["vec_id"]: list(r["qvec"]) for r in
                   quantize_embeddings(batch, params=params).collect()}
    assert batch_codes == {k: v for k, v in all_codes.items()
                           if k % 3 == 0}


def test_event_paths_matches_transitions_totals(spark):
    from yardstick_spark.operators import event_paths, event_transitions

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    paths = event_paths(ev, length=2, top_k=10**9).collect()
    trans = event_transitions(ev).collect()
    # length-2 paths ARE the transition matrix (counts must agree)
    got = {tuple(r["path"].split(" > ")): r["n"] for r in paths}
    want = {(r["from_type"], r["to_type"]): r["n"] for r in trans}
    assert got == want
    ranks = sorted(r["rank"] for r in paths)
    assert ranks == list(range(1, len(paths) + 1))


def test_profile_table_approx_error_bound(spark):
    from yardstick_spark.operators import profile_table, profile_table_approx

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    cols = ["l_orderkey", "l_partkey", "l_returnflag"]
    exact = {(r["column_name"], r["metric"]): r["value"]
             for r in profile_table(li, cols).collect()}
    approx = {(r["column_name"], r["metric"]): r["value"]
              for r in profile_table_approx(li, cols, rsd=0.02).collect()}
    for c in cols:
        # non-sketch metrics are identical
        for m in ("n_rows", "n_null", "min", "max"):
            assert approx[(c, m)] == exact[(c, m)]
        # HLL estimate within 3*rsd of the exact count
        est = int(approx[(c, "n_distinct_approx")])
        true = int(exact[(c, "n_distinct")])
        assert abs(est - true) <= max(3 * 0.02 * true, 2), (c, est, true)
    # the scale claim: ONE aggregation job regardless of column count
    plan = profile_table_approx(li, cols)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("HashAggregate") <= 2, plan


def test_vocab_coverage_curve(spark):
    from yardstick_spark.llm import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = vocab_coverage(docs, top_n=50).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    fracs = [r["cum_frac"] for r in rows]
    assert all(b >= a for a, b in zip(fracs, fracs[1:]))  # monotone
    assert 0 < fracs[-1] <= 1.0
    tfs = [r["tf"] for r in rows]
    assert tfs == sorted(tfs, reverse=True)


def test_mining_null_vector_safety(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import hard_negatives, label_medoids, \
        label_prototypes

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    # inject a NULL vector, an empty vector, and a zero vector
    broken = spark.createDataFrame(
        [(90001, None, 0), (90002, [], 1), (90003, [0.0] * 64, 2)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label LONG")
    mixed = emb.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).unionByName(broken)
    hn = hard_negatives(mixed, mixed.filter("vec_id < 3"), k=5).collect()
    assert all(r["sim"] is not None for r in hn)
    assert not any(r["negative_id"] in (90001, 90002, 90003) for r in hn)
    # prototypes: NULL/empty rows contribute nothing; zero row counts
    pr = {r["label"]: r for r in label_prototypes(mixed).collect()}
    assert all(len(r["centroid"]) == 64 for r in pr.values())
    md = label_medoids(mixed).collect()
    assert all(r["sim"] is not None for r in md)


def test_prepare_embedding_corpus_stages(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import (prepare_embedding_corpus,
                                     semantic_dedup_verdicts)

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    # inject hygiene failures: zero vector and an unnormalized one
    bad = spark.createDataFrame(
        [(90001, [0.0] * 64, 0), (90002, [5.0] * 64, 1)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label LONG")
    out = prepare_embedding_corpus(
        emb.unionByName(bad), norm_lo=0.9, norm_hi=1.1,
        threshold=0.3, n_lists=8)
    ids = {r["vec_id"] for r in out.collect()}
    assert 90001 not in ids and 90002 not in ids  # norm filter works
    # survivors = exactly the non-duplicate verdicts of the clean set
    keep = {r["vec_id"] for r in
            semantic_dedup_verdicts(emb, threshold=0.3, n_lists=8)
            .filter("NOT is_duplicate").collect()}
    assert ids == keep
    rows = out.collect()
    assert all(0.9 <= r["norm"] <= 1.1 for r in rows)
    assert all(-128 <= r["q_min"] <= r["q_max"] <= 127 for r in rows)


def test_profile_numeric_approx_rank_error(spark):
    from yardstick_spark.operators import profile_numeric_approx

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    got = {(r["column_name"], r["quantile"]): r["value"] for r in
           profile_numeric_approx(
               li, ["l_extendedprice", "l_quantity"]).collect()}
    vals = sorted(r["l_extendedprice"]
                  for r in li.select("l_extendedprice").collect())
    n = len(vals)
    for q in (0.5, 0.95, 0.99):
        est = got[("l_extendedprice", q)]
        # rank error <= 1/accuracy (plus discreteness slack)
        import bisect
        rank = bisect.bisect_left(vals, est)
        assert abs(rank - q * n) <= n / 10000 + 2, (q, rank, q * n)
    # one aggregation regardless of column/quantile count
    plan = profile_numeric_approx(li, ["l_extendedprice", "l_quantity"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ObjectHashAggregate") <= 2 \
        or plan.count("HashAggregate") <= 2, plan


def test_lsh_index_probe_equals_on_the_fly(spark, tmp_path):
    # the persisted index returns bit-identical neighbors to
    # lsh_bucketed_knn, and the probe scan is partition-pruned to the
    # probed buckets
    from yardstick_spark.llm import (
        knn_lsh_from_index, lsh_bucketed_knn, save_lsh_index,
    )
    from yardstick_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    path = str(tmp_path / "lshidx")
    save_lsh_index(emb, path, n_planes=8)
    for probes in (1, 3):
        got = sorted(map(tuple, knn_lsh_from_index(
            spark, path, queries, k=10, n_probes=probes).collect()))
        want = sorted(map(tuple, lsh_bucketed_knn(
            emb, queries, k=10, n_probes=probes).collect()))
        assert got == want and len(got) > 0
    # partition pruning: the scan plan carries a bucket filter
    plan = knn_lsh_from_index(spark, path, queries, k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:2000]
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "bucket" in pf, pf


def test_skew_report_values_and_null_handling(spark):
    from yardstick_spark.operators import skew_report

    df = spark.createDataFrame(
        [("hot", 1)] * 60 + [("warm", 1)] * 30 + [("c1", 1)] * 5
        + [("c2", 1)] * 5 + [(None, 1)] * 10,
        "k STRING, v INT")
    rep = {r.key: (r.n, r.share, r.suggested_salt)
           for r in skew_report(df, "k", k=3, n_partitions=10,
                                capacity=64).collect()}
    # NULL keys excluded from both the ranking and the denominator
    assert None not in rep and rep["hot"] == (60, 0.6, 6)
    assert rep["warm"] == (30, 0.3, 3)
    # a uniform key needs no salt
    assert rep["c1"][2] == 1


def test_folded_knn_matches_duckdb_oracle(spark):
    """Every folded kNN variant (brute force, LSH, multi-probe LSH,
    seeded IVF) returns exactly the rows of its DuckDB oracle SQL in
    `__spark_entry__.oracle_sql()`, which shares no code with the
    library: md5-parity signs and seeded centroids re-derived in SQL,
    the oracle's own list_sum cosine, ROUND(sim, 4), and the
    (sim DESC, neighbor_id) rank order.  The brute-force top-10 lists
    hold tied sims, so a changed tie order or rounding fails it."""
    import duckdb

    import __spark_entry__ as entry
    from oracle_diff import normalize
    from yardstick_spark.llm import brute_force_knn

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf}/embeddings.parquet'")
    qs, oracles = entry.queries(), entry.oracle_sql()
    for key in ("sim_knn_bruteforce", "sim_knn_lsh",
                "sim_knn_lsh_multiprobe", "sim_knn_ivf"):
        sdf = qs[key](spark, sf)
        rows = sdf.collect()
        res = con.sql(oracles[key])
        want = normalize(res.fetchall(), res.columns)
        assert rows and normalize(rows, sdf.columns) == want, key
        if key == "sim_knn_bruteforce":
            sims = [(r["query_id"], r["sim"]) for r in rows]
            assert len(set(sims)) < len(sims), "no tied sims to order"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    # partition-stability: the per-partition top-k compaction must not
    # change the global result under any input layout
    for n in (1, 3, 32):
        alt = sorted(map(tuple, brute_force_knn(
            emb.repartition(n), q, k=10).collect()))
        ref = sorted(map(tuple, brute_force_knn(emb, q, k=10).collect()))
        assert alt == ref, f"repartition({n}) changed brute_force_knn"
    # the work-adaptive fan-out (big query sets against a few-split
    # scan) must not change results either: force it by shrinking the
    # per-task cell floor to one cell
    from yardstick_spark.llm import similarity as S

    saved = S._FOLD_CELLS_PER_PART
    S._FOLD_CELLS_PER_PART = 1
    try:
        fanned = sorted(map(tuple, brute_force_knn(emb, q, k=10).collect()))
    finally:
        S._FOLD_CELLS_PER_PART = saved
    assert fanned == ref, "forced fold fan-out changed brute_force_knn"


def test_fold_fan_out_has_per_task_floor(spark):
    """The fold fan-out must NOT repartition when per-task work is
    below the cell floor (each extra Arrow task costs a partly
    serialized Python-runner handshake — the r11 emb_margin_pairs
    regression: 32 tasks for a 2M-cell fold ran 2.3x slower than 8),
    and must fan out when the work genuinely exceeds it."""
    import pyarrow.parquet as pq

    from yardstick_spark.llm import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.selectExpr("vec_id AS __nid", "embedding AS __cv") \
        .filter("__nid IS NOT NULL")
    rows = sum(pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
               for f in emb.inputFiles())
    floor = S._FOLD_CELLS_PER_PART
    cores = spark.sparkContext.defaultParallelism
    # work below one floor unit -> unchanged partitioning
    small = S._fan_out_for_queries(corpus, max(floor // rows - 1, 1))
    assert small.rdd.getNumPartitions() == corpus.rdd.getNumPartitions()
    # work worth ~4 floor units -> fans to 1 + work // floor tasks,
    # NOT to the core count (the per-task floor IS the target), capped
    # at the cores there are
    nq = 4 * floor // rows
    mid = S._fan_out_for_queries(corpus, nq)
    assert mid.rdd.getNumPartitions() == min(cores, 1 + rows * nq // floor)
    # huge work saturates at defaultParallelism
    big = S._fan_out_for_queries(corpus, 10_000_000)
    assert big.rdd.getNumPartitions() == cores


def test_folded_knn_edge_cases(spark):
    # empty query side -> empty result with the right schema; NULL
    # query vectors: brute keeps them (all-NULL sims, like the SQL
    # path), LSH/IVF drop them (their probe explode yields no rows)
    from yardstick_spark.llm import (
        brute_force_knn, ivf_knn_seeded, lsh_bucketed_knn,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty = emb.filter("vec_id < 0")
    for fn in (brute_force_knn, lsh_bucketed_knn, ivf_knn_seeded):
        res = fn(emb, empty, k=5)
        assert res.count() == 0
        assert [f.name for f in res.schema.fields] == [
            "query_id", "neighbor_id", "sim", "rank"]
    nullq = spark.createDataFrame(
        [(9999, None)], "vec_id BIGINT, embedding ARRAY<FLOAT>")
    b = brute_force_knn(emb, nullq, k=3).collect()
    assert len(b) == 3 and all(r.sim is None for r in b)
    assert lsh_bucketed_knn(emb, nullq, k=3).count() == 0
    assert ivf_knn_seeded(emb, nullq, k=3).count() == 0


def test_folded_knn_edge_semantics(spark):
    """brute_force_knn on a hand-built corpus: a zero vector and a
    shorter vector get a NULL sim and rank after every scored
    neighbor (then by neighbor id), a NULL corpus id never appears
    (its vector would score 1.0), a query never pairs with itself,
    and a zero query vector gets all-NULL sims."""
    from yardstick_spark.llm import brute_force_knn

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 1.0, 0.0]),
         (3, [0.0, 0.0, 0.0]), (4, [1.0, 0.0]),
         (None, [1.0, 0.0, 0.0]), (5, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>").coalesce(1)
    q = corpus.filter("vec_id IN (1, 3)")

    # one partition, so at k=2 the per-partition top-k prunes before
    # the final rank window and must keep exactly the right rows
    def knn(k):
        return sorted(map(tuple, brute_force_knn(corpus, q, k=k)
                          .collect()), key=lambda r: (r[0], r[3]))

    assert knn(10) == [
        (1, 2, 0.7071, 1), (1, 5, 0.0, 2), (1, 3, None, 3),
        (1, 4, None, 4),
        (3, 1, None, 1), (3, 2, None, 2), (3, 4, None, 3),
        (3, 5, None, 4)]
    assert knn(2) == [(1, 2, 0.7071, 1), (1, 5, 0.0, 2),
                      (3, 1, None, 1), (3, 2, None, 2)]


def test_dsir_matches_independent_references(spark):
    """DSIR on a corpus covering NULL text, empty text, single words,
    duplicate grams, non-ASCII, whitespace runs and NULL target flags
    equals references that share no code with the Arrow stages: md5
    weights equal the DuckDB oracle SQL over the same rows, xxhash64
    weights equal that SQL with its bucket replaced by a
    tests/xxh64_ref UDF, and the raw (bucket, c_raw, c_target) table
    equals a Python recount (hashlib md5 / xxh64_ref) of the
    normalized word arrays — c_target NULLness included."""
    import hashlib
    import re

    import duckdb
    import pytest
    from duckdb.typing import BIGINT, VARCHAR
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from xxh64_ref import spark_xxhash64
    from yardstick_spark.llm import dsir_weights
    from yardstick_spark.llm import text as T

    rows = [
        (0, "The  quick  brown fox", "en"),
        (1, None, "en"),
        (2, "", "de"),
        (3, "héllo wörld héllo wörld héllo", "de"),
        (4, "one", "en"),
        (5, "a b a b a b a b", None),
        (6, "  trailing and LEADING  spaces  ", "en"),
        (7, "The quick brown fox", "de"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string")
    nb = 1024  # the oracle SQL's bucket count

    def md5_bucket(a, b):
        g = a if b is None else f"{a} {b}"
        return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                   16) % nb

    def xxh_bucket(a, b):
        return spark_xxhash64(a, b) % nb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents "
                "(doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    con.create_function(
        "xxh_bucket",
        lambda g: xxh_bucket(*(g.split(" ") + [None])[:2]),
        [VARCHAR], BIGINT)
    md5_sql = entry.oracle_sql()["text_dsir_weights"]
    xxh_sql, n = re.subn(
        r"CAST\(CONCAT\('0x', SUBSTRING\(md5\(gram\), 1, 15\)\)\s+"
        r"AS BIGINT\) % 1024", "xxh_bucket(gram)", md5_sql)
    assert n == 1
    words = docs.select(
        F.expr("CAST((lang = 'en') AS INT)").alias("t"),
        F.expr(T._dsir_words_expr("text")).alias("ws")).collect()

    for hi, sql, bucket in (("md5", md5_sql, md5_bucket),
                            ("xxhash64", xxh_sql, xxh_bucket)):
        got = sorted(map(tuple, dsir_weights(
            docs, "lang = 'en'", n_buckets=nb, hash_impl=hi).collect()))
        want = sorted(con.sql(sql).fetchall())
        assert [r[:2] for r in got] == [r[:2] for r in want], hi
        assert [r[2] for r in got] == pytest.approx(
            [r[2] for r in want], abs=1e-9), hi
        counts: dict = {}
        for r in words:
            ws = r["ws"] or []
            for a, b in [(w, None) for w in ws] + list(zip(ws, ws[1:])):
                raw, tgt = counts.get(bucket(a, b), (0, None))
                if r["t"] is not None:
                    tgt = (tgt or 0) + r["t"]
                counts[bucket(a, b)] = (raw + 1, tgt)
        got_c = {r[0]: (r[1], r[2]) for r in T._dsir_bucket_counts(
            docs, "lang = 'en'", nb, "text", hi).collect()}
        assert got_c == counts, hi
        # NULL-target docs leave their buckets' c_target NULL, not 0
        assert any(t is None for _, t in got_c.values()), hi


def test_xxh64_vectorized_matches_reference():
    """`_xxh64_fixed` / `_xxh64_many` must equal the pure-Python XXH64
    reference bit-for-bit across every length class (empty, sub-4,
    4-7, 8-31, >= 32 incl. multi-stripe) and arbitrary uint64 seeds —
    including numpy's wraparound arithmetic (run under
    warnings-as-errors to catch any overflow-warning regression)."""
    import random
    import warnings

    import numpy as np

    from xxh64_ref import xxh64
    from yardstick_spark.llm.text import _xxh64_fixed, _xxh64_many

    rng = random.Random(7)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for L in list(range(0, 70)) + [100, 1000]:
            n = 13
            rows = [bytes(rng.randrange(256) for _ in range(L))
                    for _ in range(n)]
            seeds = np.array([rng.randrange(1 << 64) for _ in range(n)],
                             dtype=np.uint64)
            M = (np.frombuffer(b"".join(rows), dtype=np.uint8)
                 .reshape(n, L) if L else np.zeros((n, 0), dtype=np.uint8))
            got = list(map(int, _xxh64_fixed(M, seeds)))
            assert got == [xxh64(r, int(s))
                           for r, s in zip(rows, seeds)], L
        # mixed lengths through the grouping wrapper, incl. the Spark
        # field-chaining shape (first hash seeds the second)
        mixed = [bytes(rng.randrange(256) for _ in range(rng.choice(
            [0, 1, 3, 5, 8, 17, 33, 64]))) for _ in range(200)]
        seeds = np.full(200, 42, dtype=np.uint64)
        h1 = _xxh64_many(mixed, seeds)
        assert list(map(int, h1)) == [xxh64(b, 42) for b in mixed]
        tails = [bytes(rng.randrange(256) for _ in range(rng.choice(
            [1, 4, 9, 40]))) for _ in range(200)]
        h2 = _xxh64_many(tails, h1)
        assert list(map(int, h2)) == [
            xxh64(t, int(s)) for t, s in zip(tails, h1)]


def _multiblock_rows():
    """A hot-vocab corpus whose representatives span three 64-row
    enumeration blocks: 52 base texts over a 12-word vocabulary, each
    with two one-word variants (156 distinct shingle sets), ids sorted
    so a 4-row duplicate-id run (id 62) sits at rep positions 62..65,
    across the first block boundary, plus a NULL id copying a base
    text (a family member that is never a rep)."""
    import random

    rng = random.Random(11)
    vocab = ["".join(rng.choice("abcdefghij") for _ in range(rng.choice(
        (4, 5, 6)))) for _ in range(12)]
    texts = []
    for _ in range(52):
        base = [rng.choice(vocab) for _ in range(12)]
        texts.append(" ".join(base))
        for _ in range(2):
            var = list(base)
            p = rng.randrange(len(var))
            var[p] = rng.choice([w for w in vocab if w != var[p]])
            texts.append(" ".join(var))
    ids = list(range(62)) + [62] * 4 + list(range(66, len(texts)))
    return list(zip(ids, texts)) + [(None, texts[3])]


def _assert_multiblock_reps(reps):
    """`reps` (the family-collapse representatives the direct
    enumeration collects) fill 3 blocks, not a whole number of them,
    and the id-62 run straddles the block boundary at 64."""
    ids = sorted(r["id"] for r in reps.select("id").collect())
    pos = [i for i, x in enumerate(ids) if x == 62]
    assert len(ids) >= 150 and len(ids) % 64, len(ids)
    assert pos[0] < 64 <= pos[-1], pos


def test_allpairs_matches_prefix_join_path(spark, monkeypatch):
    """The direct rep-pair enumeration (hot-vocab `_allpairs_arrow`)
    must produce identical pairs AND values to the prefix-join +
    Arrow-verify path and to the general position-filter + join-verify
    path for both metrics, including the equal-size orientation edge
    cases (same-text distinct ids pair; duplicate ids never pair at
    equal sizes — SQL `<` semantics; each duplicate-id row pairs as
    its own document, never with itself), on a corpus inside one
    64-row block and on one split across three."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs)
    from yardstick_spark.llm import dedup as D

    rows = [(i, "abcde" * (3 + i % 5) + "fghij" * (i % 3)
             + "klmno" * (i % 4)) for i in range(40)]
    rows += [(100, "abcde abcde xyzzy"), (101, "abcde abcde xyzzy"),
             (102, "qqqqq wwwww abcde"), (102, "qqqqq wwwww vwxyz")]
    small = spark.createDataFrame(rows, "doc_id long, text string")
    multi = spark.createDataFrame(_multiblock_rows(),
                                  "doc_id long, text string")
    sid_sets, universe = D._sid_sets(
        D._shingled(multi, "text", "doc_id", 5))
    assert universe <= 4096
    _assert_multiblock_reps(D._family_collapse(sid_sets, "sids")[0])
    clear_dedup_caches()

    def run(fn, col, docs):
        out = sorted((r.id_a, r.id_b, r[col])
                     for r in fn(docs, k=5, threshold=0.5).collect())
        clear_dedup_caches()
        return out

    for docs in (small, multi):
        fast_c = run(ngram_containment_pairs, "containment", docs)
        fast_j = run(ngram_jaccard_pairs, "jaccard", docs)
        with monkeypatch.context() as m:
            m.setattr(D, "collect_if_small", lambda *a, **k: None)
            slow_c = run(ngram_containment_pairs, "containment", docs)
            slow_j = run(ngram_jaccard_pairs, "jaccard", docs)
            m.setattr(D, "_arrow_gate", lambda *a, **k: False)
            join_c = run(ngram_containment_pairs, "containment", docs)
            join_j = run(ngram_jaccard_pairs, "jaccard", docs)
        assert fast_c == slow_c == join_c and len(fast_c) > 0
        assert fast_j == slow_j == join_j and len(fast_j) > 0
    # the direct path really engaged: pair generation is driven by a
    # Range scan over row blocks, not a shingle self-join
    plan = ngram_jaccard_pairs(multi, k=5, threshold=0.5) \
        ._jdf.queryExecution().executedPlan().toString()
    clear_dedup_caches()
    assert "Range (0" in plan


def test_minhash_allpairs_matches_banded_join(spark, monkeypatch):
    """The direct signature-pair enumeration must replay the banded
    LSH join exactly: band collision (slice equality), est rounding,
    the rounded >= threshold filter, and `a.id < b.id` orientation
    (NULL text / NULL-signature and duplicate-id rows never pair at
    the rep level; collision is id-grain, as the join's candidate
    DISTINCT on ids makes it).  Checked across thresholds incl. 0.0,
    where output still requires a band collision, on a corpus inside
    one 64-row block and on one split across three."""
    from yardstick_spark.llm import clear_dedup_caches, minhash_lsh_pairs
    from yardstick_spark.llm import dedup as D

    rows = [(i, "abcde" * (3 + i % 5) + "fghij" * (i % 3)
             + "klmno" * (i % 4)) for i in range(40)]
    rows += [(100, "abcde abcde xyzzy"), (101, "abcde abcde xyzzy"),
             (102, "qqqqq wwwww abcde"), (102, "qqqqq wwwww vwxyz"),
             (103, None), (104, None), (105, "")]
    # id 200's second row shares no band with id 201 but estimates
    # 0.59375: the join's id-grain candidate still pairs it
    rows += [(200, "idcd ehfch ibjda efiahd cjjh efiahd ebfe caad ccef "
                   "efiahd"),
             (200, "idcd ehfch ebfe efiahd cjjh efiahd ehfch caad ccef "
                   "efiahd"),
             (201, "idcd ehfch ibjda efiahd cjjh efiahd ehfch caad ccef "
                   "efiahd")]
    small = spark.createDataFrame(rows, "doc_id long, text string")
    multi = spark.createDataFrame(_multiblock_rows(),
                                  "doc_id long, text string")
    _assert_multiblock_reps(D._family_collapse(
        D.minhash_signatures(multi, k=5), "signature")[0]
        .filter(F.col("id").isNotNull()))
    clear_dedup_caches()

    def run(th, docs):
        p = sorted((r.id_a, r.id_b, r.est_jaccard)
                   for r in minhash_lsh_pairs(
                       docs, k=5, threshold=th).collect())
        clear_dedup_caches()
        return p

    for docs, ths in ((small, (0.0, 0.5, 0.9)), (multi, (0.5, 0.9))):
        for th in ths:
            fast = run(th, docs)
            with monkeypatch.context() as m:
                m.setattr(D, "collect_if_small", lambda *a, **k: None)
                slow = run(th, docs)
            assert fast == slow and (len(fast) > 0 or th == 0.9), th
    # a bucket-size cap must route back to the join path (dropped
    # buckets are a property of real buckets)
    capped = minhash_lsh_pairs(small, k=5, threshold=0.5,
                               max_bucket_size=3)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    clear_dedup_caches()
    assert "Range (0" not in plan


def test_fuzzy_collapse_matches_record_grain(spark, monkeypatch):
    """The identical-string family collapse in fuzzy_dedup_pairs must
    reproduce the record-grain pair list exactly: same pairs, same
    edit values, including intra-family edit-0 pairs, the weighted
    max_block cap (families straddling the cap), NULL/empty strings
    (never pair), and the unique-id gate (duplicate or NULL ids fall
    back to the record-grain path)."""
    from yardstick_spark.llm import fuzzy_dedup_pairs
    from yardstick_spark.llm import fuzzy as FZ
    from yardstick_spark.llm.dedup import clear_dedup_caches

    rows = []
    for i in range(30):
        rows.append((i, f"acme widget type{i % 3}"))       # 3 families x10
    rows += [(100, "acme widget typo0"), (101, "acme gadget type0"),
             (102, None), (103, ""), (104, "   "),
             (105, "zzz unique name")]
    docs = spark.createDataFrame(rows, "rid long, name string")

    def run(me, mb):
        out = sorted(tuple(r) for r in fuzzy_dedup_pairs(
            docs, "rid", "name", max_edit=me, len_bucket=4,
            max_block=mb).collect())
        clear_dedup_caches()
        return out

    for me, mb in ((0, 10_000), (1, 10_000), (2, 10_000),
                   (1, 12), (1, 5)):  # 12/5 straddle the family sizes
        fast = run(me, mb)
        with monkeypatch.context() as m:
            m.setattr(FZ, "_collapsed_pairs", lambda *a, **k: None)
            slow = run(me, mb)
        assert fast == slow, (me, mb)
        assert len(fast) > 0 or mb == 5, (me, mb)
    # duplicate ids: the gate must fall back, outputs still equal
    dup = docs.union(spark.createDataFrame(
        [(0, "acme widget type9")], "rid long, name string"))
    fast = sorted(tuple(r) for r in fuzzy_dedup_pairs(
        dup, "rid", "name", max_edit=1).collect())
    clear_dedup_caches()
    monkeypatch.setattr(FZ, "_collapsed_pairs", lambda *a, **k: None)
    slow = sorted(tuple(r) for r in fuzzy_dedup_pairs(
        dup, "rid", "name", max_edit=1).collect())
    clear_dedup_caches()
    assert fast == slow


def test_sid_bitmap_matches_hof(spark):
    """The numpy-scattered `vs` bitmap `_sid_sets` emits for hot-vocab
    universes must be word-for-word identical to the interpreted HOF
    aggregate it replaces (including the signed top-bit view)."""
    from yardstick_spark.llm import clear_dedup_caches
    from yardstick_spark.llm.dedup import _bits_col, _shingled, _sid_sets

    rows = [(i, "abcde" * (3 + i % 5) + "wxyz" * (i % 7))
            for i in range(25)] + [(99, None), (98, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sid_sets, universe = _sid_sets(_shingled(docs, "text", "doc_id", 5))
    assert universe <= 4096 and "vs" in sid_sets.columns
    got = {r["id"]: r["vs"] for r in sid_sets.select("id", "vs").collect()}
    no_vs = sid_sets.drop("vs")
    ref = {r["id"]: r["vs"] for r in
           no_vs.select("id", _bits_col(no_vs, universe)).collect()}
    clear_dedup_caches()
    assert got == ref and len(got) > 0
    # the top bit exercises the signed int64 view when universe >= 64
    assert any(any(w < 0 for w in v) for v in got.values()) or universe < 64


def test_incremental_allpairs_matches_probe_join(spark, monkeypatch):
    """The direct batch-matrix probe must replay the bucket-probe join
    exactly: id-grain candidate collision on BOTH sides (duplicate-id
    rows OR their collisions, output fans back out per signature row),
    est rounding, SQL `c.id != n.id`, NULL text / NULL id exclusion."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     incremental_minhash_pairs)
    from yardstick_spark.llm import dedup as D

    base = [(i, "abcde" * (3 + i % 5) + "fghij" * (i % 3)
             + "klmno" * (i % 4)) for i in range(30)]
    corpus = spark.createDataFrame(
        base[6:] + [(200, "abcde abcde xyzzy"),
                    (200, "zzzzz abcde abcde xyzzy"),  # dup corpus id
                    (201, None), (None, "abcde" * 4), (202, ""),
                    (5, "abcde" * 8)],  # id also in the batch
        "doc_id long, text string")
    new = spark.createDataFrame(
        base[:6] + [(300, "abcde abcde xyzzy"),
                    (300, "abcde abcde xyzzy qqqqq"),  # dup batch id
                    (301, None), (None, "abcde" * 4)],
        "doc_id long, text string")

    def run(th):
        out = sorted((r.new_id, r.corpus_id, r.est_jaccard)
                     for r in incremental_minhash_pairs(
                         new, corpus, threshold=th).collect())
        clear_dedup_caches()
        return out

    for th in (0.2, 0.5, 0.9):
        fast = run(th)
        with monkeypatch.context() as m:
            m.setattr(D, "collect_if_small", lambda *a, **k: None)
            slow = run(th)
        assert fast == slow and (len(fast) > 0 or th == 0.9), th
    # the direct path really engaged: no banded bucket join
    plan = incremental_minhash_pairs(
        new, corpus, threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    clear_dedup_caches()
    assert "bhash" not in plan
    # a corpus bucket cap routes back to the join path
    plan = incremental_minhash_pairs(
        new, corpus, threshold=0.5, max_bucket_size=3
    )._jdf.queryExecution().executedPlan().toString()
    clear_dedup_caches()
    assert "bhash" in plan


def test_incremental_allpairs_corpus_dup_id_window(spark, monkeypatch):
    """Surgical pin of the id-grain OR on the CORPUS side: a corpus id
    with one row that collides (but scores below threshold) and one
    row that scores above threshold (but does not collide) must emit
    the scoring row — the join path's candidate DISTINCT + join-back
    fan-out does exactly that, and the Arrow path's tombstone window
    must replay it.  A lone above-threshold non-colliding row (id 11)
    must NOT emit on either path."""
    from yardstick_spark.llm import clear_dedup_caches
    from yardstick_spark.llm import dedup as D
    from yardstick_spark.llm.dedup import _banded_buckets, _probe_and_verify

    n1 = [1, 2, 3, 4, 5, 6, 7, 8]
    c_score = [1, 99, 3, 98, 5, 97, 7, 96]   # est 0.5, no full band
    c_coll = [1, 2, 90, 91, 92, 93, 94, 95]  # band 0 equal, est 0.25
    corp = spark.createDataFrame(
        [(10, c_score), (10, c_coll), (11, c_score)],
        "id long, signature array<bigint>")
    new = spark.createDataFrame([(1, n1)], "id long, signature array<bigint>")

    def run():
        out = sorted(tuple(r) for r in _probe_and_verify(
            new, corp, _banded_buckets(corp, 8, 4), 8, 4, 0.5, True
        ).collect())
        clear_dedup_caches()
        return out

    fast = run()
    monkeypatch.setattr(D, "collect_if_small", lambda *a, **k: None)
    slow = run()
    assert fast == slow == [(1, 10, 0.5)]


def test_minhash_allpairs_non_divisible_bands(spark, monkeypatch):
    """num_hashes % bands != 0: the bucket join's slice() ignores the
    trailing positions, so the direct enumerations must trim the same
    way instead of crashing on the reshape (ADVICE r11, reproduced:
    'cannot reshape array of size 32 into shape (1,1,5,6)')."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     incremental_minhash_pairs,
                                     minhash_lsh_pairs)
    from yardstick_spark.llm import dedup as D

    rows = [(i, "abcde" * (3 + i % 5) + "fghij" * (i % 3))
            for i in range(25)]
    rows += [(100, "abcde abcde xyzzy"), (101, "abcde abcde xyzzy")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run_lsh():
        out = sorted((r.id_a, r.id_b, r.est_jaccard)
                     for r in minhash_lsh_pairs(
                         docs, k=5, num_hashes=32, bands=5,
                         threshold=0.3).collect())
        clear_dedup_caches()
        return out

    fast = run_lsh()
    with monkeypatch.context() as m:
        m.setattr(D, "collect_if_small", lambda *a, **k: None)
        slow = run_lsh()
    assert fast == slow and len(fast) > 0

    new = spark.createDataFrame(rows[:5], "doc_id long, text string")
    corp = spark.createDataFrame(rows[5:], "doc_id long, text string")

    def run_inc():
        out = sorted((r.new_id, r.corpus_id, r.est_jaccard)
                     for r in incremental_minhash_pairs(
                         new, corp, num_hashes=32, bands=5,
                         threshold=0.3).collect())
        clear_dedup_caches()
        return out

    fast = run_inc()
    with monkeypatch.context() as m:
        m.setattr(D, "collect_if_small", lambda *a, **k: None)
        slow = run_inc()
    assert fast == slow and len(fast) > 0

    # bands > num_hashes is degenerate (every band an empty slice, so
    # the bucket join collides EVERYTHING); the fast path must route
    # to the join, where those semantics live
    deg = minhash_lsh_pairs(docs, k=5, num_hashes=4, bands=8,
                            threshold=0.0)
    plan = deg._jdf.queryExecution().executedPlan().toString()
    clear_dedup_caches()
    assert "Range (0" not in plan


def test_allpairs_empty_shingle_universe(spark):
    """A corpus whose every doc shingles to EMPTY (all-NULL text) has
    universe == 0 — the ppjoin gates must yield empty pair sets, not
    ZeroDivisionError (ADVICE r11, _arrow_gate / _allpairs_r_max)."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs)

    docs = spark.createDataFrame(
        [(i, None) for i in range(5)], "doc_id long, text string")
    assert ngram_jaccard_pairs(docs, k=5, threshold=0.5).count() == 0
    clear_dedup_caches()
    assert ngram_containment_pairs(docs, k=5, threshold=0.5).count() == 0
    clear_dedup_caches()

