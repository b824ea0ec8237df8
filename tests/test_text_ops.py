"""Golden unit tests for the Gopher-style filter, PII redaction, and
corpus top-terms operators (oracle parity is covered by oracle_diff)."""

from __future__ import annotations

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_gopher_filter_verdicts(spark):
    from yardstick_spark.llm import gopher_filter

    rows = [
        # healthy doc: stopwords present, varied bigrams, enough words
        (1, "the quick brown fox jumps over the lazy dog and then "
            "it runs far away to the old mill near the river bank"),
        # repetition: one bigram dominates -> fails top_bigram_frac
        (2, "the spam ham " + "spam ham " * 20),
        # too short
        (3, "the tiny doc"),
        # no stopwords at all
        (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_filter(_docs(spark, rows), min_stop_hits=1).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False
    assert out[2]["top_bigram_frac"] > 0.4
    assert out[3]["keep"] is False and out[3]["n_words"] == 3
    assert out[4]["keep"] is False and out[4]["stop_hits"] == 0
    assert abs(out[1]["mean_word_len"] - (
        sum(len(w) for w in rows[0][1].split())
        / len(rows[0][1].split()))) < 1e-6


def test_pii_redact_counts_and_placeholders(spark):
    from yardstick_spark.llm import pii_redact

    rows = [
        (1, "mail me at jane.doe+x@corp.example.org thanks"),
        (2, "server 10.0.42.7 and backup 192.168.1.254 are down"),
        (3, "call +44 207 946 0958 today"),
        (4, "nothing sensitive here"),
    ]
    out = {r["doc_id"]: r.asDict()
           for r in pii_redact(_docs(spark, rows)).collect()}
    assert out[1]["n_email"] == 1 and "[EMAIL]" in out[1]["redacted"]
    assert "jane" not in out[1]["redacted"]
    assert out[2]["n_ipv4"] == 2
    assert out[2]["redacted"].count("[IPV4]") == 2
    assert out[3]["n_phone"] == 1 and "[PHONE]" in out[3]["redacted"]
    assert out[4]["redacted"] == rows[3][1]
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (0, 0, 0)


def test_chunk_documents_windows(spark):
    from yardstick_spark.llm import chunk_documents

    words = " ".join(f"w{i}" for i in range(1, 34))  # 33 tokens
    rows = [(1, words), (2, "short doc"), (3, " ".join(["x"] * 8))]
    out = chunk_documents(_docs(spark, rows), chunk_tokens=32,
                          overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 33 tokens, stride 24 -> 2 chunks: [1..32], [25..33]
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in c1] == [0, 1]
    assert c1[0]["chunk_text"].split()[:2] == ["w1", "w2"]
    assert c1[0]["n_tokens"] == 32
    assert c1[1]["chunk_text"].split() == [f"w{i}" for i in range(25, 34)]
    # overlap: last 8 tokens of chunk 0 = first 8 of chunk 1
    assert c1[0]["chunk_text"].split()[-8:] == c1[1]["chunk_text"].split()[:8]
    # short docs emit exactly one chunk, even below the overlap size
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "short doc"
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 8


def test_sample_mixture_deterministic_rates(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import sample_mixture

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 2)).alias("source"),
        F.lit("text").alias("text"),
    )
    out = sample_mixture(docs, {"src0": 1.0, "src1": 0.25})
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["src0"] == 2000            # rate 1.0 keeps everything
    assert 350 <= counts.get("src1", 0) <= 650   # ~25% of 2000
    # deterministic: same seed -> identical ids; default rate 0 drops
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in sample_mixture(
        docs, {"src0": 1.0, "src1": 0.25}).collect()}
    assert a == b
    none = sample_mixture(docs, {}, default_rate=0.0)
    assert none.count() == 0


def test_top_terms_df_ordering(spark):
    from yardstick_spark.llm import top_terms

    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana"),
        (3, "apple apple apple date"),  # repeats count once per doc
    ]
    got = [(r["term"], r["df"])
           for r in top_terms(_docs(spark, rows), limit=3).collect()]
    assert got == [("apple", 3), ("banana", 2), ("cherry", 1)]


def test_decontaminate_planted_overlap(spark):
    from yardstick_spark.llm import decontaminate

    bench = _docs(spark, [
        (100, "the secret benchmark answer is forty two exactly"),
    ])
    corpus = _docs(spark, [
        # verbatim 8-gram from the benchmark -> contaminated
        (1, "padding words here the secret benchmark answer is forty "
            "two exactly and more padding follows"),
        # shares words but no 8-gram run -> clean
        (2, "the benchmark secret answer two forty is exactly but "
            "shuffled so no long run survives here at all"),
        # shorter than n words -> zero grams, clean, still present
        (3, "too short"),
    ])
    out = {r["doc_id"]: r.asDict()
           for r in decontaminate(corpus, bench, n=8).collect()}
    assert out[1]["contaminated"] is True and out[1]["n_hits"] == 1
    assert out[2]["contaminated"] is False and out[2]["n_hits"] == 0
    assert out[3]["n_grams"] == 0 and out[3]["contaminated"] is False
    assert 0.0 < out[1]["hit_frac"] <= 1.0


def test_decontaminate_bench_side_broadcasts(spark):
    from yardstick_spark.llm import decontaminate
    from yardstick_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 <> 0")
    plan = explain_str(decontaminate(corpus, bench, n=4))
    # the eval-set gram relation must be the broadcast side so the
    # corpus probe stays map-side at 100 TB
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_empty_benchmark(spark):
    # an empty eval set must yield zero hits for every document, not an
    # error or dropped rows
    from yardstick_spark.llm import decontaminate

    corpus = _docs(spark, [(1, "some training text here for the corpus "
                               "with enough words to form grams")])
    bench = _docs(spark, []).filter("doc_id IS NOT NULL")
    out = decontaminate(corpus, bench, n=4).collect()
    assert len(out) == 1
    assert out[0]["n_hits"] == 0 and out[0]["contaminated"] is False
    assert out[0]["n_grams"] > 0


def test_curation_report_custom_source_col_no_nchars(spark):
    # regression for the review finding: a non-default source_col and a
    # corpus without n_chars must both work (chars from length(text))
    from pyspark.sql import functions as F

    from yardstick_spark.llm import curation_report

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id", "text", F.col("source").alias("origin")
    )
    rep = curation_report(base, {"src0": 1.0, "src1": 1.0, "src2": 1.0},
                          source_col="origin", default_rate=1.0)
    rows = rep.collect()
    assert rows and rep.columns == ["origin", "n_docs", "total_chars"]
    assert all(r["total_chars"] > 0 for r in rows)


def test_repetition_stats_known_fractions(spark):
    from yardstick_spark.llm import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")],
        "doc_id BIGINT, text STRING",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 4
    # words {a:3, b:1}: distinct 2/4; bigrams [a a, a a, a b]: distinct 2/3
    assert r1["dup_word_frac"] == 0.5
    assert r1["dup_bigram_frac"] == round(1 - 2 / 3, 6)
    assert r1["top_word_frac"] == 0.75
    # repeats after first: 'a' twice -> 2 chars of 4 total word chars
    assert r1["dup_char_frac"] == 0.5
    r2 = rows[2]
    assert r2["dup_word_frac"] == 0.0
    assert r2["dup_bigram_frac"] == 0.0
    assert r2["dup_char_frac"] == 0.0


def test_repetition_stats_drops_empty_docs(spark):
    # the oracle reaches repetition stats through an unnested word
    # table (inner join) — empty/whitespace-only docs have no word
    # rows there, so the Spark side must drop them too
    from yardstick_spark.llm import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a a"), (2, ""), (3, "   "), (4, None)],
        "doc_id BIGINT, text STRING",
    )
    ids = [r["doc_id"] for r in repetition_stats(docs).collect()]
    assert ids == [1]


def test_source_quota_caps_and_prunes_map_side(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import source_quota
    from yardstick_spark.plans import explain_str

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source"
    )
    out = source_quota(docs, per_source=7)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(v == 7 for v in counts.values())
    # determinism across runs
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, source_quota(docs, per_source=7).collect()))
    assert a == b
    assert "WindowGroupLimit" in explain_str(out), (
        "quota rank must prune map-side"
    )


def test_tfidf_planted_rare_term_ranks_first(spark):
    from yardstick_spark.llm import tfidf_terms

    common = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, common + (" zyzzyva" if i == 0 else "")) for i in range(10)],
        "doc_id BIGINT, text STRING",
    )
    top = {(r["doc_id"], r["term_rank"]): r["term"]
           for r in tfidf_terms(docs, top_k=2).collect()}
    assert top[(0, 1)] == "zyzzyva"  # df=1 dominates any common term


def test_incremental_minhash_finds_cross_corpus_dup(spark, monkeypatch):
    from yardstick_spark.llm import clear_dedup_caches, incremental_minhash_pairs
    from yardstick_spark.plans import explain_str

    clear_dedup_caches()
    base = ("spark shuffles data between stages when aggregations need "
            "all values for one key together in a single place")
    corpus = spark.createDataFrame(
        [(1, base), (2, "entirely different content about databases and "
                        "storage engines with columnar layouts")],
        "doc_id BIGINT, text STRING",
    )
    new = spark.createDataFrame(
        [(100, base), (101, "yet another unrelated document mentioning "
                            "nothing similar at all whatsoever")],
        "doc_id BIGINT, text STRING",
    )
    pairs = incremental_minhash_pairs(new, corpus, threshold=0.5)
    got = [(r["new_id"], r["corpus_id"]) for r in pairs.collect()]
    assert got == [(100, 1)]
    # default path: the direct batch-matrix probe — no bucket join at
    # all (the batch matrix rides a Spark broadcast variable, so the
    # corpus side is one scan either way)
    assert "bhash" not in explain_str(pairs)
    clear_dedup_caches()
    # join path (oversized batches / capped buckets): the batch side
    # broadcasts, the corpus side must not
    from yardstick_spark.llm import dedup as D

    monkeypatch.setattr(D, "collect_if_small", lambda *a, **k: None)
    jpairs = incremental_minhash_pairs(new, corpus, threshold=0.5)
    jgot = [(r["new_id"], r["corpus_id"]) for r in jpairs.collect()]
    assert jgot == got
    assert "BroadcastHashJoin" in explain_str(jpairs)
    clear_dedup_caches()


def test_split_corpus_deterministic_and_weighted(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import split_corpus

    docs = spark.range(2000).selectExpr("id AS doc_id")
    out = split_corpus(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 2000 < 0.85
    # stable under repartitioning (unlike randomSplit)
    a = sorted(map(tuple, out.select("doc_id", "split").collect()))
    b = sorted(map(tuple,
                   split_corpus(docs.repartition(13),
                                {"train": 0.8, "val": 0.1, "test": 0.1})
                   .select("doc_id", "split").collect()))
    assert a == b
    # a different seed reshuffles assignments
    c = split_corpus(docs, {"train": 0.8, "val": 0.1, "test": 0.1},
                     seed="v2").select("doc_id", "split")
    assert sorted(map(tuple, c.collect())) != a


def test_split_corpus_rejects_injectable_names(spark):
    import pytest

    from yardstick_spark.llm import split_corpus

    docs = spark.range(5).selectExpr("id AS doc_id")
    with pytest.raises(ValueError, match="may not contain"):
        split_corpus(docs, {"tra'in": 1.0})
    with pytest.raises(ValueError, match="may not contain"):
        split_corpus(docs, {"train": 1.0}, seed="x' OR '1")


def test_decontaminate_bloom_superset_of_exact(spark):
    # bloom verdicts must contain every exact verdict (no false
    # negatives) and over-flag only a bounded fraction
    from yardstick_spark.llm import decontaminate, decontaminate_bloom

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("source = 'src0' AND doc_id % 10 = 0")
    corpus = docs.filter("NOT (source = 'src0' AND doc_id % 10 = 0)")
    exact = {r["doc_id"]: r for r in
             decontaminate(corpus, bench, n=4).collect()}
    bloom = {r["doc_id"]: r for r in
             decontaminate_bloom(corpus, bench, n=4).collect()}
    assert set(exact) == set(bloom)
    fp = 0
    for did, er in exact.items():
        br = bloom[did]
        assert br["n_grams"] == er["n_grams"]
        assert br["n_hits"] >= er["n_hits"], "bloom lost a true hit"
        if er["contaminated"]:
            assert br["contaminated"], "bloom must never under-flag"
        elif br["contaminated"]:
            fp += 1
    assert fp <= max(2, len(exact) // 20), f"too many false positives: {fp}"


def test_source_quota_order_col_keeps_best(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import source_quota

    docs = spark.range(60).selectExpr(
        "id AS doc_id", "concat('s', id % 2) AS source",
        "CAST(id AS DOUBLE) AS quality",
    )
    out = source_quota(docs, per_source=5, order_col="quality")
    kept = sorted(r["doc_id"] for r in out.collect())
    # highest-quality = highest ids in each of the two sources
    assert kept == sorted(list(range(50, 60)))


def test_pack_sequences_covers_stream_exactly(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import pack_sequences, token_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = pack_sequences(docs, max_tokens=64)
    total_tokens = (token_stats(docs).agg(F.sum("n_tokens")).collect()[0][0])
    # every token lands in exactly one (doc, seq) span
    assert packed.agg(F.sum("n_tok")).collect()[0][0] == total_tokens
    # every sequence except the last is exactly full
    per_seq = {r["seq_id"]: r["s"] for r in
               packed.groupBy("seq_id").agg(F.sum("n_tok").alias("s")).collect()}
    last = max(per_seq)
    assert all(v == 64 for k, v in per_seq.items() if k != last)
    assert 0 < per_seq[last] <= 64
    # spans within a doc are contiguous from zero
    bad = packed.groupBy("doc_id").agg(
        F.min("doc_tok_start").alias("mn"),
        (F.sum("n_tok")).alias("tot"),
        (F.max(F.col("doc_tok_start") + F.col("n_tok"))).alias("end"),
    ).filter("mn <> 0 OR tot <> end").count()
    assert bad == 0
    # stable under a different input partitioning (two-phase cumsum)
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple,
                   pack_sequences(docs.repartition(7), max_tokens=64)
                   .collect()))
    assert a == b


def test_fingerprint_overlap_detects_copied_passage(spark):
    from yardstick_spark.llm import fingerprint_overlap_pairs

    passage = ("the quick brown fox jumps over the lazy dog while the "
               "cat watches from a warm windowsill nearby every day "
               "without fail during the long summer afternoons")
    docs = spark.createDataFrame(
        [
            (1, "intro text first " + passage + " closing remarks here"),
            (2, "completely different framing then " + passage),
            (3, "no shared content at all just unrelated words about "
                "databases indexes and storage engines running fast"),
        ],
        "doc_id BIGINT, text STRING",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             fingerprint_overlap_pairs(docs, min_shared=1).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_fingerprint_overlap_max_df_caps_hot_prints(spark):
    from yardstick_spark.llm import (
        clear_dedup_caches, fingerprint_overlap_pairs,
    )

    clear_dedup_caches()
    boiler = ("one two three four five six seven eight nine ten eleven "
              "twelve thirteen fourteen fifteen sixteen seventeen eighteen "
              "nineteen twenty")
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(30)], "doc_id BIGINT, text STRING"
    )
    assert fingerprint_overlap_pairs(docs, min_shared=1).count() == 30 * 29 // 2
    assert fingerprint_overlap_pairs(docs, min_shared=1, max_df=10).count() == 0
    clear_dedup_caches()


def test_pipeline_caches_do_not_accumulate(spark):
    # operators register cache barriers in the sparkutil registry; a
    # long-lived session that clears between runs must not grow the JVM's
    # persisted-RDD set run over run (the documented lifecycle contract
    # in yardstick_spark.llm.__doc__)
    from yardstick_spark.llm import clear_dedup_caches
    from yardstick_spark.llm.pipeline import curate_corpus_full

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jsc = spark.sparkContext._jsc.sc()

    def run_once():
        curate_corpus_full(
            docs, {"web": 0.5}, default_rate=0.5,
            max_dup_word_frac=0.9, per_source=50,
            splits={"train": 0.9, "val": 0.1},
        ).count()
        clear_dedup_caches()

    run_once()
    baseline = jsc.getPersistentRDDs().size()
    for _ in range(3):
        run_once()
    assert jsc.getPersistentRDDs().size() <= baseline


def test_temperature_mixture_weights_math(spark):
    from yardstick_spark.llm import temperature_mixture_weights

    # 3 sources with 80/15/5 shares
    rows = [(i, "t", "a" if i < 80 else ("b" if i < 95 else "c"))
            for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                 "source string")
    out = {r["source"]: r for r in
           temperature_mixture_weights(docs, alpha=0.5).collect()}
    # shares preserved
    assert out["a"]["share"] == 0.8 and out["c"]["share"] == 0.05
    # alpha < 1 flattens: rare source's weight rises above its share,
    # dominant source's falls below
    assert out["c"]["weight"] > 0.05 and out["a"]["weight"] < 0.8
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-5
    # rates: most-upsampled source keeps everything, others downsample
    assert out["c"]["rate"] == 1.0
    assert out["a"]["rate"] < out["b"]["rate"] < 1.0
    # alpha = 1 is the identity mixture: every rate is 1
    nat = temperature_mixture_weights(docs, alpha=1.0).collect()
    assert all(r["rate"] == 1.0 for r in nat)
    import pytest

    with pytest.raises(ValueError):
        temperature_mixture_weights(docs, alpha=0.0)


def test_unigram_logprob_known_values(spark):
    import math

    from yardstick_spark.llm import unigram_logprob

    # corpus: 4 tokens total; p(a)=3/4, p(b)=1/4
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 1
    assert out[1]["nll"] == round(-math.log(0.75), 6)
    assert out[2]["nll"] == round(-math.log(0.25), 6)


def test_semantic_dedup_within_cell_complete(spark):
    # every within-cell pair at/above threshold must be reported —
    # recall loss may only come from pairs split across cells
    from pyspark.sql import functions as F

    from yardstick_spark.llm import semantic_dedup_pairs
    from yardstick_spark.llm.ivf import assign_cells, seed_centroids, _as_vec

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    got = {(r["id_a"], r["id_b"]) for r in
           semantic_dedup_pairs(emb, threshold=0.3, n_lists=4).collect()}
    # brute-force the same cells
    cents = seed_centroids(emb, n_lists=4)
    asg = assign_cells(
        emb.select(F.col("vec_id").alias("id"),
                   F.expr(_as_vec("embedding")).alias("arr")),
        cents)
    cos = ("round(aggregate(zip_with(a.arr, b.arr, (x, y) -> x * y), 0D, "
           "(s, v) -> s + v) / (sqrt(aggregate(a.arr, 0D, (s, v) -> "
           "s + v * v)) * sqrt(aggregate(b.arr, 0D, (s, v) -> "
           "s + v * v))), 4)")
    want = {(r["id_a"], r["id_b"]) for r in
            asg.alias("a").join(
                asg.alias("b"),
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.expr(cos).alias("sim"))
            .filter("sim >= 0.3").collect()}
    assert got == want and got


def test_semantic_dedup_boundary_probe_recovers_split_pair(spark):
    """Planted boundary pair: two blobs sit exactly at (10,0,..) and
    (0,10,..) (donor-engineered so each of the n_lists=2 seed cells is
    one blob), and a near-dup pair straddles the bisecting hyperplane
    (cos 0.9996, margin ratio 0.02).  Single assignment splits the
    pair across cells and misses it — the LIMITATIONS §12 recall loss
    — while boundary_eps=0.05 probes the runner-up cell and recovers
    it.  Recall vs the exact all-pairs scorer goes below-1 -> 1.0, the
    multi-probe output is a strict SUPERSET of single assignment, and
    eps=0 remains bit-identical to the default path (the oracled
    dedup_semantic contract)."""
    import hashlib

    from yardstick_spark.llm import semantic_dedup_pairs

    n_lists, dim, n = 2, 4, 40

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15],
                   16) % n_lists

    donors = {}
    for i in range(n):
        donors.setdefault(bucket(i), i)
    assert len(donors) == 2  # both cells seeded
    # the bucket-0 donor's blob is A, the other blob B — so the two
    # seed centroids are exactly the two blob points
    blob_of = {b: k for k, b in enumerate(sorted(donors))}
    A = [10.0, 0.0] + [0.0] * (dim - 2)
    B = [0.0, 10.0] + [0.0] * (dim - 2)
    rows = [(i, A if blob_of[bucket(i)] == 0 else B) for i in range(n)]
    d = 0.05
    rows += [(1000, [5.0 + d, 5.0 - d] + [0.0] * (dim - 2)),
             (1001, [5.0 - d, 5.0 + d] + [0.0] * (dim - 2))]
    # ids 1000/1001 exceed every existing id, so donor (= min-id per
    # bucket) selection — and therefore the centroids — are unchanged
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")

    single = {(r.id_a, r.id_b) for r in semantic_dedup_pairs(
        emb, threshold=0.9, n_lists=n_lists).collect()}
    probed = {(r.id_a, r.id_b) for r in semantic_dedup_pairs(
        emb, threshold=0.9, n_lists=n_lists,
        boundary_eps=0.05).collect()}
    # exact reference: all-pairs cosine >= 0.9.  Blob-internal pairs
    # are identical vectors (sim 1); cross-blob pairs are orthogonal
    # (sim 0); planted-vs-blob is cos ~ 0.71 < 0.9; the planted pair
    # itself is cos (25 - d^2)/(25 + d^2) ~ 0.9998 >= 0.9
    ids_a = sorted(i for i, v in rows if i < n and v[0] > v[1])
    ids_b = sorted(i for i, v in rows if i < n and v[0] < v[1])
    exact = {(x, y) for grp in (ids_a, ids_b)
             for x in grp for y in grp if x < y}
    exact.add((1000, 1001))
    assert (1000, 1001) not in single  # the documented recall loss
    assert (1000, 1001) in probed      # recovered by the probe
    assert single < probed             # strict superset, nothing lost
    assert len(probed & exact) / len(exact) == 1.0
    assert len(single & exact) / len(exact) < 1.0
    # eps=0 is bit-identical to the default single-assignment path
    z = {(r.cell, r.id_a, r.id_b, r.sim) for r in semantic_dedup_pairs(
        emb, threshold=0.9, n_lists=n_lists, boundary_eps=0.0).collect()}
    w = {(r.cell, r.id_a, r.id_b, r.sim) for r in semantic_dedup_pairs(
        emb, threshold=0.9, n_lists=n_lists).collect()}
    assert z == w


def test_assign_cells_boundary_cells(spark):
    """assign_cells_boundary keeps the nearest cell, adds the runner-up
    when the vector is within the relative margin (an exact tie, margin
    0, probes both; ties order by the lower cell id), keeps an interior
    vector single, and gives a NULL vector a NULL cell array."""
    import yardstick_spark.llm.ivf as ivf

    cents = spark.createDataFrame(
        [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [-10.0, 0.0])],
        "cell int, centroid array<double>")
    vecs = spark.createDataFrame(
        [(1, [9.0, 1.0]), (2, [5.05, 4.95]), (3, [5.0, 5.0]),
         (4, None), (5, [0.0, 0.0])],
        "id long, arr array<double>")
    got = {r.id: r.cells and list(r.cells) for r in
           ivf.assign_cells_boundary(vecs, cents, 0.05).collect()}
    assert got[3] == [0, 1]  # exact tie: margin 0 probes both
    assert got[2] == [0, 1]  # boundary vector probes runner-up
    assert got[1] == [0]     # interior vector stays single
    assert got[4] is None    # NULL vector: no placeable cell
    assert got[5] == [0, 1]  # equidistant from all three: lowest two


def test_semantic_dedup_verdicts_min_id_priority(spark):
    from yardstick_spark.llm import (
        semantic_dedup_pairs, semantic_dedup_verdicts,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    pairs = semantic_dedup_pairs(emb, threshold=0.3, n_lists=4).collect()
    dup_ids = {r["id_b"] for r in pairs}
    got = {r["vec_id"] for r in
           semantic_dedup_verdicts(emb, threshold=0.3, n_lists=4)
           .filter("is_duplicate").collect()}
    assert got == dup_ids and got


def test_temperature_weights_invariants(spark):
    # invariants across a skewed random share distribution: weights
    # are a distribution, order-preserving in share, and flattened
    # toward uniform relative to the raw shares
    from pyspark.sql import functions as F

    from yardstick_spark.llm import temperature_mixture_weights

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.lit("t").alias("text"),
        F.expr("CAST(CAST(floor(sqrt(id)) AS BIGINT) % 9 AS STRING)")
        .alias("source"),
    )
    rows = temperature_mixture_weights(docs, alpha=0.4).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    by_share = sorted(rows, key=lambda r: r["share"])
    weights = [r["weight"] for r in by_share]
    assert weights == sorted(weights)  # order preserved
    for r in rows:  # alpha < 1 compresses toward uniform
        if r["share"] > 1 / len(rows):
            assert r["weight"] <= r["share"] + 1e-6
        elif r["share"] < 1 / len(rows):
            assert r["weight"] >= r["share"] - 1e-6
    assert max(r["rate"] for r in rows) == 1.0


def test_unigram_logprob_invariants(spark):
    # nll >= 0 always; a doc made of the corpus's most common token
    # scores the corpus-wide minimum
    from pyspark.sql import functions as F

    from yardstick_spark.llm import unigram_logprob

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    out = unigram_logprob(docs)
    assert out.filter("nll < 0").count() == 0
    assert out.count() == docs.filter(
        "size(filter(split(regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
        ", ' '), t -> t <> '')) > 0").count()


def test_sample_weighted_es_properties(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import sample_weighted
    from yardstick_spark.plans import explain_str

    # 2000 docs: half weight 1, half weight 50 — heavy docs must
    # dominate the sample far beyond their 50% population share
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.expr("IF(id % 2 = 0, 1, 50)").alias("w"),
    )
    got = sample_weighted(docs, k=200, weight_col="w")
    rows = got.collect()
    assert len(rows) == 200
    heavy = sum(1 for r in rows if r["weight"] == 50.0)
    assert heavy > 170, f"weight-50 docs won only {heavy}/200"
    # deterministic + partition-layout independent
    again = sample_weighted(docs.repartition(13), k=200, weight_col="w")
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in again.collect())
    # zero/negative/null weights never win
    dirty = docs.withColumn(
        "w", F.expr("IF(doc_id < 100, 0, IF(doc_id < 200, -5, w))"))
    winners = {r["doc_id"] for r in
               sample_weighted(dirty, k=500, weight_col="w").collect()}
    assert all(i >= 200 for i in winners)
    # global top-k runs as a per-partition partial (no full sort)
    assert "TakeOrderedAndProject" in explain_str(got)


def test_duplicated_spans_recovers_planted_passage(spark):
    from yardstick_spark.llm import duplicated_spans

    shared = " ".join(f"s{i}" for i in range(12))  # 12-word passage
    docs = spark.createDataFrame(
        [(1, f"a1 a2 a3 {shared} a4 a5 a6"),
         (2, f"b1 b2 b3 b4 b5 {shared} b6"),
         (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")],   # no duplication
        "doc_id INT, text STRING")
    got = {(r.doc_id): (r.start_word, r.end_word, r.span_words)
           for r in duplicated_spans(docs, n=8).collect()}
    # doc 1: passage at words 4..15; doc 2: words 6..17 — exactly the
    # planted run, nothing from the unique flanks
    assert got == {1: (4, 15, 12), 2: (6, 17, 12)}
    # whole-document duplicates: the span is the full document, end
    # clamped to the word count
    dup = spark.createDataFrame(
        [(1, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),
         (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9")], "doc_id INT, text STRING")
    got2 = {(r.doc_id): (r.start_word, r.end_word)
            for r in duplicated_spans(dup, n=8).collect()}
    assert got2 == {1: (1, 9), 2: (1, 9)}
    # self-repetition inside ONE document counts toward multiplicity
    selfrep = spark.createDataFrame(
        [(1, f"{shared} q1 q2 q3 {shared}")], "doc_id INT, text STRING")
    spans = duplicated_spans(selfrep, n=8).collect()
    assert {(r.start_word, r.end_word) for r in spans} == \
        {(1, 12), (16, 27)}


def test_char_entropy_known_values(spark):
    from yardstick_spark.llm import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "   "), (5, "")],
        "doc_id INT, text STRING")
    got = {r.doc_id: (r.n_chars_norm, r.n_distinct, r.char_entropy)
           for r in char_entropy(docs).collect()}
    assert got[1] == (4, 1, 0.0)          # constant string: 0 bits
    assert got[2] == (4, 2, 1.0)          # two equiprobable: 1 bit
    assert got[3] == (4, 4, 2.0)          # four equiprobable: 2 bits
    assert 4 not in got and 5 not in got  # whitespace/empty dropped


def test_stratified_sample_exact_counts_and_determinism(spark):
    from yardstick_spark.llm import stratified_sample

    docs = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id INT, source STRING")
    from pyspark.sql import functions as F

    out = stratified_sample(docs, ["source"], 7)
    counts = {r.source: r.n for r in
              out.groupBy("source").agg(F.count("*").alias("n"))
              .collect()}
    assert counts == {"big": 7, "small": 7}  # skew-immune equal take
    # deterministic across partition layouts
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in
               stratified_sample(docs.repartition(13), ["source"], 7)
               .collect())
    assert a == b
    # stratum smaller than n: take everything, no padding
    tiny = stratified_sample(docs.filter("doc_id >= 95"),
                             ["source"], 7)
    assert tiny.count() == 5
    # map-side partial top-k (WindowGroupLimit) in the plan
    plan = stratified_sample(docs, ["source"], 7) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_bigram_logprob_penalizes_word_salad(spark):
    from yardstick_spark.llm import bigram_logprob

    natural = "the cat sat on the mat the cat sat on the mat"
    salad = "mat the on cat sat the mat on sat cat the the"  # same bag
    docs = spark.createDataFrame(
        [(1, natural), (2, salad), (3, "solo")],
        "doc_id INT, text STRING")
    got = {r.doc_id: (r.n_bigrams, r.nll2)
           for r in bigram_logprob(docs).collect()}
    assert 3 not in got                      # no bigram positions
    assert got[1][0] == got[2][0] == 11
    # identical unigram bag, broken transitions -> strictly worse LM fit
    assert got[2][1] > got[1][1]


def test_containment_catches_supersets_jaccard_misses(spark):
    """B = A + a long boilerplate tail: containment ~ 1.0 while
    Jaccard is diluted below its threshold — the operator's reason to
    exist.  Unrelated docs stay unpaired."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs)

    a = "the quick brown fox jumps over the lazy dog again and again"
    boiler = (" this content is provided as is without warranty of any"
              " kind either express or implied including fitness for a"
              " particular purpose and noninfringement of third party"
              " rights in any jurisdiction worldwide forever")
    docs = spark.createDataFrame(
        [(1, a), (2, a + boiler * 2), (3, "completely different words"
          " about seafaring navigation and celestial charts")],
        "doc_id long, text string")
    cont = {(r.id_a, r.id_b): r.containment
            for r in ngram_containment_pairs(
                docs, k=5, threshold=0.9).collect()}
    clear_dedup_caches()
    jacc = {(r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, k=5, threshold=0.5).collect()}
    clear_dedup_caches()
    assert (1, 2) in cont and cont[(1, 2)] >= 0.9
    assert (1, 2) not in jacc          # diluted: |A|/|B| << 0.5
    assert all(3 not in p for p in cont)


def test_containment_exact_vs_bruteforce(spark):
    """Prefix-filtered result == brute-force all-pairs containment on
    a random-ish corpus (the exactness contract)."""
    from yardstick_spark.llm import clear_dedup_caches, \
        ngram_containment_pairs

    import itertools
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet"]
    docs = []
    for i in range(25):
        picks = [words[(i * 3 + j * 7) % 10] for j in range(4 + i % 5)]
        docs.append((i, " ".join(picks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.containment
           for r in ngram_containment_pairs(
               df, k=5, threshold=0.7).collect()}
    clear_dedup_caches()

    def shingles(t):
        t = " ".join(t.lower().strip().split())
        return {t[i:i + 5] for i in range(max(1, len(t) - 4))}

    want = {}
    for (i, ta), (j, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        c = len(sa & sb) / min(len(sa), len(sb))
        if c >= 0.7:
            want[(i, j)] = round(c, 6)
    assert got == want


def test_pair_generators_exact_on_replicated_corpus(spark):
    """Brute-force equality on a corpus where every doc appears 3x:
    the family-collapse path (identical shingle sets collapse to one
    representative before candidate generation, pairs re-expand
    through membership) must reproduce the uncollapsed ground truth
    exactly — within-family 1.0 pairs, cross-family pairs at the
    rep-level value, and nothing else."""
    import itertools

    from yardstick_spark.llm import (clear_dedup_caches,
                                     ngram_containment_pairs,
                                     ngram_jaccard_pairs)

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet"]
    base = []
    for i in range(15):
        picks = [words[(i * 3 + j * 7) % 10] for j in range(4 + i % 5)]
        base.append((i, " ".join(picks)))
    docs = [(i + 100 * rep, t) for rep in range(3) for i, t in base]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(t):
        t = " ".join(t.lower().strip().split())
        return {t[i:i + 5] for i in range(max(1, len(t) - 4))}

    want_j, want_c = {}, {}
    for (i, ta), (j, tb) in itertools.combinations(sorted(docs), 2):
        sa, sb = shingles(ta), shingles(tb)
        inter = len(sa & sb)
        jac = inter / len(sa | sb)
        con = inter / min(len(sa), len(sb))
        if jac >= 0.5:
            want_j[(i, j)] = round(jac, 6)
        if con >= 0.7:
            want_c[(i, j)] = round(con, 6)
    # the replicated corpus must actually exercise the collapse
    assert sum(v == 1.0 for v in want_j.values()) >= 45  # 15 * C(3,2)

    got_j = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(df, k=5, threshold=0.5)
             .collect()}
    clear_dedup_caches()
    assert got_j == want_j
    got_c = {(r.id_a, r.id_b): r.containment
             for r in ngram_containment_pairs(df, k=5, threshold=0.7)
             .collect()}
    clear_dedup_caches()
    assert got_c == want_c


def test_remove_duplicate_lines(spark):
    # CCNet-style: a line whose normalized form appears in >= min_docs
    # distinct docs is removed from EVERY doc; order and empty lines
    # are preserved; within-doc repeats alone don't trigger removal
    from yardstick_spark.llm import remove_duplicate_lines

    docs = spark.createDataFrame(
        [
            (1, "Subscribe now!\nreal content one\n\nmore text"),
            (2, "subscribe   NOW!\nreal content two"),
            (3, "solo line\nsolo line"),  # repeats only within one doc
            (4, None),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in remove_duplicate_lines(docs).collect()}
    assert 4 not in out  # NULL text contributes no row
    # "Subscribe now!" normalizes equal across docs 1+2 -> dropped
    assert out[1].clean_text == "real content one\n\nmore text"
    assert (out[1].n_lines, out[1].n_dropped) == (4, 1)
    assert out[2].clean_text == "real content two"
    assert (out[2].n_lines, out[2].n_dropped) == (2, 1)
    # within-doc repetition is not corpus boilerplate
    assert out[3].clean_text == "solo line\nsolo line"
    assert out[3].n_dropped == 0
    # all-dropped doc reassembles to '' (not NULL)
    both = spark.createDataFrame(
        [(1, "same"), (2, "same")], "doc_id BIGINT, text STRING")
    res = {r.doc_id: r.clean_text
           for r in remove_duplicate_lines(both).collect()}
    assert res == {1: "", 2: ""}


def test_remove_duplicate_lines_partition_stable(spark):
    from yardstick_spark.llm import remove_duplicate_lines

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = sorted(map(tuple, remove_duplicate_lines(docs).collect()))
    for n in (1, 7):
        alt = sorted(map(tuple, remove_duplicate_lines(
            docs.repartition(n)).collect()))
        assert alt == ref


def test_split_leakage(spark):
    # two near-identical docs that md5-land in different splits must be
    # reported exactly once, with their split labels
    from yardstick_spark.llm import split_corpus, split_leakage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    leaks = split_leakage(docs, w, k=5, threshold=0.8).collect()
    assigned = {r.doc_id: r.split
                for r in split_corpus(docs, w).collect()}
    for r in leaks:
        assert r.split_a != r.split_b
        # split labels must agree with split_corpus's assignment
        assert assigned[r.id_a] == r.split_a
        assert assigned[r.id_b] == r.split_b
        assert r.jaccard >= 0.8
    # consistency: every cross-split near-dup pair is reported
    from yardstick_spark.llm import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.8).collect()
    expect = {(p.id_a, p.id_b) for p in pairs
              if assigned[p.id_a] != assigned[p.id_b]}
    assert {(r.id_a, r.id_b) for r in leaks} == expect


def test_leakage_safe_split(spark):
    # split by cluster representative: every member of a near-dup
    # family lands in the same split, so leakage is structurally zero
    from yardstick_spark.llm import (
        leakage_safe_split, minhash_lsh_pairs, split_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    pairs = minhash_lsh_pairs(docs)
    out = leakage_safe_split(docs, w, pairs).collect()
    split_of = {r.doc_id: r.split for r in out}
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    assert len(out) == docs.count()
    for p in pairs.collect():
        assert cluster_of[p.id_a] == cluster_of[p.id_b]
        assert split_of[p.id_a] == split_of[p.id_b]
    # singleton docs key on their own id -> identical to split_corpus
    plain = {r.doc_id: r.split for r in split_corpus(docs, w).collect()}
    for r in out:
        if r.cluster_id == r.doc_id:
            assert r.split == plain[r.doc_id]


def test_dedup_keep_best(spark):
    from yardstick_spark.llm import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7)],
        "doc_id BIGINT, n_chars BIGINT")
    # one cluster {1,2,3}; 4 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    out = {r.doc_id: r for r in
           dedup_keep_best(docs, pairs, score_col="n_chars").collect()}
    # highest score wins; tie (2 vs 3 at 99) goes to the lower id
    assert [out[i].keep for i in (1, 2, 3, 4)] == [
        False, True, False, True]
    assert all(out[i].cluster_id == 1 for i in (1, 2, 3))
    assert out[4].cluster_id == 4 and out[4].score == 7
    # exactly one keeper per cluster
    keepers = [r for r in out.values() if r.keep]
    assert len({r.cluster_id for r in keepers}) == len(keepers) == 2


def test_token_budget_select(spark):
    from pyspark.sql import functions as F

    from yardstick_spark.llm import token_budget_select

    docs = spark.createDataFrame(
        [(i, "w " * (10 * (i + 1))) for i in range(6)],
        "doc_id BIGINT, text STRING")
    # explicit scores: doc 5 best, then 4, ... greedy prefix in score
    # order: tokens are 60,50,40,... budget 120 fits docs 5 (60) and
    # 4 (50) = 110; doc 3 (40) would overflow -> excluded
    scored = docs.withColumn("s", F.col("doc_id").cast("double"))
    out = token_budget_select(scored, budget=120, score_col="s")
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {5, 4}
    assert rows[5].cum_tokens == 60 and rows[4].cum_tokens == 110
    # partition stability: the two-phase cumsum must not depend on
    # input layout
    big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = sorted(map(tuple, token_budget_select(big, 2000).collect()))
    for n in (1, 5):
        alt = sorted(map(tuple, token_budget_select(
            big.repartition(n), 2000).collect()))
        assert alt == ref
    # budget smaller than any doc -> empty
    assert token_budget_select(big, 0).count() == 0


def test_remove_duplicate_lines_incremental(spark, tmp_path):
    # batch verdicts against the persisted store must equal a full
    # recompute over corpus + batch, restricted to batch docs
    from yardstick_spark.llm import (
        remove_duplicate_lines, remove_duplicate_lines_incremental,
        save_line_frequencies, update_line_frequencies,
    )

    corpus = spark.createDataFrame(
        [(1, "boiler\nalpha"), (2, "boiler\nbeta"), (3, "gamma")],
        "doc_id BIGINT, text STRING")
    batch = spark.createDataFrame(
        [(10, "boiler\ndelta\nnewdup"), (11, "newdup\nepsilon")],
        "doc_id BIGINT, text STRING")
    store = str(tmp_path / "store")
    save_line_frequencies(corpus, store)
    got = sorted(map(tuple, remove_duplicate_lines_incremental(
        batch, spark, store).collect()))
    full = remove_duplicate_lines(corpus.unionByName(batch))
    want = sorted(map(tuple,
                      full.filter("doc_id >= 10").collect()))
    # "boiler" dups via the store; "newdup" dups WITHIN the batch
    assert got == want
    assert dict((r[0], r[1]) for r in got) == {
        10: "delta", 11: "epsilon"}
    # store update is mergeable: counts over disjoint doc sets add
    v2 = str(tmp_path / "store_v2")
    update_line_frequencies(batch, spark, store, v2)
    freqs = {r.line_key: r.n_docs for r in
             spark.read.parquet(f"{v2}/line_freqs").collect()}
    assert freqs["boiler"] == 3 and freqs["newdup"] == 2


def test_dedup_source_matrix(spark):
    from yardstick_spark.llm import dedup_source_matrix

    docs = spark.createDataFrame(
        [(1, "web"), (2, "books"), (3, "web"), (4, "wiki")],
        "doc_id BIGINT, source STRING")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4)], "id_a BIGINT, id_b BIGINT")
    out = {(r.source_a, r.source_b): (r.n_pairs, r.share)
           for r in dedup_source_matrix(docs, pairs).collect()}
    # cells are alphabetically ordered; shares sum to 1
    assert out[("books", "web")] == (1, round(1 / 3, 6))
    assert out[("web", "web")] == (1, round(1 / 3, 6))
    assert out[("books", "wiki")] == (1, round(1 / 3, 6))
    assert abs(sum(s for _, s in out.values()) - 1.0) < 1e-5


def test_mojibake_score(spark):
    from yardstick_spark.llm import mojibake_score

    docs = spark.createDataFrame(
        [(1, "clean text, nothing wrong here at all"),
         (2, "caf\u00c3\u00a9 menu \u00e2\u20ac broken dash"),
         (3, "bad byte \ufffd and ctrl \x01 char"),
         (4, "")],
        "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in mojibake_score(docs).collect()}
    assert out[1].n_mojibake == 0 and not out[1].flagged
    # doc 2: mojibake lead bytes
    assert out[2].n_mojibake >= 2 and out[2].flagged
    assert out[3].n_replacement == 1 and out[3].n_control == 1
    assert out[3].flagged
    assert out[4].per_kchar == 0.0 and not out[4].flagged


def test_dedup_survivorship(spark):
    from yardstick_spark.llm import dedup_survivorship

    docs = spark.createDataFrame(
        [(1, "web", 10), (2, "books", 30), (3, "web", 20), (4, "wiki", 5)],
        "doc_id BIGINT, source STRING, n_chars BIGINT")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    out = {r.cluster_id: r for r in
           dedup_survivorship(docs, pairs).collect()}
    fam = out[1]
    assert (fam.keep_id, fam.n_members) == (1, 3)
    assert fam.sources == "books,web"  # sorted distinct provenance
    assert (fam.max_size, fam.total_size) == (30, 60)
    assert out[4].n_members == 1 and out[4].sources == "wiki"


def test_dedup_events_window(spark):
    from yardstick_spark.operators import dedup_events_window

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "click"),
         (2, "2024-01-01 00:00:01", 7, "click"),   # 1s after -> dup
         (3, "2024-01-01 00:00:10", 7, "click"),   # 9s after -> kept
         (4, "2024-01-01 00:00:01", 7, "view"),    # other type -> kept
         (5, "2024-01-01 00:00:01", 8, "click")],  # other user -> kept
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts",
                 "user_id", "event_type")
    out = {r.event_id: r.is_duplicate
           for r in dedup_events_window(events, tolerance_s=2).collect()}
    assert out == {1: False, 2: True, 3: False, 4: False, 5: False}


def _dsir_docs(spark, n=60):
    # English docs share a telltale vocabulary; the others don't
    rows = []
    for i in range(n):
        if i % 3 == 0:
            lang, text = "en", f"the quick brown fox number {i} jumps over the lazy dog"
        elif i % 3 == 1:
            lang, text = "de", f"der schnelle braune fuchs nummer {i} springt hoch"
        else:
            lang, text = "fr", f"le renard brun rapide numero {i} saute tres haut"
        rows.append((i, text, lang))
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_dsir_weights_target_docs_score_higher(spark):
    from yardstick_spark.llm import dsir_weights

    docs = _dsir_docs(spark)
    out = {r["doc_id"]: r for r in
           dsir_weights(docs, "lang = 'en'", n_buckets=256).collect()}
    assert len(out) == 60
    en = [out[i]["logw"] for i in range(0, 60, 3)]
    rest = [out[i]["logw"] for i in range(60) if i % 3 != 0]
    # every English doc outscores every non-English doc
    assert min(en) > max(rest)
    assert all(out[i]["n_grams"] > 0 for i in range(60))


def test_dsir_weights_repartition_stable(spark):
    from yardstick_spark.llm import dsir_weights

    docs = _dsir_docs(spark)
    base = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    for n in (1, 3, 7, 32):
        got = sorted(map(tuple, dsir_weights(
            docs.repartition(n), "lang = 'en'", n_buckets=256).collect()))
        assert got == base, f"weights changed under repartition({n})"


def test_dsir_weights_gramless_doc_kept_at_zero(spark):
    from yardstick_spark.llm import dsir_weights

    docs = spark.createDataFrame(
        [(1, "the quick fox", "en"), (2, "", "en"), (3, None, "de")],
        "doc_id bigint, text string, lang string")
    out = {r["doc_id"]: r for r in
           dsir_weights(docs, "lang = 'en'").collect()}
    assert set(out) == {1, 2, 3}
    assert out[2]["n_grams"] == 0 and out[2]["logw"] == 0.0
    assert out[3]["n_grams"] == 0 and out[3]["logw"] == 0.0


def test_dsir_hash_impl_fast_path(spark):
    """xxhash64 is a drop-in bucket hash: identical doc coverage and
    gram counts (hash-independent), a VALID but different bucket
    assignment (some weight differs from md5's), the same Arrow plan
    contract as md5, and repartition-stable like the md5 path.  An
    unknown hash name fails on the driver, before any Spark job."""
    import pytest

    from yardstick_spark.llm import dsir_weights

    docs = _dsir_docs(spark)
    md5_df = dsir_weights(docs, "lang = 'en'", n_buckets=256)
    xx_df = dsir_weights(docs, "lang = 'en'", n_buckets=256,
                         hash_impl="xxhash64")
    a = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in md5_df.collect()}
    b = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in xx_df.collect()}
    assert set(a) == set(b) == set(range(60))
    assert all(a[k][0] == b[k][0] for k in a), "n_grams is hash-free"
    assert any(a[k][1] != b[k][1] for k in a), \
        "different hash must give a different bucketing somewhere"
    # the target/raw separation survives the hash swap
    en = [b[i][1] for i in range(0, 60, 3)]
    rest = [b[i][1] for i in range(60) if i % 3 != 0]
    assert min(en) > max(rest)
    # the Arrow plans (both hashes) keep the scoring contract: bucket
    # table broadcast, no gram-grain Generate/explode
    for df in (md5_df, xx_df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Generate" not in plan
    again = sorted(map(tuple, dsir_weights(
        docs.repartition(7), "lang = 'en'", n_buckets=256,
        hash_impl="xxhash64").collect()))
    assert again == sorted((k, *v) for k, v in b.items())
    with pytest.raises(ValueError, match="sha1"):
        dsir_weights(docs, "lang = 'en'", hash_impl="sha1")


def test_dsir_store_unknown_hash_fails_before_spark(spark, tmp_path):
    """A store whose `_dsir_meta.json` names an unknown hash must fail
    in score and update before any Spark job, instead of bucketing
    with XXH64 (the bucketizer's non-md5 branch)."""
    import json

    import pytest

    from yardstick_spark.llm import (dsir_score_with_store,
                                     save_dsir_store, update_dsir_store)

    docs = _dsir_docs(spark)
    path = tmp_path / "store_bad"
    save_dsir_store(docs, "lang = 'en'", str(path), n_buckets=64)
    meta_p = path / "_dsir_meta.json"
    meta = json.loads(meta_p.read_text())
    meta_p.write_text(json.dumps({**meta, "hash_impl": "sha1"}))
    sc = spark.sparkContext
    sc.setJobGroup("dsir_bad_hash", "dsir_bad_hash")
    try:
        with pytest.raises(ValueError, match="sha1"):
            dsir_score_with_store(docs, str(path))
        with pytest.raises(ValueError, match="sha1"):
            update_dsir_store(docs.filter("doc_id < 3"), str(path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("dsir_bad_hash")) \
        == []
    assert not (path / "_dsir_pending.json").exists()


def test_spark_xxhash64_matches_python_reference(spark):
    """Spark's xxhash64 — single string, struct chaining, NULL-skip,
    all length classes (sub-4, 4-7, 8-31, >=32 bytes), non-ASCII —
    equals the pure-Python XXH64 reference bit-for-bit.  This is the
    independent pin for the DSIR production hash that no DuckDB
    oracle can provide (LIMITATIONS §6)."""
    from xxh64_ref import spark_xxhash64

    rows = [("a", None), ("abc", "x"), ("hello", "world"),
            ("", "y"), ("eightby!", None),
            ("long string exceeding thirty two bytes for stripes!",
             "tail"), ("émoji ✓ utf8", None), ("\x00\x01", "\x7f")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.selectExpr("a", "b", "xxhash64(a, b) AS h",
                        "xxhash64(a) AS ha").collect()
    for r in got:
        assert r.h == spark_xxhash64(r.a, r.b), (r.a, r.b)
        assert r.ha == spark_xxhash64(r.a), r.a


def test_dsir_xxhash64_bucket_counts_match_python_reference(spark):
    """The xxhash64 DSIR fit on the REAL sf0.001 documents equals a
    Python recomputation: the (a, b) gram structs are built in Python
    from the normalized word arrays (the same words the md5-oracled
    path hashes, so gram extraction is already cross-engine-verified),
    re-bucketed with the reference XXH64 and re-counted — the exact
    integer (bucket, c_raw, c_target) table must match row for row.
    This gives the production hash path a true independent oracle
    even though the driver's DuckDB check can only be rows-only."""
    from pyspark.sql import functions as F

    from xxh64_ref import spark_xxhash64
    from yardstick_spark.llm.text import (_dsir_bucket_counts,
                                          _dsir_words_expr)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    n_buckets = 256
    got = {r["bucket"]: (r["c_raw"], r["c_target"])
           for r in _dsir_bucket_counts(
               docs, "lang = 'en'", n_buckets, "text",
               "xxhash64").collect()}
    want: dict = {}
    for r in docs.select(
            F.expr("CAST((lang = 'en') AS INT)").alias("t"),
            F.expr(_dsir_words_expr("text")).alias("ws")).collect():
        ws = r["ws"] or []
        for a, b in [(w, None) for w in ws] + list(zip(ws, ws[1:])):
            bk = spark_xxhash64(a, b) % n_buckets
            raw, tgt = want.get(bk, (0, 0))
            want[bk] = (raw + 1, tgt + int(r["t"]))
    assert got == want


def test_dsir_sample_prefers_target_and_is_deterministic(spark):
    from yardstick_spark.llm import dsir_sample

    docs = _dsir_docs(spark)
    got = dsir_sample(docs, "lang = 'en'", k=20, n_buckets=256).collect()
    assert len(got) == 20
    # Gumbel noise is ~[-2, 7] sigma-ish but the planted log-ratio gap is
    # large: the winning set should be mostly English docs
    en_share = sum(1 for r in got if r["doc_id"] % 3 == 0) / 20
    assert en_share >= 0.7
    again = dsir_sample(docs.repartition(5), "lang = 'en'", k=20,
                        n_buckets=256).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in again]


def test_dsir_store_incremental_equals_refit(spark, tmp_path):
    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)

    docs = _dsir_docs(spark)
    path = str(tmp_path / "dsir_store")
    save_dsir_store(docs.filter("doc_id % 2 = 0"), "lang = 'en'", path,
                    n_buckets=256)
    update_dsir_store(docs.filter("doc_id % 2 = 1"), path)
    inc = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    full = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert inc == full, "incremental store must equal a full refit"


def test_dsir_store_xxhash64_incremental_equals_refit(spark, tmp_path):
    """hash_impl persists in the store metadata: an xxhash64-fitted
    store must score/update under xxhash64 buckets (not the md5
    default) so incremental == refit holds for the fast path too."""
    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)

    docs = _dsir_docs(spark)
    path = str(tmp_path / "store_xx")
    save_dsir_store(docs.filter("doc_id % 3 != 0"), "lang = 'en'", path,
                    n_buckets=256, hash_impl="xxhash64")
    update_dsir_store(docs.filter("doc_id % 3 = 0"), path)
    got = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    want = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256,
        hash_impl="xxhash64").collect()))
    assert got == want, "xxhash64 store incremental must equal refit"


_DSIR_CRASH_POINTS = [
    ("parquet", 1, True),    # crash after buckets_tmp write
    ("rename", 1, True),     # crash after buckets -> buckets_old
    ("rename", 2, True),     # crash after tmp -> buckets (pre-commit)
    ("replace", 1, False),   # crash just before the meta commit
    ("replace", 1, True),    # crash after meta commit, before cleanup
]


@pytest.mark.parametrize("target,nth,after", _DSIR_CRASH_POINTS)
def test_dsir_update_crash_then_rerun(spark, tmp_path, monkeypatch,
                                      target, nth, after):
    """Kill update_dsir_store at every protocol step boundary, then
    rerun the SAME batch naively: the store must converge to
    exactly-once (scores equal a full refit — no double-counted
    grams), and a further rerun must be a residue-free no-op.  The
    same guarantee makes the foreachBatch streaming twin retry-safe
    (Structured Streaming re-delivers failed micro-batches)."""
    import os as _os

    from pyspark.sql.readwriter import DataFrameWriter

    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)
    from yardstick_spark.llm import store as ysstore

    class _Boom(RuntimeError):
        pass

    def crash_on(real, n, aft):
        state = {"i": 0}

        def wrap(*a, **k):
            state["i"] += 1
            if state["i"] == n:
                if aft:
                    real(*a, **k)
                raise _Boom("injected")
            return real(*a, **k)

        return wrap

    docs = _dsir_docs(spark)
    path = str(tmp_path / "dsir_store")
    save_dsir_store(docs.filter("doc_id % 2 = 0"), "lang = 'en'", path,
                    n_buckets=256)
    new = docs.filter("doc_id % 2 = 1")
    with monkeypatch.context() as m:
        if target == "parquet":
            m.setattr(DataFrameWriter, "parquet",
                      crash_on(DataFrameWriter.parquet, nth, after))
        elif target == "rename":
            m.setattr(ysstore, "rename_dataset",
                      crash_on(ysstore.rename_dataset, nth, after))
        else:
            m.setattr(_os, "replace",
                      crash_on(_os.replace, nth, after))
        with pytest.raises(_Boom):
            update_dsir_store(new, path)
    update_dsir_store(new, path)  # naive rerun of the same batch
    update_dsir_store(new, path)  # and again: applied-batch no-op
    inc = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    full = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert inc == full
    assert not (tmp_path / "dsir_store" / "_dsir_pending.json").exists()
    assert not (tmp_path / "dsir_store" / "buckets_old").exists()
    assert not (tmp_path / "dsir_store" / "buckets_tmp").exists()


def test_dsir_update_distinct_batches_still_apply(spark, tmp_path):
    """The batch fingerprint must not eat a genuinely new batch: two
    different batches applied back-to-back equal a full refit."""
    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)

    docs = _dsir_docs(spark)
    path = str(tmp_path / "s")
    save_dsir_store(docs.filter("doc_id % 3 = 0"), "lang = 'en'", path,
                    n_buckets=256)
    update_dsir_store(docs.filter("doc_id % 3 = 1"), path)
    update_dsir_store(docs.filter("doc_id % 3 = 2"), path)
    inc = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    full = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert inc == full


def test_dsir_crash_after_commit_then_different_batch(spark, tmp_path,
                                                      monkeypatch):
    """A crash BETWEEN the meta commit and residue cleanup leaves a
    pending marker for a batch that DID commit.  The next invocation
    with a DIFFERENT batch must clean the residue, NOT roll back the
    committed batch (which would silently desync the bucket table from
    the committed meta counts — r10 ADVICE, retrieval.py:347 twin)."""
    import os as _os

    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)

    class _Boom(RuntimeError):
        pass

    docs = _dsir_docs(spark)
    path = str(tmp_path / "s")
    save_dsir_store(docs.filter("doc_id % 3 = 0"), "lang = 'en'", path,
                    n_buckets=256)

    state = {"i": 0}
    real = _os.replace

    def crash_after_first(*a, **k):
        state["i"] += 1
        real(*a, **k)   # the meta commit lands
        if state["i"] == 1:
            raise _Boom("injected")

    with monkeypatch.context() as m:
        m.setattr(_os, "replace", crash_after_first)
        with pytest.raises(_Boom):
            update_dsir_store(docs.filter("doc_id % 3 = 1"), path)
    # DIFFERENT batch next — not a retry of the crashed one
    update_dsir_store(docs.filter("doc_id % 3 = 2"), path)
    inc = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    full = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert inc == full, "committed batch must survive the next update"
    assert not (tmp_path / "s" / "_dsir_pending.json").exists()
    assert not (tmp_path / "s" / "buckets_old").exists()


def test_dsir_duplicate_text_batches_dont_collide(spark, tmp_path):
    """Duplicate texts XOR-cancel pairwise in the text-hash term, so
    two distinct batches each made of duplicated texts would collide
    on a text-only fingerprint ({t,t} and {u,u} both '2:0') and the
    second would be silently skipped.  The id-hash term (ids unique by
    contract) must keep them distinct (r10 ADVICE, text.py:1735)."""
    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)

    rows = ([(i, f"the quick brown fox {i}", "en") for i in range(10)]
            + [(100, "the lazy dog sleeps", "en"),
               (101, "the lazy dog sleeps", "en"),
               (200, "der faule hund schlaeft", "de"),
               (201, "der faule hund schlaeft", "de")])
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string")
    path = str(tmp_path / "s")
    save_dsir_store(docs.filter("doc_id < 100"), "lang = 'en'", path,
                    n_buckets=256)
    update_dsir_store(docs.filter("doc_id IN (100, 101)"), path)
    update_dsir_store(docs.filter("doc_id IN (200, 201)"), path)
    inc = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    full = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert inc == full, "second duplicated-text batch must still apply"


def test_dsir_concurrent_writer_fails_loudly(spark, tmp_path):
    """Single-writer contract twin of the BM25 test: a pending marker
    stamped by a live foreign pid must make update_dsir_store raise;
    after that pid dies, the marker reads as crashed-writer residue
    and the update recovers + applies."""
    import json
    import socket
    import subprocess
    import sys as _sys

    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store, update_dsir_store)

    docs = _dsir_docs(spark)
    path = str(tmp_path / "s")
    save_dsir_store(docs.filter("doc_id % 2 = 0"), "lang = 'en'", path,
                    n_buckets=256)
    other = subprocess.Popen(
        [_sys.executable, "-c", "import time; time.sleep(300)"])
    (tmp_path / "s" / "_dsir_pending.json").write_text(json.dumps(
        {"batch": "in-flight", "pid": other.pid,
         "host": socket.gethostname()}))
    try:
        with pytest.raises(RuntimeError, match="single-writer"):
            update_dsir_store(docs.filter("doc_id % 2 = 1"), path)
    finally:
        other.kill()
        other.wait()
    update_dsir_store(docs.filter("doc_id % 2 = 1"), path)
    inc = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    full = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert inc == full
    assert not (tmp_path / "s" / "_dsir_pending.json").exists()


def test_dsir_store_stream_twin_equals_batch(spark, tmp_path):
    from yardstick_spark.llm import (dsir_score_with_store, dsir_weights,
                                     save_dsir_store)
    from yardstick_spark.streaming import start_dsir_store_ingest

    docs = _dsir_docs(spark)
    path = str(tmp_path / "dsir_stream_store")
    save_dsir_store(docs.filter("doc_id < 20"), "lang = 'en'", path,
                    n_buckets=256)
    src = str(tmp_path / "src")
    docs.filter("doc_id >= 20").write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(
        "doc_id bigint, text string, lang string").parquet(src))
    q = start_dsir_store_ingest(
        stream, spark, path,
        checkpointLocation=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple, dsir_score_with_store(docs, path).collect()))
    want = sorted(map(tuple, dsir_weights(
        docs, "lang = 'en'", n_buckets=256).collect()))
    assert got == want, "stream-ingested store must equal a full refit"


def test_fuzzy_cluster_edges_components_equal_all_pairs(spark):
    from yardstick_spark.llm import (dedup_assign, fuzzy_cluster_edges,
                                     fuzzy_dedup_pairs)

    rows = []
    # three identical-name families (sizes 5, 4, 1), one off-by-one
    # bridge between family A and B, an empty and a NULL doc
    for i in range(5):
        rows.append((i, "almond antique blue"))
    for i in range(10, 14):
        rows.append((i, "almond antique blux"))  # edit 1, same len bucket
    rows.append((20, "totally different name"))
    rows.append((30, ""))
    rows.append((31, None))
    rows.append((32, ""))
    df = spark.createDataFrame(rows, "pk bigint, name string")

    via_pairs = dedup_assign(
        df, fuzzy_dedup_pairs(df, "pk", "name", max_edit=1), id_col="pk")
    via_edges = dedup_assign(
        df, fuzzy_cluster_edges(df, "pk", "name", max_edit=1), id_col="pk")
    a = sorted(map(tuple, via_pairs.collect()))
    b = sorted(map(tuple, via_edges.collect()))
    assert a == b, "collapsed edges must give identical components"
    got = {r["pk"]: r["cluster_id"] for r in via_edges.collect()}
    # families A and B merge through the edit-1 bridge, label = min id
    assert all(got[i] == 0 for i in list(range(5)) + list(range(10, 14)))
    # token-less docs stay singletons (fuzzy_dedup_pairs never pairs
    # them — no shared token — so the collapse must not either)
    assert got[30] == 30 and got[32] == 32 and got[31] == 31
    assert got[20] == 20


def test_fuzzy_cluster_edges_cap_is_member_grain(spark):
    """The max_block cap must engage at MEMBER grain on the collapsed
    path (r8 ADVICE high): a family of 12 identical strings with
    max_block=10 contributes a 12-member block even though the rep
    table holds one row, and a bridge block shared by two families is
    over cap when their combined membership is, even though only two
    reps sit in it.  Components must equal the record-grain capped
    pair list in all three regimes: every-block-over-cap (singletons),
    bridge-block-over-cap (cliques survive via private blocks, no
    merge), and under-cap (normal clique)."""
    from yardstick_spark.llm import (dedup_assign, fuzzy_cluster_edges,
                                     fuzzy_dedup_pairs)

    rows = []
    rows += [(i, "zebra") for i in range(12)]  # every block over cap
    rows += [(20 + i, "qux lemon") for i in range(8)]  # 'qux#2' = 16 > 10
    rows += [(40 + i, "qux melon") for i in range(8)]  # bridge only via 'qux'
    rows += [(60 + i, "pear") for i in range(3)]  # under cap
    df = spark.createDataFrame(rows, "pk bigint, name string")

    via_pairs = dedup_assign(
        df, fuzzy_dedup_pairs(df, "pk", "name", max_edit=1, max_block=10),
        id_col="pk")
    via_edges = dedup_assign(
        df, fuzzy_cluster_edges(df, "pk", "name", max_edit=1, max_block=10),
        id_col="pk")
    assert (sorted(map(tuple, via_pairs.collect()))
            == sorted(map(tuple, via_edges.collect()))), \
        "capped collapsed edges must give identical components"
    got = {r["pk"]: r["cluster_id"] for r in via_edges.collect()}
    # over-cap family: no surviving block -> singletons on both paths
    assert all(got[i] == i for i in range(12))
    # each 'qux *' family keeps its private token block -> clique, but
    # the shared 'qux' bridge block is over cap -> NO cross-family merge
    assert all(got[20 + i] == 20 for i in range(8))
    assert all(got[40 + i] == 40 for i in range(8))
    assert all(got[60 + i] == 60 for i in range(3))


def test_fuzzy_cluster_edges_degenerate_inputs(spark):
    """Empty corpus, all-NULL, and single-row inputs must yield empty
    edge lists (not errors) on both the collapsed and record-grain
    paths, under a tight cap and the default."""
    from yardstick_spark.llm import fuzzy_cluster_edges, fuzzy_dedup_pairs

    for rows in ([], [(1, None)], [(1, "")], [(1, "only one")],
                 [(1, None), (2, ""), (3, "   ")]):
        df = spark.createDataFrame(rows, "pk bigint, name string")
        for mb in (2, 10_000):
            assert fuzzy_cluster_edges(
                df, "pk", "name", max_block=mb).count() == 0
            assert fuzzy_dedup_pairs(
                df, "pk", "name", max_block=mb).count() == 0


def test_shard_assign_covers_corpus_within_budget(spark):
    from yardstick_spark.llm import shard_assign

    rows = [(i, ("tok " * (10 + i % 7)).strip()) for i in range(80)]
    rows += [(200, ""), (201, None)]  # zero-token docs keep a shard
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = shard_assign(df, shard_tokens=100).collect()
    assert len(a) == 82 and len({r["doc_id"] for r in a}) == 82
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r)
    # consecutive shard ids from 0
    assert sorted(by_shard) == list(range(len(by_shard)))
    # each shard's token sum stays under budget + one straddling doc
    for sh, members in by_shard.items():
        tot = sum(r["n_tok"] for r in members)
        assert tot <= 100 + max(r["n_tok"] for r in members)
    # deterministic under repartitioning
    b = shard_assign(df.repartition(7), shard_tokens=100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_write_training_shards_roundtrip(spark, tmp_path):
    from yardstick_spark.llm import shard_manifest, write_training_shards

    rows = [(i, ("w " * (20 + i % 5)).strip()) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "shards")
    write_training_shards(df, path, shard_tokens=200)
    back = spark.read.parquet(path)
    assert back.count() == 60
    got = {r["shard"]: r["cnt"] for r in
           back.groupBy("shard").agg(__import__("pyspark.sql.functions",
               fromlist=["count"]).count("*").alias("cnt")).collect()}
    want = {r["shard"]: r["n_docs"] for r in
            shard_manifest(df, shard_tokens=200).collect()}
    assert got == want, "written shards must match the manifest"
