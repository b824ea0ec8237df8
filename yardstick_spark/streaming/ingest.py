"""Streaming ingest deduplication: probe a persisted minhash signature
store (llm.dedup.save_dedup_signatures) from a document stream — the
production shape where a crawl feed lands continuously and every batch
must be checked against the accumulated corpus.

The probe is a STREAM-STATIC join: the stream side computes signatures
and band buckets scan-side (stateless — no watermark, no streaming
state), the static side is the store's band-partitioned bucket parquet
and signature parquet.  Spark re-plans the static side per micro-batch,
so a store refreshed by a nightly `save_dedup_signatures` run is picked
up without restarting the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import MH_P, portable_hash


def dedup_ingest_stream(new_docs: DataFrame, spark, store_path: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, num_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.5) -> DataFrame:
    """Streaming (new_id, corpus_id, est_jaccard) pairs for a document
    stream probed against a persisted signature store.  `new_docs` is a
    streaming DataFrame with (id_col, text_col).

    Identical arithmetic to `llm.dedup.incremental_pairs_against_store`
    — the batch twin the oracle checks; stream≡batch is tested in
    tests/test_sinks_stateful.py.  All stream-side work is stateless
    projection (signatures + buckets per row), and the signature rides
    each banded bucket row so EVERY join here is stream-static (bucket
    probe, then corpus-signature fetch) — a stream joined only against
    parquet needs no watermark and keeps zero state.  Joining `cand`
    back to `new_sigs` instead would be a stream-stream self-join:
    Spark would buffer both sides in the state store unboundedly and a
    doc_id recurring in a later batch could rematch stale buffered
    rows.  Carrying the ~32-int signature through the (band, bhash)
    exchange costs bands×|signature| bytes per doc — bounded by the
    micro-batch, the correct trade for statelessness."""
    base = f"transform(shs, s -> pmod({portable_hash('s')}, {MH_P}))"
    sig = (
        f"transform(sequence(0, {num_hashes - 1}), i -> "
        f"array_min(transform(__ys_sh_h, "
        f"h -> pmod((2 * i + 1) * h + i * 40503 + 1, {MH_P}))))"
    )
    norm = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    shingle = (
        f"array_distinct(transform("
        f"sequence(1, greatest(1, length(__norm) - {k - 1})), "
        f"i -> substring(__norm, i, {k})))"
    )
    # streaming side: no cache barriers available — keep the signature
    # computation a straight projection chain (each micro-batch is
    # ingest-sized, so the re-inlining hazard the batch path caches
    # against is bounded by batch size, not corpus size)
    new_sigs = (
        new_docs.select(
            F.col(id_col).alias("id"), F.expr(norm).alias("__norm")
        )
        .select("id", F.expr(shingle).alias("shs"))
        .select("id", F.expr(base).alias("__ys_sh_h"))
        .select("id", F.expr(sig).alias("signature"))
    )
    # banded bucket rows WITH the signature attached (unlike the batch
    # path's slim _banded_buckets): the stream side must never be
    # joined to itself, so the verify payload rides the probe rows
    rows = num_hashes // bands
    nb = new_sigs.select(
        "id", "signature",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, "
                f"md5(cast(slice(signature, b * {rows} + 1, {rows}) AS STRING))"
                f" AS bhash))"
            )
        ).alias("bb"),
    ).select("id", "signature", "bb.band", "bb.bhash")
    corp_sigs = spark.read.parquet(f"{store_path}/signatures")
    corp_buckets = spark.read.parquet(f"{store_path}/buckets")
    # NO candidate-level distinct: dropDuplicates on a stream keeps
    # every pair in state FOREVER (unbounded), and a streaming groupBy
    # has the same problem.  A pair colliding in several bands emits
    # one row per colliding band instead — duplication bounded by
    # `bands`, with identical (new_id, corpus_id, est_jaccard) values,
    # which any idempotent sink (MERGE/upsert) absorbs.  Use
    # `start_dedup_ingest` for exact per-batch pair sets.
    cand = (
        nb.alias("n")
        .join(
            corp_buckets.alias("c"),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.bhash") == F.col("n.bhash"))
            & (F.col("c.id") != F.col("n.id")),
        )
        .select(F.col("n.id").alias("new_id"),
                F.col("n.signature").alias("sig_n"),
                F.col("c.id").alias("corpus_id"))
    )
    est = F.expr(
        "round(aggregate(zip_with(sig_n, sig_c, (x, y) -> "
        "IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / size(sig_n), 6)"
    )
    return (
        cand.join(corp_sigs.select(F.col("id").alias("corpus_id"),
                                   F.col("signature").alias("sig_c")),
                  "corpus_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


def start_dedup_ingest(new_docs: DataFrame, spark, store_path: str,
                       sink, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5,
                       num_hashes: int = 32, bands: int = 8,
                       threshold: float = 0.5, **stream_opts):
    """foreachBatch twin of `dedup_ingest_stream` with EXACT per-batch
    semantics: each micro-batch runs the tested batch operator
    (`llm.dedup.incremental_pairs_against_store`), including its
    candidate distinct — legal there because the dedup scope is one
    batch, not unbounded stream history.  `sink(pairs_df, batch_id)`
    receives the finished pair DataFrame per batch.  Returns the
    started StreamingQuery."""
    from ..llm.dedup import incremental_pairs_against_store

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_pairs_against_store(
            batch_df, spark, store_path, text_col=text_col,
            id_col=id_col, k=k, num_hashes=num_hashes, bands=bands,
            threshold=threshold, broadcast_new=True,
        )
        sink(pairs, batch_id)

    return (new_docs.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())


def start_line_dedup_ingest(new_docs: DataFrame, spark, store_path: str,
                            sink, min_docs: int = 2,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            delimiter: str = "\n", **stream_opts):
    """foreachBatch twin of `llm.dedup.remove_duplicate_lines_incremental`
    for a document stream: each micro-batch is cleaned against the
    persisted line-frequency store (corpus text never re-read; the
    static side re-plans per batch, so a nightly
    `update_line_frequencies` refresh is picked up live).
    `sink(clean_df, batch_id)` receives (doc_id, clean_text, n_lines,
    n_dropped) per batch; stream≡batch holds because each batch runs
    the tested batch operator verbatim."""
    from ..llm.dedup import remove_duplicate_lines_incremental

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cleaned = remove_duplicate_lines_incremental(
            batch_df, spark, store_path, min_docs=min_docs,
            text_col=text_col, id_col=id_col, delimiter=delimiter,
        )
        sink(cleaned, batch_id)

    return (new_docs.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())


def semantic_ingest_stream(new_vecs: DataFrame, spark, index_path: str,
                           threshold: float = 0.4,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           n_probe: int = 1) -> DataFrame:
    """Streaming semantic dedup: probe an EMBEDDING stream against a
    persisted IVF index (`llm.ivf.save_ivf_index`) — the semantic twin
    of `dedup_ingest_stream`.  Returns a streaming DataFrame of
    (new_id, corpus_id, sim) with ROUND(sim, 4) >= threshold.

    Same statelessness argument as the minhash path: the stream side is
    pure projection (scan-side centroid assignment via an Arrow closure
    whose matrix is collected from the STATIC centroid parquet at
    plan-build), and the only join is stream-static against the
    cell-partitioned assignments parquet — no watermark, no state
    store, and a corpus refreshed by a nightly re-index is picked up
    per micro-batch.  Identical arithmetic to the batch twin
    `llm.ivf.semantic_pairs_against_index` (stream≡batch is tested in
    tests/test_sinks_stateful.py)."""
    from ..llm.ivf import semantic_pairs_against_index

    # the batch twin's plan is already stream-safe: one streaming
    # source (the probe side), static assignments/centroids, no
    # aggregation — reuse it verbatim
    return semantic_pairs_against_index(
        new_vecs, spark, index_path, threshold=threshold,
        id_col=id_col, vec_col=vec_col, n_probe=n_probe,
    )


def start_scd2_ingest(updates, spark, dim_path: str,
                      key_cols: list[str], tracked_cols: list[str],
                      ts_col: str, **stream_opts):
    """Streaming Type-2 SCD maintenance: each micro-batch of dimension
    updates is compacted (latest row per key) and merged into a
    versioned dimension snapshot via the tested batch operators
    (`operators.scd.cdc_compact` + `scd2_merge`).

    Snapshots are written to `{dim_path}/batch=<epoch_id>` — a NEW
    directory per batch, because overwriting the directory a job is
    concurrently reading is not atomic on a plain filesystem; readers
    use `load_scd2_dim` to pick the newest snapshot.  Each snapshot is
    the FULL dimension: correct and simple, but at warehouse scale the
    per-batch rewrite cost is O(|dim|) — a production deployment
    points this at a MERGE-capable table format (Delta/Iceberg), where
    the identical merge plan rewrites only matched files.  Returns the
    started StreamingQuery."""
    from ..operators.scd import cdc_compact, scd2_merge

    def _process(batch_df, batch_id: int) -> None:
        dim = load_scd2_dim(spark, dim_path)
        merged = scd2_merge(
            dim, cdc_compact(batch_df, key_cols, ts_col),
            key_cols, tracked_cols, ts_col)
        merged.write.mode("overwrite").parquet(
            f"{dim_path}/batch={batch_id}")

    return (updates.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())


def save_scd2_dim(dim, dim_path: str, batch_id: int = -1) -> None:
    """Seed (or manually checkpoint) a dimension snapshot in the
    layout `start_scd2_ingest` maintains — call once with the initial
    dimension before starting the stream (epoch ids begin at 0, so the
    seed lands at batch=-1)."""
    dim.write.mode("overwrite").parquet(f"{dim_path}/batch={batch_id}")


def load_scd2_dim(spark, dim_path: str):
    """Newest dimension snapshot under `dim_path` (see
    `start_scd2_ingest`); the `batch=<id>`-partitioned layout makes
    'newest' one numeric max over directory names."""
    from pyspark.sql import functions as F

    df = spark.read.option("basePath", dim_path).parquet(
        f"{dim_path}/batch=*")
    latest = df.agg(F.max("batch")).collect()[0][0]
    return df.filter(F.col("batch") == latest).drop("batch")


def start_incremental_agg(facts, spark, state_path: str,
                          keys: list[str], sum_cols: list[str],
                          count_col: str = "cnt",
                          weight_col: str | None = None,
                          **stream_opts):
    """Streaming materialized view: each micro-batch of raw fact rows
    refreshes a stored aggregate via the tested batch operator
    (`operators.incremental.incremental_agg_merge`) — the batch is
    partially aggregated and coalesce-added into the state, so
    per-batch cost is O(batch + group cardinality) regardless of how
    much history the view summarizes.  No Spark state store is used:
    the aggregate IS the state, written to `{state_path}/batch=<id>`
    snapshots (same versioned layout and Delta/Iceberg production
    note as `start_scd2_ingest`; readers take the newest via
    `load_agg_state`).  With `weight_col`, a CDC feed of ±1-weighted
    rows maintains the view under deletes too.  Returns the started
    StreamingQuery."""
    from ..operators.incremental import incremental_agg_merge

    def _process(batch_df, batch_id: int) -> None:
        state = load_agg_state(spark, state_path)
        merged = incremental_agg_merge(
            state, batch_df, keys, sum_cols,
            count_col=count_col, weight_col=weight_col)
        merged.write.mode("overwrite").parquet(
            f"{state_path}/batch={batch_id}")

    return (facts.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())


def save_agg_state(agg, state_path: str, batch_id: int = -1) -> None:
    """Seed the aggregate state in the layout `start_incremental_agg`
    maintains — write the initial (possibly empty) aggregate before
    starting the stream."""
    agg.write.mode("overwrite").parquet(f"{state_path}/batch={batch_id}")


def load_agg_state(spark, state_path: str):
    """Newest aggregate snapshot under `state_path` (see
    `start_incremental_agg`)."""
    from pyspark.sql import functions as F

    df = spark.read.option("basePath", state_path).parquet(
        f"{state_path}/batch=*")
    latest = df.agg(F.max("batch")).collect()[0][0]
    return df.filter(F.col("batch") == latest).drop("batch")


def start_heavy_hitters_stream(terms, spark, state_path: str,
                               term_col: str = "term",
                               capacity: int = 1024, **stream_opts):
    """Streaming heavy hitters ("trending terms"): the state is ONE
    bounded Misra-Gries summary of `capacity` counters — mergeable by
    construction (Agarwal et al.), so each micro-batch runs the same
    per-partition Arrow sketch as batch `operators.heavy`, and the
    partition summaries + the stored summary MERGE+PRUNE on the
    driver over at most capacity x (partitions + 1) rows.  Counts are
    lower bounds with one cumulative error scalar: any term with true
    frequency > error is guaranteed present (the MG guarantee), which
    is the honest streaming contract — exact recounting would need
    the full history a stream no longer has.  Snapshots land in
    `{state_path}/batch=<id>`; read with `load_heavy_hitters`.
    """
    import pandas as pd

    from ..operators.heavy import mg_merge_prune

    def _process(batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        m = capacity

        def sketch(batches):
            acc = pd.Series(dtype="int64")
            err = 0
            for pdf in batches:
                vc = pdf["term"].dropna().value_counts()
                acc, sub = mg_merge_prune(acc, vc, m)
                err += sub
            out = pd.DataFrame({"term": acc.index.astype(str),
                                "wlow": acc.values.astype("int64"),
                                "err": 0})
            yield pd.concat([out, pd.DataFrame(
                {"term": [None], "wlow": [0], "err": [err]})])

        sk = (batch_df.select(F.col(term_col).cast("string")
                              .alias("term"))
              .mapInPandas(sketch, "term STRING, wlow BIGINT, err BIGINT")
              .toPandas())
        from pyspark.errors import AnalysisException

        try:
            prev = load_heavy_hitters(spark, state_path, k=None).toPandas()
        except AnalysisException:  # no snapshot yet (PATH_NOT_FOUND);
            # anything else (transient IO, schema corruption) must
            # surface — swallowing it would silently reset the summary
            prev = pd.DataFrame({"term": [], "wlow": [], "err": []})
        err = int(sk["err"].sum()) + \
            (int(prev["err"].iloc[0]) if len(prev) else 0)
        acc = pd.Series(dtype="int64")
        for frame in (prev, sk):
            rows = frame[frame["term"].notna()]
            if len(rows):
                vc = pd.Series(rows["wlow"].values.astype("int64"),
                               index=rows["term"])
                vc = vc.groupby(level=0).sum()
                acc, sub = mg_merge_prune(acc, vc, m)
                err += sub
        out = pd.DataFrame({"term": list(acc.index.astype(str)) + [None],
                            "wlow": list(acc.values.astype("int64")) + [0],
                            "err": [err] * (len(acc) + 1)})
        (spark.createDataFrame(out, "term STRING, wlow BIGINT, err BIGINT")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{state_path}/batch={batch_id}"))

    return (terms.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())


def load_heavy_hitters(spark, state_path: str, k: int | None = 10):
    """Newest heavy-hitter summary under `state_path`: (term, wlow,
    err) rows ordered by lower bound, top-k if `k` is given.  `err`
    is the summary-wide bound: true_count(term) is in
    [wlow, wlow + err], and any term with true count > err is present.
    Passing k=None returns the whole summary INCLUDING the term-NULL
    error row (the raw state, used by the stream itself)."""
    from pyspark.sql import functions as F

    df = spark.read.option("basePath", state_path).parquet(
        f"{state_path}/batch=*")
    latest = df.agg(F.max("batch")).collect()[0][0]
    cur = df.filter(F.col("batch") == latest).drop("batch")
    if k is None:
        return cur
    return (cur.filter(F.col("term").isNotNull())
            .orderBy(F.desc("wlow"), "term").limit(k))


def start_bm25_index_ingest(new_docs: DataFrame, spark, index_path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id", **stream_opts):
    """foreachBatch twin of `llm.retrieval.update_bm25_index` for a
    document stream: each micro-batch folds into the persisted BM25
    index (postings append into their bucket partitions, tiny df
    rewrite, integer stat addition) — O(batch) per trigger, the corpus
    postings are never re-read.  Stream≡batch holds because each batch
    runs the tested batch operator verbatim (pinned alongside
    `test_bm25_index_incremental_equals_rebuild`); queries via
    `bm25_search_index` between triggers see a consistent index (the
    df swap is the one non-append step and is last — see the batch
    operator's crash-ordering note).  RETRY-SAFE (r10): Structured
    Streaming re-delivers a failed micro-batch, and the batch
    operator's content fingerprint + pending-marker protocol makes the
    redelivery converge to exactly-once instead of double-appending
    postings (tests/test_retrieval.py::test_bm25_update_crash_*).
    Same caller contract as every ingest here: batches carry only
    unseen doc ids."""
    from ..llm.retrieval import update_bm25_index

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_bm25_index(batch_df, index_path,
                          text_col=text_col, id_col=id_col)

    return (new_docs.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())


def start_dsir_store_ingest(new_docs: DataFrame, spark, store_path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id", **stream_opts):
    """foreachBatch twin of `llm.text.update_dsir_store` for a
    document stream: each micro-batch's gram-bucket counts fold into
    the persisted DSIR sufficient statistic — O(batch) scan work plus
    an O(n_buckets) merge per trigger, the fitted corpus is never
    re-read.  Stream≡batch holds because each batch runs the tested
    batch operator verbatim, and integer counts merge exactly, so the
    store after any batch split equals a full refit (pinned by
    test_dsir_store_incremental_equals_refit).  Scoring via
    `dsir_score_with_store` between triggers sees a consistent table
    (the bucket rewrite swaps via FileSystem rename).  RETRY-SAFE
    (r10): a re-delivered micro-batch no-ops via the batch content
    fingerprint instead of double-counting its grams
    (tests/test_text_ops.py::test_dsir_update_crash_then_rerun).
    Same caller contract as every ingest here: batches carry only
    unseen docs."""
    from ..llm.text import update_dsir_store

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_dsir_store(batch_df, store_path, text_col=text_col,
                          id_col=id_col)

    return (new_docs.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())
