"""End-to-end corpus curation: the canonical training-data pipeline
composed from this package's operators —

    quality filter (Gopher rules) → exact dedup (keep canonical copy)
    → deterministic mixture sampling → per-source accounting

Each stage is scan-only or one shuffle (the dedup window), so the
composition inherits the per-operator scale properties; nothing here
adds driver-side work.  The whole chain is SQL-expressible, so the
DuckDB oracle reproduces it end to end (entry `pipeline_curation`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import cache

from .dedup import exact_dedup
from .text import gopher_filter, sample_mixture


def curate_corpus(docs: DataFrame, rates: dict[str, float],
                  text_col: str = "text", id_col: str = "doc_id",
                  source_col: str = "source", seed: int = 42,
                  default_rate: float = 0.0,
                  min_stop_hits: int = 1) -> DataFrame:
    """Surviving documents after quality filter → exact dedup →
    mixture sampling.  Returns the original doc rows (all columns) of
    the kept set — feed to `chunk_documents` / `token_stats` next."""
    # registered cache barrier: the keep-list is referenced by both the
    # dedup window and the survivor join — without the barrier each
    # reference re-evaluates the Gopher expression chain (bigram mode
    # etc.) over the full corpus (measured 14s -> 4s at sf0.1).  The
    # materialized set is one id per surviving doc.  _cache (not
    # localCheckpoint) so clear_dedup_caches() releases it — a
    # localCheckpoint here leaked one persisted RDD per pipeline run
    # until JVM GC got around to it.
    keep_q = cache(
        gopher_filter(docs, text_col, id_col, min_stop_hits=min_stop_hits)
        .filter("keep").select(id_col)
    )
    filtered = docs.join(keep_q, id_col)
    # dedup AFTER the quality filter: a surviving doc must not be
    # dropped as a duplicate of an already-rejected one
    keep_d = (
        exact_dedup(filtered, text_col, id_col)
        .filter(~F.col("is_duplicate")).select(id_col)
    )
    survivors = filtered.join(keep_d, id_col)
    return sample_mixture(survivors, rates, source_col, id_col,
                          seed=seed, default_rate=default_rate)


def curation_report(docs: DataFrame, rates: dict[str, float],
                    source_col: str = "source", **kwargs) -> DataFrame:
    """Per-source accounting of the curated corpus: surviving docs and
    characters per source — the number a pipeline owner watches.

    Groups by the same `source_col` the sampler uses; characters come
    from a precomputed `n_chars` column when the corpus has one, else
    from length(text_col)."""
    kept = curate_corpus(docs, rates, source_col=source_col, **kwargs)
    text_col = kwargs.get("text_col", "text")
    chars = (F.col("n_chars") if "n_chars" in kept.columns
             else F.length(F.col(text_col)))
    return (
        kept.groupBy(source_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(chars).alias("total_chars"),
        )
        .orderBy(source_col)
    )


def curate_corpus_full(docs: DataFrame, rates: dict[str, float],
                       text_col: str = "text", id_col: str = "doc_id",
                       source_col: str = "source", seed: int = 42,
                       default_rate: float = 0.0,
                       min_stop_hits: int = 1,
                       max_dup_word_frac: float | None = None,
                       per_source: int | None = None,
                       splits: dict[str, float] | None = None) -> DataFrame:
    """`curate_corpus` plus the round-4 stages, in pipeline order:

        Gopher filter → exact dedup → mixture sampling
        → repetition filter (dup_word_frac cap) → per-source quota
        → train/val/test split column

    Every added stage is scan-only or a bounded window (`source_quota`
    is a map-side WindowGroupLimit), so the composed chain keeps the
    base pipeline's scale profile; each stage is optional (None skips
    it) and the whole chain stays SQL-expressible for the oracle."""
    from .text import repetition_stats, source_quota, split_corpus

    kept = curate_corpus(docs, rates, text_col, id_col, source_col,
                         seed, default_rate, min_stop_hits)
    if max_dup_word_frac is not None or per_source is not None:
        # the added stages self-join `kept`; without a barrier each
        # reference re-evaluates the whole curation chain (measured 4x)
        kept = cache(kept)
    if max_dup_word_frac is not None:
        ok = (
            repetition_stats(kept, text_col, id_col)
            .filter(F.col("dup_word_frac") <= max_dup_word_frac)
            .select(id_col)
        )
        kept = kept.join(ok, id_col)
    if per_source is not None:
        q = source_quota(kept, per_source, id_col, source_col).select(id_col)
        kept = kept.join(q, id_col)
    if splits:
        kept = split_corpus(kept, splits, id_col)
    return kept


def prepare_embedding_corpus(vecs: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             label_col: str | None = "label",
                             norm_lo: float = 0.5, norm_hi: float = 2.0,
                             threshold: float = 0.4, n_lists: int = 8,
                             ) -> DataFrame:
    """Embedding-side curation, composed end to end: norm-window
    hygiene filter (drops zero/garbage/unnormalized vectors) →
    SemDeDup keep-one semantic dedup (min-id representative per
    near-dup pair) → int8 scalar quantization against the SURVIVORS'
    scale (outliers removed before they stretch the quantization
    range — the reason the stages compose in this order).

    Returns one row per surviving vector: (id, [label], norm r6,
    q_sum, q_min, q_max) — the quantized-index build manifest.

    Scale profile inherited from the parts: the norm filter is
    scan-side; SemDeDup shuffles each vector once to its cell; the
    quantizer adds one dim-cardinality aggregation and a scan-side
    transform.  The whole chain is SQL-expressible for the oracle."""
    from .quantize import quantization_params, quantize_embeddings
    from .similarity import semantic_dedup_pairs

    norm = (f"sqrt(aggregate(transform({vec_col}, "
            f"x -> CAST(x AS DOUBLE)), 0D, (s, v) -> s + v * v))")
    ok = vecs.withColumn("__norm", F.expr(norm)).filter(
        (F.col("__norm") >= norm_lo) & (F.col("__norm") <= norm_hi))
    drops = (semantic_dedup_pairs(ok, id_col, vec_col,
                                  threshold, n_lists)
             .select(F.col("id_b").alias("__drop_id")).distinct())
    # cache barrier BEFORE the quantization-params collect: params is
    # a separate driver action whose plan otherwise embeds the whole
    # norm-filter -> SemDeDup -> anti-join chain, re-executing the
    # dedup subtree once for the params and again for the result
    # (same discipline as curate_corpus_full's barrier above)
    kept = cache(ok.join(drops, F.col(id_col) == F.col("__drop_id"),
                         "left_anti"))
    params = quantization_params(kept, vec_col=vec_col)
    keep_cols = ("__norm",) + ((label_col,) if label_col else ())
    qv = quantize_embeddings(kept, id_col=id_col, vec_col=vec_col,
                             params=params, keep_cols=keep_cols)
    return qv.select(
        F.col(id_col),
        *([F.col(label_col)] if label_col else []),
        F.round("__norm", 6).alias("norm"),
        F.expr("aggregate(qvec, 0, (s, v) -> s + v)").alias("q_sum"),
        F.expr("array_min(qvec)").alias("q_min"),
        F.expr("array_max(qvec)").alias("q_max"),
    )
