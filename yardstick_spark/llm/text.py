"""Text-analysis operators: token counting, quality scoring, language
identification, and document fingerprinting.

All scan-only SQL expressions (whole-stage codegen, no Python UDFs, no
shuffle except final aggregations) — the shapes that stay cheap at
100 TB.  Heuristics are deliberately engine-portable so the DuckDB
oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..sparkutil import cache, portable_hash

_NORM = "regexp_replace(lower(trim({c})), '\\\\s+', ' ')"


def token_stats(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens, a BPE-style pretoken count, and a chars/4
    subword estimate.

    n_bpe_tokens counts GPT-2-style pretokens — maximal runs of
    letters, digits, or other-symbols, each optionally merged with one
    leading space (` ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+`) over the
    normalized text.  That is the pretokenization step every byte-pair
    encoder splits on, so it tracks real tokenizer output far closer
    than a chars/4 estimate (kept as n_subwords for the rule-of-thumb
    comparison).  Scan-only regexp, whole-stage codegen; the pattern is
    RE2-compatible so the DuckDB oracle runs it verbatim."""
    norm = _NORM.format(c=text_col)
    tokens = f"size(filter(split({norm}, ' '), t -> t <> ''))"
    bpe = f"size(regexp_extract_all({norm}, ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0))"
    return docs.select(
        F.col(id_col),
        F.expr(tokens).alias("n_tokens"),
        F.expr(bpe).alias("n_bpe_tokens"),
        F.expr(f"CAST(ceil(length({norm}) / 4.0) AS BIGINT)").alias("n_subwords"),
        F.expr(f"length({norm})").alias("n_chars_norm"),
    )


def _quality_expr(text_col: str) -> str:
    """The composite quality score in [0,1] as a SQL string — shared by
    `quality_score` and `token_budget_select`."""
    norm = _NORM.format(c=text_col)
    n = f"greatest(length({norm}), 1)"
    alpha = f"length(regexp_replace({norm}, '[^a-z]', ''))"
    punct = f"length(regexp_replace({norm}, '[^.,;:!?]', ''))"
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    n_words = f"greatest(size({words}), 1)"
    return (
        f"round(least(1.0D, 0.4 * least(length({norm}) / 500.0, 1.0) "
        f"+ 0.4 * ({alpha} / CAST({n} AS DOUBLE)) "
        f"+ 0.2 * least({punct} / CAST({n_words} AS DOUBLE), 1.0)), 6)"
    )


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features: length, alpha ratio, punctuation
    ratio, mean word length, all-caps-word share.  A composite score in
    [0,1] combines them with fixed weights."""
    norm = _NORM.format(c=text_col)
    n = f"greatest(length({norm}), 1)"
    alpha = f"length(regexp_replace({norm}, '[^a-z]', ''))"
    punct = f"length(regexp_replace({norm}, '[^.,;:!?]', ''))"
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    n_words = f"greatest(size({words}), 1)"
    mean_wl = f"(aggregate({words}, 0, (a, w) -> a + length(w)) / CAST({n_words} AS DOUBLE))"
    score = _quality_expr(text_col)
    return docs.select(
        F.col(id_col),
        F.expr(f"length({norm})").alias("len_norm"),
        F.expr(f"round({alpha} / CAST({n} AS DOUBLE), 6)").alias("alpha_ratio"),
        F.expr(f"round({punct} / CAST({n} AS DOUBLE), 6)").alias("punct_ratio"),
        F.expr(f"round({mean_wl}, 6)").alias("mean_word_len"),
        F.expr(score).alias("quality"),
    )


# tiny per-language stopword inventories for the n-gram/stopword vote
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "und", "ist", "nicht", "das"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "de", "que", "es", "una"],
}


def _marker_hits(norm: str, words: list[str]) -> str:
    padded = f"concat(' ', {norm}, ' ')"
    terms = " + ".join(
        f"(length({padded}) - length(replace({padded}, ' {w} ', ' ')))"
        f" / {len(w) + 1}"
        for w in words
    )
    return f"CAST({terms} AS BIGINT)"


def language_id(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID over {en,de,fr,es}; 'und' (undetermined)
    when no marker hits.  Ties break by language code order via the
    struct-max trick (hits desc, lang asc) — deterministic and portable.
    """
    norm = _NORM.format(c=text_col)
    hit_cols = [
        F.expr(_marker_hits(norm, ws)).alias(f"hits_{lang}")
        for lang, ws in _LANG_MARKERS.items()
    ]
    scored = docs.select(F.col(id_col), F.col(text_col), *hit_cols)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first max in fixed order = deterministic tie-break
        pred = pred.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return scored.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


def gopher_filter(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  min_words: int = 15, max_words: int = 100_000,
                  min_mwl: float = 2.0, max_mwl: float = 10.0,
                  max_top_bigram_frac: float = 0.08,
                  min_stop_hits: int = 2) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models", App. A): word-count bounds, mean-word-length
    bounds, repetition (share of the most frequent word bigram), and a
    stopword-presence floor.  Emits the per-rule features plus a
    `keep` verdict so the pipeline can filter or audit.

    Scan-only array SQL — no explode, no shuffle; the bigram mode is
    computed per-row over the ~n² distinct-bigram lattice which is fine
    for document-sized n and keeps whole-stage codegen.  (Deviation
    from the paper: repetition is counted as occurrence share of
    bigrams, not character share — simpler and engine-portable.)"""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    n_words = f"size({words})"
    mean_wl = (
        f"round(aggregate({words}, 0, (a, w) -> a + length(w)) "
        f"/ CAST(greatest({n_words}, 1) AS DOUBLE), 6)"
    )
    # adjacent pairs via zip_with of two shifted slices — an
    # element_at(words, i) indexing lambda would re-evaluate the whole
    # words expression PER ELEMENT (HOF lambdas are interpreted, no
    # common-subexpression elimination; measured 14x slower)
    bigrams = (
        f"zip_with(slice({words}, 1, greatest({n_words} - 1, 1)), "
        f"slice({words}, 2, greatest({n_words} - 1, 1)), "
        f"(a, b) -> concat(a, ' ', b))"
    )
    # mode count via one run-length pass over the sorted array — a
    # nested filter-per-distinct-element would make Catalyst re-inline
    # the whole array construction per element (quadratic blowup)
    top_bigram = (
        f"aggregate(array_sort({bigrams}), "
        f"struct(CAST('' AS STRING) AS prev, 0 AS run, 0 AS best), "
        f"(s, x) -> struct(x AS prev, "
        f"IF(x = s.prev, s.run + 1, 1) AS run, "
        f"greatest(s.best, IF(x = s.prev, s.run + 1, 1)) AS best), "
        f"s -> s.best)"
    )
    top_frac = (
        f"round({top_bigram} / CAST(greatest({n_words} - 1, 1) AS DOUBLE), 6)"
    )
    stop_hits = " + ".join(
        f"CAST(array_contains({words}, '{w}') AS INT)"
        for w in _LANG_MARKERS["en"]
    )
    from .dedup import _spread  # single-file corpora: use all cores

    return _spread(docs).select(
        F.col(id_col),
        F.expr(n_words).alias("n_words"),
        F.expr(mean_wl).alias("mean_word_len"),
        F.expr(top_frac).alias("top_bigram_frac"),
        F.expr(f"CAST({stop_hits} AS BIGINT)").alias("stop_hits"),
        F.expr(
            f"{n_words} BETWEEN {min_words} AND {max_words} "
            f"AND {mean_wl} BETWEEN {min_mwl} AND {max_mwl} "
            f"AND {top_frac} < {max_top_bigram_frac} "
            f"AND ({stop_hits}) >= {min_stop_hits}"
        ).alias("keep"),
    )


# conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround, explicit char classes
_PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3,4}[ -][0-9]{3,4}",
}


def pii_redact(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Redact emails / IPv4 addresses / international-format phone
    numbers, replacing each with a typed placeholder, and count the
    redactions per class.  Pure regexp_replace — scan-only, codegen,
    trivially parallel at any scale."""
    redacted = text_col
    counts = []
    for kind, pat in _PII_PATTERNS.items():
        sql_pat = pat.replace("\\", "\\\\")  # SQL literal unescapes once
        counts.append(
            F.expr(
                f"size(regexp_extract_all({redacted}, '{sql_pat}', 0))"
            ).alias(f"n_{kind}")
        )
        redacted = f"regexp_replace({redacted}, '{sql_pat}', '[{kind.upper()}]')"
    return docs.select(
        F.col(id_col), *counts, F.expr(redacted).alias("redacted")
    )


def top_terms(docs: DataFrame, text_col: str = "text",
              limit: int = 20) -> DataFrame:
    """Corpus-level document frequency: for each term, the number of
    documents containing it; top-`limit` by df.  explode(distinct
    per-doc terms) → groupBy(term) — one shuffle, map-side combined;
    at 100 TB this is the canonical build step for vocab/IDF tables."""
    norm = _NORM.format(c=text_col)
    words = f"array_distinct(filter(split({norm}, ' '), t -> t <> ''))"
    return (
        docs.select(F.explode(F.expr(words)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(limit)
    )


def chunk_documents(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 32,
                    overlap: int = 8) -> DataFrame:
    """Split each document into overlapping token windows — the
    training-data chunking step before tokenization/packing.

    Chunk i covers words [i*stride+1, i*stride+chunk_tokens] with
    stride = chunk_tokens - overlap; the last chunk may be short but a
    short trailing window fully contained in the previous chunk is not
    emitted.  One posexplode per doc (n_chunks ~ n_tokens/stride rows)
    then a slice+concat per chunk — scan-only, shuffle-free."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    n_chunks = (
        f"greatest(1, CAST(ceil((size(__w) - {overlap}) "
        f"/ CAST({stride} AS DOUBLE)) AS INT))"
    )
    return (
        docs.select(F.col(id_col), F.expr(words).alias("__w"))
        .select(
            id_col,
            F.expr("size(__w)").alias("n_tokens_doc"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {n_chunks} - 1), "
                    f"i -> concat_ws(' ', "
                    f"slice(__w, i * {stride} + 1, {chunk_tokens})))"
                )
            ).alias("chunk_id", "chunk_text"),
        )
        .withColumn(
            "n_tokens",
            F.expr("size(filter(split(chunk_text, ' '), t -> t <> ''))"),
        )
    )


def sample_mixture(docs: DataFrame, rates: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   seed: int = 42, default_rate: float = 0.0) -> DataFrame:
    """Deterministic weighted mixture sampling across sources — the
    dataset-mixing step of a training pipeline.  A doc survives iff
    hash(seed, id) mod 1e6 < rate[source] * 1e6: reproducible across
    runs, engines, and partitionings (no RNG state), and exactly
    rate-proportional in expectation.  Scan-only filter; the md5-based
    uniform hash matches the DuckDB oracle bit-for-bit."""
    u = (portable_hash(f"concat('{seed}:', CAST({id_col} AS STRING))")
         + " % 1000000")
    if rates:
        rate = "CASE " + " ".join(
            f"WHEN {source_col} = '{s}' THEN {r!r}" for s, r in rates.items()
        ) + f" ELSE {default_rate!r} END"
    else:
        rate = repr(default_rate)
    return (
        docs.withColumn("__u", F.expr(u))
        .filter(F.expr(f"__u < CAST({rate} * 1000000 AS BIGINT)"))
        .drop("__u")
    )


def temperature_mixture_weights(docs: DataFrame, alpha: float = 0.3,
                                source_col: str = "source",
                                chars_col: str | None = None) -> DataFrame:
    """Temperature-based source sampling weights (the multilingual
    mixing rule of XLM-R / mT5: q_s ∝ p_s^alpha): per source, its raw
    share of the corpus, the alpha-smoothed target weight, and the
    per-document sampling rate that realizes the target in one pass of
    `sample_mixture` (rate_s ∝ q_s / p_s, scaled so max rate = 1 —
    i.e. keep the most-upsampled source whole and downsample the
    rest).  alpha = 1 keeps natural proportions; alpha → 0 approaches
    uniform over sources.

    Share is by document count, or by characters when `chars_col`
    names a length column.  One map-side-combined groupBy over sources
    plus window normalizations over the (tiny) per-source table — the
    corpus is scanned once."""
    if not 0 < alpha <= 1:
        raise ValueError("temperature_mixture_weights: alpha in (0, 1]")
    mass = (F.sum(chars_col) if chars_col else F.count("*")).alias("mass")
    per = docs.groupBy(source_col).agg(mass)
    return (
        per.withColumn("share", F.expr(
            "mass / CAST(SUM(mass) OVER () AS DOUBLE)"))
        .withColumn("weight", F.expr(
            f"round(POWER(share, {alpha!r}) "
            f"/ SUM(POWER(share, {alpha!r})) OVER (), 6)"))
        .withColumn("rate", F.expr(
            f"round((POWER(share, {alpha!r}) / share) "
            f"/ MAX(POWER(share, {alpha!r}) / share) OVER (), 6)"))
        .select(source_col, F.col("mass").cast("bigint").alias("mass"),
                F.round("share", 6).alias("share"), "weight", "rate")
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram model — the cheap engine-native stand-in for CCNet-style LM
    perplexity filtering: boilerplate and in-distribution text scores
    low, lexically unusual (often noisy) text scores high.  Returns
    (id_col, n_tokens, nll) with nll = (Σ_t tf_dt · -ln p(t)) / n_doc
    and p(t) = corpus_count(t) / corpus_tokens.

    Same shuffle topology as `tfidf_terms`: explode → (doc, term) tf
    (uniform keys, map-side combined), term-level corpus counts as a
    second map-side-combined agg joined back (AQE broadcasts while the
    vocabulary fits), total token count on a 1-row broadcast.  The
    per-doc reduction is the final uniform-key agg — no windows, no
    driver state."""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    tf = (
        docs.select(F.col(id_col).alias("id"),
                    F.explode(F.expr(words)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.select(F.sum("cf").alias("total"))
    return (
        tf.join(cf, "term")
        .join(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.expr("round(SUM(tf * -ln(cf / CAST(total AS DOUBLE))) "
                   "/ SUM(tf), 6)").alias("nll"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "nll")
    )


def sample_weighted(docs: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis one-pass key (2006): each row draws a deterministic
    md5-uniform u ∈ (0, 1] from its id and competes with key
    -ln(u) / w — the k smallest keys are exactly a weight-proportional
    sample without replacement.  The data-mixing primitive for "pick
    k documents, long ones proportionally more often", reproducible
    across runs, engines, and partitionings (no RNG state).

    Returns the k winning rows as (id_col, weight, samp_key), ordered
    by key.  Rows with NULL or non-positive weight never win (they get
    an infinite key — excluded before ranking).

    Scale shape: scan-side key computation + a global top-k, which
    Spark executes as per-partition TakeOrdered(k) forwarding only k
    rows per task to the single merge — no full sort, no shuffle of
    the corpus."""
    h = portable_hash(f"concat('{seed}:', CAST({id_col} AS STRING))")
    u = f"(({h} % 1000000) + 1) / 1000000.0"
    return (
        docs.filter(F.col(weight_col).isNotNull()
                    & (F.col(weight_col) > 0))
        .select(
            F.col(id_col),
            F.col(weight_col).cast("double").alias("weight"),
            F.expr(f"round(-ln({u}) / {weight_col}, 9)").alias("samp_key"),
        )
        .orderBy("samp_key", id_col)
        .limit(k)
    )


def _word_ngrams(text_col: str, n: int) -> str:
    """Distinct word n-gram array over the normalized text; empty (not
    short-slice-padded) when the document has fewer than n words, so a
    truncated tail can never spuriously match a benchmark gram."""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    return (
        f"CASE WHEN size({words}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({words}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({words}, i, {n})))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  threshold: int = 1, text_col: str = "text",
                  id_col: str = "doc_id", bench_text_col: str | None = None,
                  broadcast: bool = True) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with a held-out evaluation set (the GPT-3/PaLM-style
    n-gram overlap rule).

    100 TB shape: the benchmark side is eval-set sized (thousands of
    documents), so its distinct gram set broadcasts; the corpus side is
    a scan + map-side explode probing the broadcast hash relation, and
    the only corpus-keyed shuffles are the per-doc count and the join
    back for zero-hit documents — both at document grain, not gram
    grain.  Set broadcast=False for an atypically large benchmark and
    AQE picks the join strategy from observed sizes.

    Returns (id_col, n_grams, n_hits, hit_frac, contaminated)."""
    bench_grams = _word_ngrams(bench_text_col or text_col, n)
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.expr(_word_ngrams(text_col, n)).alias("__grams"),
    )
    bench = (
        benchmark.select(F.expr(bench_grams).alias("__bg"))
        .select(F.explode("__bg").alias("gram"))
        .distinct()
    )
    if broadcast:
        bench = F.broadcast(bench)
    # per-doc grams and the bench set are both distinct -> plain count
    hits = (
        base.select("__id", F.explode("__grams").alias("gram"))
        .join(bench, "gram")
        .groupBy("__id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        base.select("__id", F.size("__grams").alias("n_grams"))
        .join(hits, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr(
                "round(coalesce(n_hits, 0) / CAST(greatest(n_grams, 1) "
                "AS DOUBLE), 6)"
            ).alias("hit_frac"),
            (F.coalesce("n_hits", F.lit(0)) >= threshold).alias("contaminated"),
        )
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", window: int = 16) -> DataFrame:
    """Winnowing-style fingerprint: the minimum portable hash over each
    sliding window of word 4-grams, collected as a sorted distinct set.
    Compact representative of the document for containment checks.

    Staged with cache barriers (the `_shingled` pattern): without
    them, Catalyst collapses the projections and re-inlines the whole
    words→grams→md5 chain into every window lambda AND into any
    pushed-down filter a consumer adds — interpreted HOF lambdas get
    no common-subexpression elimination, so an explode+join consumer
    (fingerprint_overlap_pairs) went quadratic-in-expression-depth
    (measured 88 s → 0.9 s at sf0.01).  The cached intermediates are
    one short array row per document."""
    from .dedup import _spread

    norm = _NORM.format(c=text_col)
    words = f"filter(split(__ys_norm, ' '), t -> t <> '')"
    hashed = cache(
        _spread(docs.select(F.col(id_col), F.col(text_col).alias("__t")))
        .select(
            F.col(id_col),
            F.expr(_NORM.format(c="__t")).alias("__ys_norm"),
        )
        .select(
            F.col(id_col),
            F.expr("md5(__ys_norm)").alias("content_hash"),
            F.expr(
                f"transform(transform(sequence(1, greatest(1, "
                f"size({words}) - 3)), "
                f"i -> concat_ws(' ', slice({words}, i, 4))), g -> "
                f"{portable_hash('g')})"
            ).alias("__ys_gh"),
        )
    )
    mins = (
        f"transform(sequence(1, greatest(1, size(__ys_gh) - {window - 1})), "
        f"i -> array_min(slice(__ys_gh, i, {window})))"
    )
    return hashed.select(
        F.col(id_col),
        F.expr(f"array_sort(array_distinct({mins}))").alias("fingerprint"),
        "content_hash",
    )


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals (Gopher App. A repetition
    family): duplicate-word fraction, duplicate-bigram fraction, the
    most-frequent word's occurrence share, and the character share of
    repeated word occurrences (chars in occurrences after each word's
    first).

    Scan-only array SQL — the mode and duplicate-char passes are one
    run-length fold over the sorted token array each (no per-distinct
    re-scan, no explode, no shuffle), so the operator stays
    whole-stage-codegen and embarrassingly parallel at any corpus
    size."""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    n_words = f"greatest(size({words}), 1)"
    bigrams = (
        f"zip_with(slice({words}, 1, greatest(size({words}) - 1, 1)), "
        f"slice({words}, 2, greatest(size({words}) - 1, 1)), "
        f"(a, b) -> concat(a, ' ', b))"
    )
    n_bigrams = f"greatest(size({words}) - 1, 1)"
    # IF(empty, 0): 1 - 0/greatest(0,1) would report an empty doc as
    # fully duplicated (and diverge from the oracle's inner-join shape)
    dup_word = (
        f"IF(size({words}) = 0, 0.0D, round(1.0D "
        f"- size(array_distinct({words})) / CAST({n_words} AS DOUBLE), 6))"
    )
    dup_bigram = (
        f"IF(size({words}) = 0, 0.0D, round(1.0D "
        f"- size(array_distinct({bigrams})) / CAST({n_bigrams} AS DOUBLE), 6))"
    )
    top_word = (
        f"aggregate(array_sort({words}), "
        f"struct(CAST('' AS STRING) AS prev, 0 AS run, 0 AS best), "
        f"(s, x) -> struct(x AS prev, "
        f"IF(x = s.prev, s.run + 1, 1) AS run, "
        f"greatest(s.best, IF(x = s.prev, s.run + 1, 1)) AS best), "
        f"s -> s.best)"
    )
    dup_chars = (
        f"aggregate(array_sort({words}), "
        f"struct(CAST('' AS STRING) AS prev, 0 AS dup, 0 AS tot), "
        f"(s, x) -> struct(x AS prev, "
        f"s.dup + IF(x = s.prev, length(x), 0) AS dup, "
        f"s.tot + length(x) AS tot), "
        f"s -> round(s.dup / CAST(greatest(s.tot, 1) AS DOUBLE), 6))"
    )
    from .dedup import _spread  # single-file corpora: use all cores

    # empty/whitespace-only docs are dropped, not zero-filled: every
    # downstream consumer (gopher filter, oracle's unnest-join shape)
    # treats "no words" as "no repetition signal", and emitting a
    # zero row would diverge from the word-table inner-join row set
    return _spread(docs).filter(F.expr(f"size({words}) > 0")).select(
        F.col(id_col),
        F.expr(f"size({words})").alias("n_words"),
        F.expr(dup_word).alias("dup_word_frac"),
        F.expr(dup_bigram).alias("dup_bigram_frac"),
        F.expr(f"round({top_word} / CAST({n_words} AS DOUBLE), 6)")
        .alias("top_word_frac"),
        F.expr(dup_chars).alias("dup_char_frac"),
    )


def source_quota(docs: DataFrame, per_source: int,
                 id_col: str = "doc_id",
                 source_col: str = "source",
                 order_col: str | None = None) -> DataFrame:
    """Deterministic per-source quota sampling: keep at most
    `per_source` documents of each source — by default chosen by a
    portable md5 order over ids (a seedless uniform draw both engines
    reproduce); pass `order_col` (e.g. a quality score) to keep each
    source's BEST documents instead (descending, id tie-break).

    The rank window compiles to a map-side partial WindowGroupLimit —
    each scan task forwards at most `per_source` rows per source, so
    the reducer input is bounded by sources x quota, not corpus size:
    the canonical "cap every domain" pass of a crawl pipeline."""
    from pyspark.sql import Window

    order = (
        [F.col(order_col).desc()] if order_col
        else [F.expr(f"md5(CAST({id_col} AS STRING))")]
    )
    w = Window.partitionBy(source_col).orderBy(*order, F.col(id_col))
    return (
        docs.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= per_source)
        .select(F.col(id_col), F.col(source_col), "quota_rank")
    )


def tfidf_terms(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", top_k: int = 3,
                min_df: int = 1) -> DataFrame:
    """Top-`top_k` characteristic terms per document by tf-idf
    (smoothed idf = ln((N + 1) / (df + 1))).

    Shuffle topology at scale: explode -> groupBy(doc, term) for tf
    (uniform keys, map-side combined), term-level df from the distinct
    pairs (second map-side-combined aggregation), one join back on term
    — AQE broadcasts the df table while vocabularies fit, falls back to
    a uniform term-keyed exchange when they don't — and a per-doc rank
    window that runs as a map-side partial WindowGroupLimit.  The doc
    count N rides a 1-row broadcast cross join, not a collect."""
    from pyspark.sql import Window

    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    # cache barrier: tf feeds BOTH the df aggregation and the final
    # join — without it Catalyst re-executes the explode+agg subtree
    # per consumer (measured 6 parquet scans / 14 exchanges in the 10x
    # plan; 2 scans / 5 exchanges with the barrier, 4.7 s -> ~1.5 s)
    from .dedup import _spread

    # _spread: a single-file corpus is one input split, which would
    # pin the normalize/explode chain to one core (same artifact the
    # heavy-hitters sketch measured); at scale the scan already has
    # enough splits and this is a no-op
    spread_words = (f"filter(split({_NORM.format(c='__t')}, ' '), "
                    "t -> t <> '')")
    tf = cache(
        _spread(docs.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("__t")))
        .select("id", F.explode(F.expr(spread_words)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .filter(F.col("df") >= min_df)
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.expr("round(tf * ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)), 6)"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_k)
        .select(F.col("id").alias(id_col), "term", "tf", "df",
                "tfidf", "term_rank")
    )


def split_corpus(docs: DataFrame, weights: dict[str, float],
                 id_col: str = "doc_id", seed: str = "") -> DataFrame:
    """Deterministic weighted train/val/test split: each document draws
    a portable md5-uniform value in [0, 1) from its id (plus an
    optional seed string) and lands in the first split whose cumulative
    weight exceeds the draw.  Reproducible across engines, runs, and
    partitionings — unlike `randomSplit`, whose assignment depends on
    partition layout.

    Scan-only (one md5 + a CASE ladder, no shuffle).  For
    leakage-safe splitting of near-duplicate families, feed cluster
    ids from `dedup_assign` as `id_col` so every member of a dup
    cluster lands in the same split."""
    return docs.withColumn(
        "split", F.expr(_split_case_expr(id_col, weights, seed)))


def _split_case_expr(id_col: str, weights: dict[str, float],
                     seed: str) -> str:
    """The split-assignment CASE ladder as a SQL string — a pure
    function of the id, shared by `split_corpus` and `split_leakage`
    (which evaluates it on BOTH ids of a near-dup pair without any
    join)."""
    total = sum(weights.values())
    if not weights or total <= 0:
        raise ValueError("split_corpus: weights must sum to a positive value")
    # names and seed are interpolated into SQL string literals — reject
    # quote/backslash/control characters rather than attempt escaping
    # (engine-portable, and a split named "tra'in" is a bug anyway)
    import re as _re

    for s in [seed, *weights]:
        if _re.search(r"[\'\"\\\x00-\x1f]", s):
            raise ValueError(
                f"split_corpus: split name/seed {s!r} may not contain "
                "quotes, backslashes, or control characters"
            )
    h = portable_hash(f"concat(CAST({id_col} AS STRING), '{seed}')")
    u = f"({h} % 1000000) / 1000000.0"
    expr = "CASE"
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        expr += f" WHEN {u} < {acc!r} THEN '{name}'"
    expr += f" ELSE '{names[-1]}' END"
    return expr


def split_leakage(docs: DataFrame, weights: dict[str, float],
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 5, threshold: float = 0.8,
                  seed: str = "") -> DataFrame:
    """Cross-split near-duplicate leakage audit: every n-gram-Jaccard
    near-dup pair (`dedup.ngram_jaccard_pairs`, the exact ppjoin path)
    whose two documents land in DIFFERENT `split_corpus` splits —
    i.e. eval rows a model will have effectively seen in training.
    Returns (id_a, id_b, jaccard, split_a, split_b), the actionable
    worklist (re-split by dup-cluster id, or drop the eval member).

    Scale shape: the pair generator is the bounded ppjoin prefix
    join (never all-pairs); split assignment is a pure md5 function
    of each id, evaluated scan-side on the PAIR rows directly — no
    join against a corpus-sized assignment table, no extra shuffle
    beyond the pair generator's own."""
    from .dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, text_col=text_col, id_col=id_col,
                                k=k, threshold=threshold)
    return (
        pairs.withColumn(
            "split_a", F.expr(_split_case_expr("id_a", weights, seed)))
        .withColumn(
            "split_b", F.expr(_split_case_expr("id_b", weights, seed)))
        .filter(F.col("split_a") != F.col("split_b"))
    )


def leakage_safe_split(docs: DataFrame, weights: dict[str, float],
                       pairs: DataFrame, id_col: str = "doc_id",
                       seed: str = "") -> DataFrame:
    """The remediation for `split_leakage`: split assignment keyed by
    each document's near-dup CLUSTER representative (component-min id
    from `dedup_assign`; singletons key on their own id), so an entire
    duplicate family always lands in one split and no near-dup pair
    from `pairs` can cross a split boundary — by construction, not by
    luck.  Returns (doc_id, cluster_id, keep, split).

    Scale shape: `dedup_assign`'s component table holds only docs
    that appear in a pair (a small fraction of the corpus — AQE
    broadcasts it); the split label is then a pure md5 CASE of
    cluster_id, scan-side, no further shuffle."""
    from .cluster import dedup_assign

    assign = dedup_assign(docs, pairs, id_col=id_col)
    return assign.withColumn(
        "split", F.expr(_split_case_expr("cluster_id", weights, seed)))


def decontaminate_bloom(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                        threshold: int = 1, text_col: str = "text",
                        id_col: str = "doc_id",
                        bench_text_col: str | None = None,
                        m_bits: int = 1 << 20,
                        k_hashes: int = 5) -> DataFrame:
    """`decontaminate` for benchmark gram sets too large to broadcast
    exactly: the eval set compresses to an `m_bits` Bloom bitmap
    (k_hashes portable hash probes per gram) that ships to executors
    inside an Arrow-UDF closure — kilobytes instead of the gram
    relation, at the price of a bounded false-positive rate
    (~(1 - e^(-k·n/m))^k; n=10^6 grams at the 1 MiB/5-hash default is
    ≈2.2 %).  False negatives are impossible, so `contaminated` here is
    a superset of the exact operator's verdicts — the safe direction
    for decontamination (over-removal, never leakage).

    The bitmap is built driver-side from the benchmark's distinct gram
    hash positions (eval-set sized, k·n_grams ints — bounded by the
    same argument as `decontaminate`'s broadcast).  The corpus side
    stays one scan: grams per doc via array SQL, membership via one
    vectorized numpy pass per Arrow batch.

    Returns (id_col, n_grams, n_hits, hit_frac, contaminated) with
    n_hits counting grams the filter reports present."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from .dedup import _spread

    bench_grams = _word_ngrams(bench_text_col or text_col, n)

    def f_concat(i: int) -> str:
        return f"concat(gram, '{i}')"

    pos_exprs = [
        F.expr(
            f"pmod({portable_hash(f_concat(i))}, {m_bits})"
        ).alias(f"p{i}")
        for i in range(k_hashes)
    ]
    positions = (
        benchmark.select(F.explode(F.expr(bench_grams)).alias("gram"))
        .distinct()
        .select(*pos_exprs)
        .collect()
    )
    bitmap = np.zeros(m_bits, dtype=bool)
    for row in positions:
        for i in range(k_hashes):
            bitmap[row[f"p{i}"]] = True

    salts = [str(i) for i in range(k_hashes)]

    @pandas_udf("int")
    def bloom_hits(grams: pd.Series) -> pd.Series:
        import hashlib

        out = np.zeros(len(grams), dtype="int32")
        for j, gs in enumerate(grams):
            if gs is None:
                continue
            hits = 0
            for g in gs:
                ok = True
                for s in salts:
                    h = int(hashlib.md5((g + s).encode()).hexdigest()[:15],
                            16) % m_bits
                    if not bitmap[h]:
                        ok = False
                        break
                hits += ok
            out[j] = hits
        return pd.Series(out)

    base = _spread(docs).select(
        F.col(id_col),
        F.expr(_word_ngrams(text_col, n)).alias("__grams"),
    )
    return base.select(
        F.col(id_col),
        F.size("__grams").alias("n_grams"),
        bloom_hits(F.col("__grams")).alias("n_hits"),
    ).select(
        id_col, "n_grams", "n_hits",
        F.expr("round(n_hits / CAST(greatest(n_grams, 1) AS DOUBLE), 6)")
        .alias("hit_frac"),
        (F.col("n_hits") >= threshold).alias("contaminated"),
    )


def token_budget_select(docs: DataFrame, budget: int,
                        text_col: str = "text", id_col: str = "doc_id",
                        score_col: str | None = None) -> DataFrame:
    """Token-budgeted corpus selection: rank documents by quality
    (descending, ties to the lower id) and keep the prefix whose
    cumulative whitespace-token count fits `budget` — "fill a 1T-token
    training budget with the best documents".  Returns the selected
    rows as (doc_id, score, n_tokens, cum_tokens); a document is
    selected iff the running total INCLUDING it is <= budget.
    Zero-token documents are excluded (they contribute nothing).

    `score_col` names a caller-supplied score column; None computes
    the `quality_score` composite inline (no join).

    The global running total is NOT a single-partition window: rows
    are range-partitioned on (score DESC, id) and cumsummed per
    partition in parallel; partition totals — one row each — come to
    the driver for an exact prefix sum that broadcasts back (the same
    two-phase scan as `pack_sequences`, and the same cache pin: range
    boundaries are sampled with a plan-dependent seed, so the
    partitioning the collect saw must be the one the final filter
    reads)."""
    from pyspark.sql import Window

    norm = _NORM.format(c=text_col)
    n_tok = f"size(filter(split({norm}, ' '), t -> t <> ''))"
    score = (F.col(score_col) if score_col is not None
             else F.expr(_quality_expr(text_col)))
    base = (
        docs.select(F.col(id_col), score.alias("score"),
                    F.expr(n_tok).alias("n"))
        .filter(F.col("n") > 0)
        .repartitionByRange(F.col("score").desc(), F.col(id_col))
        .sortWithinPartitions(F.col("score").desc(), F.col(id_col))
        .withColumn("pid", F.spark_partition_id())
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("score").desc(), F.col(id_col)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = cache(base.withColumn("lcum", F.sum("n").over(w)))
    part_totals = (
        local.groupBy("pid").agg(F.max("lcum").alias("ptotal")).collect()
    )
    offsets, acc = {}, 0
    for row in sorted(part_totals, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["ptotal"]
    off_df = local.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "pid INT, poff BIGINT",
    )
    return (
        local.join(F.broadcast(off_df), "pid")
        .withColumn("cum_tokens", (F.col("poff") + F.col("lcum")))
        .filter(F.col("cum_tokens") <= budget)
        .select(F.col(id_col), "score",
                F.col("n").alias("n_tokens"), "cum_tokens")
    )


def pack_sequences(docs: DataFrame, max_tokens: int,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """GPT-style sequence packing: concatenate every document's token
    stream in id order and cut it into fixed `max_tokens` windows.
    Returns one row per (document × overlapped sequence):
    (id_col, seq_id, doc_tok_start, n_tok) — a doc straddling a cut
    emits one row per sequence it spans, so a loader can gather each
    training sequence's pieces by seq_id.

    The global running token offset is NOT a single-partition window:
    rows are range-partitioned by id and cumsummed per partition
    (windows keyed on spark_partition_id run in parallel), partition
    totals — one row per partition — come to the driver for an exact
    prefix sum, and the offsets broadcast back.  This is the standard
    two-phase scan; the only driver state is #partitions integers, so
    the op holds at any corpus size.  Empty documents are skipped
    (zero-width spans would attach to an arbitrary cut).

    `local` is CACHED before the driver collect: repartitionByRange
    samples its boundaries with a plan-dependent seed, so re-executing
    the lineage for the consumer's action could land boundary rows in
    a different spark_partition_id than the one the collected offsets
    were computed from, silently corrupting every downstream offset.
    The cache pins the partitioning the collect saw; the final join
    reads those same materialized partitions (registered with
    the sparkutil registry so clear_dedup_caches() releases it)."""
    from pyspark.sql import Window

    norm = _NORM.format(c=text_col)
    n_tok = f"size(filter(split({norm}, ' '), t -> t <> ''))"
    toks = (
        docs.select(F.col(id_col).alias("id"), F.expr(n_tok).alias("n"))
        .filter(F.col("n") > 0)
        .repartitionByRange(F.col("id"))
        .sortWithinPartitions("id")
        .withColumn("pid", F.spark_partition_id())
    )
    w = Window.partitionBy("pid").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = cache(toks.withColumn("lcum", F.sum("n").over(w)))
    part_totals = (
        local.groupBy("pid").agg(F.max("lcum").alias("ptotal"))
        .collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(part_totals, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["ptotal"]
    off_df = local.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "pid INT, poff BIGINT",
    )
    spans = (
        local.join(F.broadcast(off_df), "pid")
        .withColumn("cend", F.col("poff") + F.col("lcum"))
        .withColumn("cstart", F.col("cend") - F.col("n"))
    )
    return (
        spans.withColumn(
            "seq_id",
            F.explode(F.expr(
                f"sequence(cstart DIV {max_tokens}, "
                f"(cend - 1) DIV {max_tokens})"
            )),
        )
        .select(
            F.col("id").alias(id_col),
            "seq_id",
            (F.greatest(F.col("cstart"), F.col("seq_id") * max_tokens)
             - F.col("cstart")).alias("doc_tok_start"),
            (F.least(F.col("cend"), (F.col("seq_id") + 1) * max_tokens)
             - F.greatest(F.col("cstart"), F.col("seq_id") * max_tokens))
            .alias("n_tok"),
        )
    )


def fingerprint_overlap_pairs(docs: DataFrame, min_shared: int = 2,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              window: int = 16,
                              max_df: int | None = None) -> DataFrame:
    """Shared-substring candidate pairs via winnowing fingerprints:
    documents sharing >= `min_shared` fingerprint hashes very likely
    share verbatim word-4-gram runs (the MOSS plagiarism-detection
    rule) — the cheap cross-document detector for copied passages that
    whole-document dedup misses.

    Returns (id_a, id_b, n_shared) with id_a < id_b.  The join key is
    one fingerprint hash (md5-uniform, no hot keys); each side carries
    only (id, hash), and the per-pair count is a map-side-combined
    aggregation — the same bounded bucket-join shape as every other
    candidate generator in `llm.dedup`.

    `max_df` is the degenerate-print backstop (same argument as
    `dedup._cap_buckets`): a boilerplate 4-gram run whose window-min
    hash lands in 10^5 documents makes the self-join quadratic IN THAT
    PRINT; capping document frequency drops such prints (they carry no
    discriminative signal) while pair recall through rarer shared
    prints is untouched.  The frequency window shuffles on the same
    key as the join, so the guard adds no new shuffle topology."""
    fp = (
        doc_fingerprint(docs, text_col, id_col, window)
        .select(F.col(id_col).alias("id"),
                F.explode("fingerprint").alias("h"))
    )
    if max_df:
        from pyspark.sql import Window

        fp = (
            fp.withColumn("__df", F.count("*").over(Window.partitionBy("h")))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    return (
        fp.alias("a")
        .join(fp.alias("b"),
              (F.col("a.h") == F.col("b.h"))
              & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def corpus_report(docs: DataFrame, text_col: str = "text",
                  source_col: str = "source",
                  lang_col: str = "lang") -> DataFrame:
    """One-scan corpus accounting per (source, lang): document count,
    token/char totals, mean quality-proxy ratios — the dashboard
    numbers a pipeline owner watches, computed as a single
    map-combined groupBy instead of one pass per metric.

    Every input expression is scan-only SQL shared inside one
    projection, so the whole report costs one corpus read + one
    bounded shuffle (groups = sources × languages)."""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    alpha = f"length(regexp_replace({norm}, '[^a-z]', ''))"
    return (
        docs.select(
            F.col(source_col).alias("source"),
            F.col(lang_col).alias("lang"),
            F.expr(f"size({words})").alias("__nw"),
            F.expr(f"length({norm})").alias("__nc"),
            F.expr(
                f"round({alpha} / CAST(greatest(length({norm}), 1) "
                f"AS DOUBLE), 6)"
            ).alias("__ar"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nw").alias("total_tokens"),
            F.sum("__nc").alias("total_chars"),
            F.expr("round(avg(__nw), 6)").alias("avg_tokens"),
            F.expr("round(avg(__ar), 6)").alias("avg_alpha_ratio"),
        )
        .orderBy("source", "lang")
    )


def vocab_coverage(docs: DataFrame, top_n: int = 100,
                   text_col: str = "text") -> DataFrame:
    """Token-coverage curve for tokenizer-vocabulary sizing: the
    top-`top_n` terms by occurrence count and the cumulative fraction
    of ALL corpus token occurrences a vocabulary truncated at each
    rank would cover — the "how big does the vocab need to be" curve.

    Returns (rank, term, tf, cum_frac) ordered by rank.

    Scale shape: one explode + map-side-combined term count (the only
    corpus-sized shuffle), a 1-row grand total broadcast, and a
    distributed TakeOrdered for the top-n — the global window that
    computes ranks and the running sum runs over the ALREADY-TRUNCATED
    top_n rows, never over the full vocabulary."""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    tf = (
        docs.select(F.explode(F.expr(words)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    total = tf.agg(F.sum("tf").alias("__total"))
    top = (tf.orderBy(F.col("tf").desc(), F.col("term")).limit(top_n)
           .join(F.broadcast(total)))
    w = Window.orderBy(F.col("tf").desc(), F.col("term"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_frac",
            F.expr("round(SUM(tf) OVER (ORDER BY tf DESC, term "
                   "ROWS UNBOUNDED PRECEDING) "
                   "/ CAST(__total AS DOUBLE), 6)"),
        )
        .select("rank", "term", "tf", "cum_frac")
    )


def ngram_counts(docs: DataFrame, n: int = 2, top_k: int = 50,
                 text_col: str = "text") -> DataFrame:
    """Top-k corpus-wide word n-grams by OCCURRENCE count (not
    document frequency) — the merge-candidate primitive behind
    BPE-style tokenizer training and collocation mining.

    Returns (ngram, tf, rank) by count desc, ngram asc.

    One explode of per-doc n-gram arrays (occurrences kept, unlike
    `decontaminate`'s distinct sets) into a map-side-combined count;
    top-k is a distributed TakeOrdered, rank assigned over k rows."""
    if n < 1:
        raise ValueError("ngram_counts: need n >= 1")
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    grams = (
        f"transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__w, i, {n})))"
    )
    counts = (
        docs.select(F.expr(words).alias("__w"))
        .filter(F.expr(f"size(__w) >= {n}"))
        .select(F.explode(F.expr(grams)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("ngram"))
        .limit(top_k)
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("ngram"))
    return counts.withColumn("rank", F.row_number().over(w))


def duplicated_spans(docs: DataFrame, n: int = 8, min_count: int = 2,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicated-substring spans — the word-level analogue of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), whose suffix-array pass removes any substring
    repeated verbatim in the corpus.  A span is a MAXIMAL run of
    word positions whose every word n-gram occurs >= `min_count`
    times corpus-wide (multiplicity counts repeats inside one
    document too).  This gram-consecutive criterion is the standard
    distributed relaxation of the suffix-array definition: every
    repeated substring of >= n words is fully covered by such a span,
    while a span's individual grams may repeat at different sites.

    Returns (doc_id, start_word, end_word, span_words), 1-based
    inclusive word positions.

    Scale shape: gram hashing is scan-only array SQL (one md5 per
    token, staged behind the `_cache` barrier like `doc_fingerprint`
    — HOF lambdas get no CSE); the corpus-wide gram count is ONE
    token-scale map-side-combined aggregation on uniform md5 keys —
    the distributed stand-in for the suffix array, and the only big
    shuffle; positions then semi-join the (small, duplicated-only)
    gram set, and island-merging is a per-document window over just
    the duplicated positions.  Unlike `fingerprint_overlap_pairs`
    nothing self-joins, so no degenerate-print cap is needed."""
    from .dedup import _spread

    words = "filter(split(__ys_norm, ' '), t -> t <> '')"
    hashed = cache(
        _spread(docs.select(F.col(id_col), F.col(text_col).alias("__t")))
        .select(F.col(id_col),
                F.expr(_NORM.format(c="__t")).alias("__ys_norm"))
        .select(
            F.col(id_col),
            F.expr(f"size({words})").alias("__ys_nw"),
            F.expr(
                f"transform(transform(sequence(1, greatest(1, "
                f"size({words}) - {n - 1})), "
                f"i -> concat_ws(' ', slice({words}, i, {n}))), g -> "
                f"{portable_hash('g')})"
            ).alias("__ys_gh"),
        )
    )
    pos = hashed.select(
        F.col(id_col), F.col("__ys_nw"),
        F.posexplode("__ys_gh").alias("pos0", "gh"))
    dup = (pos.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_count).select("gh"))
    hits = pos.join(dup, "gh", "leftsemi")
    w = Window.partitionBy(id_col).orderBy("pos0")
    isl = hits.withColumn("isl", F.col("pos0") - F.row_number().over(w))
    return (isl.groupBy(id_col, "isl")
            .agg((F.min("pos0") + 1).alias("start_word"),
                 F.least(F.max("pos0") + n, F.max("__ys_nw"))
                 .alias("end_word"))
            .select(F.col(id_col), "start_word", "end_word",
                    (F.col("end_word") - F.col("start_word") + 1)
                    .alias("span_words")))


def mojibake_score(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   per_kchar_threshold: float = 1.0) -> DataFrame:
    """Encoding-artifact screen — the standard web-corpus cleaning
    signal for double-encoded UTF-8 and decode failures: counts of
    (a) classic mojibake lead sequences ('Ã'/'Â'/'â€' — UTF-8 bytes
    re-decoded as Latin-1), (b) the U+FFFD replacement character a
    lossy decode inserts, (c) C0/C1 control characters that never
    belong in text.  Returns (doc_id, n_chars, n_mojibake,
    n_replacement, n_control, per_kchar, flagged); `flagged` marks
    documents at or above `per_kchar_threshold` artifacts per 1000
    chars.  Scan-only regexp counting (whole-stage codegen, RE2-safe
    patterns) — no shuffle, no Python."""
    t = text_col
    moji = (f"size(regexp_extract_all({t}, "
            "'Ã|Â|â€', 0))")
    repl = f"size(regexp_extract_all({t}, '\\uFFFD', 0))"
    ctrl = (f"size(regexp_extract_all({t}, "
            "'[\\\\x00-\\\\x08\\\\x0b\\\\x0c\\\\x0e-\\\\x1f]', 0))")
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.expr(moji).alias("n_mojibake"),
        F.expr(repl).alias("n_replacement"),
        F.expr(ctrl).alias("n_control"),
    ).withColumn(
        "per_kchar",
        F.round((F.col("n_mojibake") + F.col("n_replacement")
                 + F.col("n_control"))
                * 1000.0 / F.greatest(F.col("n_chars"), F.lit(1)), 6),
    ).withColumn(
        "flagged", F.col("per_kchar") >= per_kchar_threshold
    )


def char_entropy(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Character-level Shannon entropy per document — the portable
    twin of the zlib-compression-ratio quality filter in Dolma /
    FineWeb-style pipelines: boilerplate, keyboard-mash and
    single-character spam score far from natural text's ~4 bits/char.
    Whitespace-only/empty documents are dropped (no distribution to
    measure), mirroring the oracle's unnest semantics.

    Scan-only array SQL, the `repetition_stats` sorted-run-length
    trick: sort the chars, find run boundaries, fold -p*log2(p) over
    the run lengths — O(n log n) per document inside codegen, no
    explode, no shuffle, no Python."""
    norm = _NORM.format(c=text_col)
    chars = "split(__ys_t, '')"
    ends = (f"filter(sequence(1, size({chars})), i -> "
            f"i = size({chars}) OR element_at(array_sort({chars}), i) <> "
            f"element_at(array_sort({chars}), i + 1))")
    return (
        docs.select(F.col(id_col), F.expr(norm).alias("__ys_t"))
        .filter("__ys_t <> ''")
        .select(
            F.col(id_col),
            F.expr(f"size({chars})").alias("n_chars_norm"),
            F.expr(f"{ends}").alias("__ys_ends"),
        )
        .select(
            F.col(id_col), "n_chars_norm",
            F.expr("size(__ys_ends)").alias("n_distinct"),
            F.round(F.expr(
                "-aggregate(zip_with(__ys_ends, "
                "concat(array(0), slice(__ys_ends, 1, "
                "size(__ys_ends) - 1)), (e, p) -> e - p), CAST(0 AS "
                "DOUBLE), (acc, L) -> acc + (CAST(L AS DOUBLE) / "
                "n_chars_norm) * log2(CAST(L AS DOUBLE) / "
                "n_chars_norm))"), 6).alias("char_entropy"),
        )
    )


def stratified_sample(docs: DataFrame, strata_cols: list[str],
                      n_per_stratum: int, id_col: str = "doc_id",
                      seed: int = 42) -> DataFrame:
    """Deterministic stratified sampling: EXACTLY ``n_per_stratum``
    rows per stratum (fewer when the stratum is smaller), chosen by a
    portable md5-uniform order on the id — reproducible across runs,
    engines, and partition layouts, unlike `sampleBy` (fractions, RNG,
    partition-dependent).  The eval-set construction primitive: equal
    representation per source/language regardless of corpus skew.

    Scale shape: one rank window per stratum that compiles to a
    map-side partial WindowGroupLimit (each task forwards at most n
    rows per stratum it sees), so the shuffle carries
    O(strata x n x tasks) rows, never the corpus."""
    u = portable_hash(f"concat('{seed}:', CAST({id_col} AS STRING))")
    w = (Window.partitionBy(*strata_cols)
         .orderBy(F.expr(u), F.col(id_col)))
    return (docs.withColumn("__ys_rk", F.row_number().over(w))
            .filter(F.col("__ys_rk") <= n_per_stratum)
            .drop("__ys_rk"))


def bigram_logprob(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   lam: float = 0.7) -> DataFrame:
    """Per-document mean negative log-likelihood under an interpolated
    corpus bigram model — one step up the KenLM-perplexity-filter
    ladder from `unigram_logprob`: word-salad text with plausible
    unigrams but impossible transitions now scores high.  Returns
    (id_col, n_bigrams, nll2) with
    nll2 = mean over positions of -ln(lam*P(w|v) + (1-lam)*P(w)),
    P(w|v) = C(v,w)/C(v) and P(w) = C(w)/total (single-word documents
    have no bigram positions and are dropped, as in the oracle).

    Same linear shuffle topology as `unigram_logprob` with one more
    uniform-key aggregate: per-doc bigram tf, corpus bigram counts,
    and two broadcast-friendly unigram joins — no windows, no driver
    state, token-scale everywhere."""
    from .dedup import _spread

    # stage the words array behind a cache barrier (the
    # `doc_fingerprint` rule): interpreted HOF lambdas get no CSE, so
    # referencing the split(...) expression inside element_at would
    # re-split the document once PER BIGRAM POSITION — O(n^2) per doc
    wl = cache(
        _spread(docs.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("__t")))
        .select("id", F.expr(
            f"filter(split({_NORM.format(c='__t')}, ' '), t -> t <> '')"
        ).alias("__ws")))
    big = ("transform(sequence(2, size(__ws)), i -> "
           "struct(element_at(__ws, i - 1) AS v, "
           "element_at(__ws, i) AS w))")
    # (no cache barrier on the doc-bigram table: measured at sf0.1,
    # AQE exchange reuse already dedupes the explode+aggregate subtree
    # across the bcf and score consumers — a cache added memory
    # pressure and zero steady-state win, r10 measurement)
    tf2 = (
        wl.select("id", F.explode(F.expr(
            f"IF(size(__ws) >= 2, {big}, array())")).alias("b"))
        .select("id", F.col("b.v").alias("v"), F.col("b.w").alias("w"))
        .groupBy("id", "v", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bcf = tf2.groupBy("v", "w").agg(F.sum("tf").alias("bcf"))
    uni = (
        wl.select(F.explode("__ws").alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    )
    total = uni.select(F.sum("cf").alias("total"))
    return (
        tf2.join(bcf, ["v", "w"])
        .join(uni.select(F.col("term").alias("v"),
                         F.col("cf").alias("cf_v")), "v")
        .join(uni.select(F.col("term").alias("w"),
                         F.col("cf").alias("cf_w")), "w")
        .join(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.expr(
                f"round(SUM(tf * -ln({lam} * bcf / CAST(cf_v AS DOUBLE)"
                f" + {1 - lam} * cf_w / CAST(total AS DOUBLE))) "
                f"/ SUM(tf), 6)").alias("nll2"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "nll2")
    )


def zipf_fit(docs: DataFrame, top_n: int = 50,
             text_col: str = "text") -> DataFrame:
    """Zipf power-law fit over the top-`top_n` terms: one row
    (n_terms, slope, intercept, r2) from the OLS regression of
    ln(tf) on ln(rank).  Natural corpora sit near slope -1; a slope
    far from -1 (or a poor r2) flags template/boilerplate floods,
    deduplication failures, or synthetic spam — a standard one-number
    corpus health check next to `vocab_coverage`.

    Scale shape: identical to vocab_coverage's — one map-combined term
    count is the only corpus-sized shuffle; the rank window and the
    regression aggregate run over `top_n` rows.  Built-in REGR_*
    aggregates keep the fit in codegen and make the oracle the same
    three function calls in DuckDB."""
    norm = _NORM.format(c=text_col)
    words = f"filter(split({norm}, ' '), t -> t <> '')"
    tf = (
        docs.select(F.explode(F.expr(words)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    top = tf.orderBy(F.col("tf").desc(), F.col("term")).limit(top_n)
    w = Window.orderBy(F.col("tf").desc(), F.col("term"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.expr("regr_slope(ln(tf), ln(rank))"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(ln(tf), ln(rank))"), 6)
        .alias("intercept"),
        F.round(F.expr("regr_r2(ln(tf), ln(rank))"), 6).alias("r2"),
    )


_DSIR_SCALE = 1_000_000  # 1e-6 quantization grid for log-ratios


def _dsir_words_expr(text_col: str) -> str:
    """The normalized word array every DSIR gram derives from.
    Normalization and word splitting stay JVM-side: Java and Python
    regex/lower semantics are not interchangeable (the minhash-port
    rule), while bigram assembly IS portable — the Arrow stages' `a +
    ' ' + b` over non-NULL strings equals the oracle's `concat_ws(' ',
    a, b)` code point for code point."""
    norm = _NORM.format(c=text_col)
    return f"filter(split({norm}, ' '), t -> t <> '')"


def _dsir_gram_buckets(words, n_buckets: int, memo: dict):
    """Bucket-count dict for one document's word array under the md5
    bucket hash: unigram + bigram occurrences (WITH multiplicity — DSIR
    weights are expectations over gram OCCURRENCES), each bucketed as
    int(md5(g).hexdigest()[:15], 16) % n_buckets — exactly the portable
    CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % n_buckets that
    DuckDB computes (integer value < 2^60, both operands
    non-negative), so the md5 DSIR surface is oracle-diffable.  The
    bounded per-task memo hashes each DISTINCT gram once (the minhash
    memo precedent; cleared on overflow so a huge-vocabulary corpus
    degrades to plain hashing, never to unbounded worker memory)."""
    import hashlib

    md5 = hashlib.md5
    loc: dict = {}
    ws = list(words)
    for g in ws if len(ws) < 2 else ws + [
            a + " " + b for a, b in zip(ws, ws[1:])]:
        b = memo.get(g)
        if b is None:
            if len(memo) >= 262_144:
                memo.clear()
            b = int(md5(g.encode("utf-8")).hexdigest()[:15],
                    16) % n_buckets
            memo[g] = b
        loc[b] = loc.get(b, 0) + 1
    return loc


def _xxh64_fixed(M, seeds):
    """Vectorized XXH64 over n same-length byte rows ((n, L) uint8)
    with per-row uint64 seeds — the numpy twin of the pure-Python
    reference in tests/xxh64_ref.py (public algorithm, xxHash spec),
    validated bit-for-bit against it and against Spark's expression in
    tests.  All arithmetic wraps in uint64 exactly as the spec's
    mod-2^64 does."""
    import numpy as np

    u64 = np.uint64
    P1 = u64(11400714785074694791)
    P2 = u64(14029467366897019727)
    P3 = u64(1609587929392839161)
    P4 = u64(9650029242287828579)
    P5 = u64(2870177450012600261)

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    def rnd(acc, lane):
        return rotl(acc + lane * P2, 31) * P1

    n, L = M.shape

    def w8(i):
        return np.ascontiguousarray(M[:, i:i + 8]).view("<u8").ravel()

    i = 0
    if L >= 32:
        a1 = seeds + P1 + P2
        a2 = seeds + P2
        a3 = seeds.copy()
        a4 = seeds - P1
        while i + 32 <= L:
            a1 = rnd(a1, w8(i))
            a2 = rnd(a2, w8(i + 8))
            a3 = rnd(a3, w8(i + 16))
            a4 = rnd(a4, w8(i + 24))
            i += 32
        h = rotl(a1, 1) + rotl(a2, 7) + rotl(a3, 12) + rotl(a4, 18)
        for a in (a1, a2, a3, a4):
            h = (h ^ rnd(u64(0), a)) * P1 + P4
    else:
        h = seeds + P5
    h = h + u64(L)
    while i + 8 <= L:
        h = rotl(h ^ rnd(u64(0), w8(i)), 27) * P1 + P4
        i += 8
    if i + 4 <= L:
        w4 = (np.ascontiguousarray(M[:, i:i + 4]).view("<u4")
              .ravel().astype(u64))
        h = rotl(h ^ (w4 * P1), 23) * P2 + P3
        i += 4
    while i < L:
        h = rotl(h ^ (M[:, i].astype(u64) * P5), 11) * P1
        i += 1
    h ^= h >> u64(33)
    h = h * P2
    h ^= h >> u64(29)
    h = h * P3
    h ^= h >> u64(32)
    return h


def _xxh64_many(bs: list, seeds) -> "object":
    """XXH64 of many variable-length byte strings with per-string
    seeds: group by length so every group is one `_xxh64_fixed` pass
    (fixed loop structure per length — fully vectorized)."""
    import numpy as np

    out = np.empty(len(bs), dtype=np.uint64)
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64,
                       count=len(bs))
    for L in np.unique(lens):
        sel = np.nonzero(lens == L)[0]
        if L == 0:
            M = np.zeros((len(sel), 0), dtype=np.uint8)
        else:
            buf = b"".join(bs[i] for i in sel)
            M = np.frombuffer(buf, dtype=np.uint8).reshape(
                len(sel), int(L))
        out[sel] = _xxh64_fixed(M, seeds[sel])
    return out


def _dsir_xxh_buckets_batch(wss, st: tuple, n_buckets: int) -> list:
    """Per-doc bucket-count dicts for a BATCH of word arrays under the
    xxhash64 gram hash (unigram = xxh64(w, seed 42), bigram chains the
    unigram hash as the second word's seed — exactly Spark's
    `xxhash64(a, b)` field chaining, so tests/xxh64_ref's
    `spark_xxhash64(a, b)` is its independent reference), buckets =
    pmod(signed64, n_buckets).  Empty/None word arrays map to None.
    Bucket assignments differ from md5's (both are uniform hashes of
    the same gram multiset), so xxhash64 weights are not comparable
    with an md5 oracle; everything downstream is identical.

    Distinct grams of the batch are memo-probed first and only the
    misses are vector-hashed (`_xxh64_many`), so a repeat-heavy corpus
    degrades to dict probes while a huge-vocabulary batch stays one
    numpy pass per string length.  The persistent memos (`st`) are
    cleared before a batch whose misses would push them past 262,144
    entries, and that batch's misses are then stored, so each memo
    peaks at max(262,144, one batch's distinct misses) entries — never
    unbounded worker memory.  The batch-local lookup is completed
    BEFORE the clear so chained seeds never miss."""
    import numpy as np

    uh, ub, bb = st  # word -> raw hash, word -> bucket, (a,b) -> bucket
    words: dict = {}
    bigrams: dict = {}
    for ws in wss:
        if ws is None or len(ws) == 0:
            continue
        for w in ws:
            words[w] = None
        if len(ws) >= 2:
            for k in zip(ws, ws[1:]):
                bigrams[k] = None
    lu_h = {}
    lu_b = {}
    miss_w = []
    for w in words:
        h = uh.get(w)
        if h is None:
            miss_w.append(w)
        else:
            lu_h[w] = h
            lu_b[w] = ub[w]
    if miss_w:
        hs = _xxh64_many([w.encode("utf-8") for w in miss_w],
                         np.full(len(miss_w), 42, dtype=np.uint64))
        bks = np.remainder(hs.view(np.int64), n_buckets)
        if len(uh) + len(miss_w) > 262_144:
            uh.clear()
            ub.clear()
        for w, h, b in zip(miss_w, hs, bks):
            lu_h[w] = uh[w] = h
            lu_b[w] = ub[w] = int(b)
    lu_bb = {}
    miss_b = []
    for k in bigrams:
        b = bb.get(k)
        if b is None:
            miss_b.append(k)
        else:
            lu_bb[k] = b
    if miss_b:
        seeds = np.fromiter((lu_h[a] for a, _ in miss_b),
                            dtype=np.uint64, count=len(miss_b))
        hs = _xxh64_many([b.encode("utf-8") for _, b in miss_b], seeds)
        bks = np.remainder(hs.view(np.int64), n_buckets)
        if len(bb) + len(miss_b) > 262_144:
            bb.clear()
        for k, b in zip(miss_b, bks):
            lu_bb[k] = bb[k] = int(b)
    out = []
    for ws in wss:
        if ws is None or len(ws) == 0:
            out.append(None)
            continue
        loc: dict = {}
        for w in ws:
            b = lu_b[w]
            loc[b] = loc.get(b, 0) + 1
        if len(ws) >= 2:
            for k in zip(ws, ws[1:]):
                b = lu_bb[k]
                loc[b] = loc.get(b, 0) + 1
        out.append(loc)
    return out


def _dsir_check_hash(hash_impl: str) -> None:
    """Driver-side guard, run before any Spark job: the bucketizer
    treats every non-md5 name as xxhash64, so an unknown name — from a
    caller or from a store's `_dsir_meta.json` — must fail here instead
    of silently bucketing with XXH64."""
    if hash_impl not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_impl must be 'md5' or 'xxhash64', got {hash_impl!r}")


def _dsir_bucketizer(hash_impl: str, n_buckets: int):
    """Per-batch (word arrays -> bucket-count dicts) callable for the
    Arrow fit/score stages, owning its per-task memo state."""
    if hash_impl == "md5":
        memo: dict = {}

        def run(wss):
            return [_dsir_gram_buckets(ws, n_buckets, memo)
                    if ws is not None and len(ws) else None
                    for ws in wss]

        return run
    st = ({}, {}, {})

    def run(wss):
        return _dsir_xxh_buckets_batch(wss, st, n_buckets)

    return run


def _dsir_bucket_counts(docs: DataFrame, target_cond: str,
                        n_buckets: int, text_col: str,
                        hash_impl: str = "md5") -> DataFrame:
    """(bucket, c_raw, c_target) gram-occurrence counts — the DSIR
    sufficient statistic.  Exactly mergeable (integer adds), which is
    what makes the persisted store's incremental update equal a full
    refit.

    One Arrow stage hashes the grams: per task it
    accumulates the complete bucket histogram (<= n_buckets rows) and
    yields it once, so only bucket-grain partials cross the exchange,
    and each gram occurrence costs one memoized dict probe (md5:
    hashlib per distinct gram; xxhash64: vectorized numpy XXH64 per
    distinct gram — `_dsir_xxh_buckets_batch`)."""
    from .dedup import _spread  # single-file inputs must not pin 1 core

    _dsir_check_hash(hash_impl)
    src = _spread(docs).select(
        F.expr(f"CAST(({target_cond}) AS INT)").alias("__t"),
        F.expr(_dsir_words_expr(text_col)).alias("__w"))

    def _fit(batches):
        import pandas as pd

        bucketize = _dsir_bucketizer(hash_impl, n_buckets)
        c_raw: dict = {}
        c_tgt: dict = {}
        t_seen: set = set()  # buckets with ≥1 non-NULL target flag:
        # F.sum over an all-NULL group is NULL, not 0 — preserved so
        # the persisted counts store is byte-identical
        for pdf in batches:
            locs = bucketize(list(pdf["__w"]))
            for t, loc in zip(pdf["__t"], locs):
                if loc is None:
                    continue
                t_ok = t is not None and t == t
                tt = int(t) if t_ok else 0
                for b, c in loc.items():
                    c_raw[b] = c_raw.get(b, 0) + c
                    if t_ok:
                        c_tgt[b] = c_tgt.get(b, 0) + c * tt
                        t_seen.add(b)
        buckets = sorted(c_raw)
        yield pd.DataFrame({
            "bucket": pd.Series(buckets, dtype="object"),
            "c_raw": pd.Series([c_raw[b] for b in buckets],
                               dtype="object"),
            "c_target": pd.Series(
                [c_tgt.get(b, 0) if b in t_seen else None
                 for b in buckets], dtype="object"),
        })

    return (
        src.mapInPandas(
            _fit, "bucket bigint, c_raw bigint, c_target bigint")
        .groupBy("bucket")
        .agg(F.sum("c_raw").alias("c_raw"),
             F.sum("c_target").cast("bigint").alias("c_target"))
    )


def _dsir_lr(counts: DataFrame, alpha: float,
             n_buckets: int) -> DataFrame:
    """Derive (bucket, c_raw, c_target, lr_q) over the COMPLETE bucket
    domain [0, n_buckets): buckets the fit corpus never touched get
    their zero-count smoothed log-ratio rather than silently
    contributing 0 — that is the principled DSIR default and it
    matters when a persisted store scores a NOVEL batch whose grams
    hash to unseen buckets.  (A complete domain also means scoring
    joins INNER, which a count() action cannot prune — the fit pass
    stays in every measured plan.)

    Totals come from a global window over the <=n_buckets-row table
    (one single-partition exchange of tiny rows) rather than a second
    aggregate consumer: a broadcast-joined totals subplan makes
    Catalyst re-execute the entire fit scan once per consumer (the
    tfidf double-scan class, caught by the plan test)."""
    spark = counts.sparkSession
    domain = spark.range(n_buckets).select(
        F.col("id").cast("bigint").alias("bucket"))
    filled = (
        domain.join(F.broadcast(counts), "bucket", "left")
        .select("bucket",
                F.coalesce("c_raw", F.lit(0)).cast("bigint")
                .alias("c_raw"),
                F.coalesce("c_target", F.lit(0)).cast("bigint")
                .alias("c_target"))
    )
    w = Window.partitionBy()
    totaled = filled.withColumn(
        "__tr", F.sum("c_raw").over(w)).withColumn(
        "__tt", F.sum("c_target").over(w))
    ab = alpha * n_buckets
    # round BEFORE the BIGINT cast: Spark's double->BIGINT cast
    # truncates while DuckDB's rounds, so the cast must only ever see
    # an exactly-integer-valued double
    lr = (f"(ln((c_target + {alpha}D) / (__tt + {ab}D)) "
          f"- ln((c_raw + {alpha}D) / (__tr + {ab}D)))")
    return totaled.select(
        "bucket", "c_raw", "c_target",
        F.expr(f"CAST(round({lr} * {_DSIR_SCALE}) AS BIGINT)")
        .alias("lr_q"))


def _dsir_score(docs: DataFrame, lrs: DataFrame, n_buckets: int,
                text_col: str, id_col: str,
                hash_impl: str = "md5") -> DataFrame:
    """Score documents against a complete-domain (bucket, lr_q) table.
    The scan side is one Arrow stage (see _dsir_bucket_counts) that
    emits per-doc (bucket, cnt) rows — <= distinct-buckets rows per
    doc — probing the broadcast bucket relation, reduced at doc grain
    with exact BIGINT sums of cnt*lr_q and IF(bucket>=0, cnt, 0).  A
    sentinel (-1, 0) row per gram-less (empty/NULL) doc, matched by
    the unioned sentinel bucket row, keeps it inside the aggregate
    WITHOUT a join-back; n_grams counts only real buckets.  The join
    is INNER over a complete key domain, so the result is exact AND
    no action can prune the fit subplan out of a measured run (a
    broadcast LEFT join is cardinality-preserving and count() deletes
    it, fit pass included — the second fake-bench class this operator
    hit)."""
    from .dedup import _spread

    spark = docs.sparkSession
    sentinel = spark.createDataFrame([(-1, 0)], "bucket bigint, lr_q bigint")
    rel = lrs.select("bucket", "lr_q").unionByName(sentinel)
    src = _spread(docs).select(
        F.col(id_col).alias("__id"),
        F.expr(_dsir_words_expr(text_col)).alias("__w"))
    id_type = src.schema["__id"].dataType.simpleString()

    def _grams(batches):
        import pandas as pd

        bucketize = _dsir_bucketizer(hash_impl, n_buckets)
        for pdf in batches:
            ids: list = []
            bks: list = []
            cns: list = []
            locs = bucketize(list(pdf["__w"]))
            for i, loc in zip(pdf["__id"], locs):
                if loc is None:
                    ids.append(i)
                    bks.append(-1)
                    cns.append(0)
                    continue
                for b, c in loc.items():
                    ids.append(i)
                    bks.append(b)
                    cns.append(c)
            # object dtype: an empty batch would otherwise infer
            # float64 columns Arrow cannot cast to bigint
            yield pd.DataFrame(
                {"__id": pd.Series(ids, dtype="object"),
                 "bucket": pd.Series(bks, dtype="object"),
                 "cnt": pd.Series(cns, dtype="object")})

    return (
        src.mapInPandas(
            _grams, f"__id {id_type}, bucket bigint, cnt bigint")
        .join(F.broadcast(rel), "bucket")
        .groupBy("__id")
        .agg(F.sum(F.expr("IF(bucket >= 0, cnt, 0L)"))
             .cast("bigint").alias("n_grams"),
             F.sum(F.expr("cnt * lr_q")).alias("__wq"))
        .select(
            F.col("__id").alias(id_col),
            F.col("n_grams").alias("n_grams"),
            # + 0.0 canonicalizes -0.0 (round of a tiny negative) to
            # +0.0 on both engines — the emb_covariance signed-zero
            # class that the driver's value hash distinguishes
            F.expr(f"round(__wq / {_DSIR_SCALE}.0D, 6) + 0.0D")
            .alias("logw"),
        )
    )


def dsir_bucket_logratios(docs: DataFrame, target_cond: str,
                          n_buckets: int = 1024, alpha: float = 1.0,
                          text_col: str = "text",
                          hash_impl: str = "md5") -> DataFrame:
    """Hashed n-gram bucket log-importance-ratios for DSIR (Data
    Selection with Importance Resampling, Xie et al. 2023): unigram +
    bigram occurrences hash into `n_buckets` buckets; each bucket gets
    lr = ln(p_target[b]) - ln(p_raw[b]) under add-`alpha` smoothing,
    where the target distribution is the sub-corpus satisfying
    `target_cond` (a SQL predicate over the document columns) and the
    raw distribution is the whole corpus.

    Returns (bucket, c_raw, c_target, lr_q) where lr_q is the
    log-ratio snapped to the 1e-6 integer grid — per-document weights
    sum lr_q as exact BIGINTs, so they are bit-identical under any
    partitioning (the `covariance_matrix` determinism contract).

    100 TB shape: one corpus scan (its Arrow stage collapses each task
    to bucket grain before the shuffle — at most #partitions *
    n_buckets rows move), one `n_buckets`-row aggregate,
    and a single-partition window over the tiny bucket table.  The
    output is <= n_buckets rows: broadcast material for any
    downstream scorer."""
    return _dsir_lr(
        _dsir_bucket_counts(docs, target_cond, n_buckets, text_col,
                            hash_impl),
        alpha, n_buckets)


def dsir_weights(docs: DataFrame, target_cond: str,
                 n_buckets: int = 1024, alpha: float = 1.0,
                 text_col: str = "text",
                 id_col: str = "doc_id",
                 hash_impl: str = "md5") -> DataFrame:
    """Per-document DSIR log-importance weight: the sum of bucket
    log-ratios over the document's gram occurrences (Xie et al. 2023,
    eq. 3 — the hashed-n-gram estimate of ln p_target(x)/p_raw(x)).
    High logw = looks like the target distribution; feed into
    `dsir_sample` (Gumbel top-k resampling) or threshold directly.

    Returns (id_col, n_grams, logw) for EVERY document — gram-less
    (empty/NULL) documents keep logw = 0.0 rather than dropping, so
    the output stays doc-grain joinable.

    Determinism: logw sums the 1e-6-quantized integer log-ratios
    (exact BIGINT adds, order-independent) and divides once at the
    end.  100 TB shape: the bucket table (<= n_buckets rows) is a
    broadcast hash relation; the corpus side is one Arrow scan stage
    emitting per-doc bucket counts that probe it, reduced at document
    grain with map-side combine.  Two corpus scans total (one to fit
    buckets, one to score) — the tf-idf two-pass shape.

    `hash_impl` is "md5" (portable: DuckDB computes the identical
    bucket, so the whole DSIR surface is oracle-diffable) or
    "xxhash64" (Spark's `xxhash64(a, b)` over the gram's two words —
    same plan shape, same determinism, different bucket assignment;
    see `_dsir_xxh_buckets_batch`).  Any other name raises ValueError
    before a Spark job runs."""
    lrs = dsir_bucket_logratios(docs, target_cond, n_buckets=n_buckets,
                                alpha=alpha, text_col=text_col,
                                hash_impl=hash_impl)
    return _dsir_score(docs, lrs, n_buckets, text_col, id_col, hash_impl)


def save_dsir_store(docs: DataFrame, target_cond: str, path: str,
                    n_buckets: int = 1024,
                    text_col: str = "text",
                    hash_impl: str = "md5") -> None:
    """Persist the DSIR sufficient statistic (the <=n_buckets-row
    gram-occurrence count table) so later batches score WITHOUT
    re-fitting the corpus — the same probe-only ingest contract as
    the minhash signature and BM25 index stores.  Counts, not
    log-ratios, are stored: integer counts merge exactly, so
    `update_dsir_store` + `dsir_score_with_store` equals a full refit
    over old ∪ new (pinned by test_dsir_store_incremental_equals_refit)."""
    import json
    from pathlib import Path

    counts = _dsir_bucket_counts(docs, target_cond, n_buckets, text_col,
                                 hash_impl)
    counts.write.mode("overwrite").parquet(str(Path(path) / "buckets"))
    # hash_impl persists with the store: scoring/updating MUST bucket
    # with the hash the counts were fitted under
    Path(path, "_dsir_meta.json").write_text(json.dumps(
        {"n_buckets": n_buckets, "target_cond": target_cond,
         "hash_impl": hash_impl}))


def update_dsir_store(new_docs: DataFrame, path: str,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> None:
    """Fold a batch of NEW documents into a `save_dsir_store` dataset
    — O(batch) scan work plus an O(n_buckets) merge, never a corpus
    refit.  Same caller contract as the other incremental stores:
    batches contain only unseen documents.

    CRASH SAFETY — idempotent like `update_bm25_index` (r10): a batch
    content fingerprint (row count + order-independent XORs of text
    hashes AND id hashes — the id term prevents XOR-cancel collisions
    between batches of duplicated texts; one O(batch) aggregate) is
    stamped into the meta sidecar
    at an atomic-rename commit AFTER the bucket swap.  Rerunning the
    same batch after a crash at any point converges to exactly-once:
    before the commit a pending marker triggers full rollback (restore
    `buckets_old`, drop `buckets_tmp`); after it the rerun is a no-op
    plus residue cleanup.  This also makes the foreachBatch streaming
    twin (`streaming.start_dsir_store_ingest`) RETRY-SAFE — Structured
    Streaming re-delivers a failed micro-batch, which previously
    double-counted its grams.  Pinned by
    tests/test_text_ops.py::test_dsir_update_crash_then_rerun."""
    import json
    import os
    from pathlib import Path

    from .store import (_dataset_exists, delete_dataset, heal_dataset,
                        raise_if_live_writer, rename_dataset,
                        writer_stamp)

    meta_p = Path(path, "_dsir_meta.json")
    pend_p = Path(path, "_dsir_pending.json")
    meta = json.loads(meta_p.read_text())
    _dsir_check_hash(meta.get("hash_impl", "md5"))
    if pend_p.exists():
        # single-writer contract: refuse to recover over a LIVE writer
        raise_if_live_writer(json.loads(pend_p.read_text()),
                             "update_dsir_store")
    spark = new_docs.sparkSession
    dst_p = str(Path(path) / "buckets")
    tmp_p = str(Path(path) / "buckets_tmp")
    stats = new_docs.agg(
        F.count("*").alias("n"),
        # xxhash64(NULL) yields the seed's hash (a constant), so NULL
        # texts fingerprint deterministically and differently from ''
        F.coalesce(F.expr(f"bit_xor(xxhash64({text_col}))"),
                   F.lit(0)).alias("xh"),
        # id-based term: duplicate texts XOR-cancel pairwise, so two
        # distinct batches of duplicated texts (legal — the unseen-docs
        # contract is per doc id) would collide on the text XOR alone;
        # ids are unique by contract, like update_bm25_index's hash
        F.coalesce(
            F.expr(f"bit_xor(xxhash64(CAST({id_col} AS STRING)))"),
            F.lit(0)).alias("xi"),
    ).collect()[0]
    bid = f"{int(stats['n'])}:{int(stats['xh'])}:{int(stats['xi'])}"
    if meta.get("last_batch") == bid:
        # fully applied by a run that crashed after the meta commit
        delete_dataset(spark, dst_p + "_old")
        delete_dataset(spark, tmp_p)
        pend_p.unlink(missing_ok=True)
        return
    if pend_p.exists():
        pend = json.loads(pend_p.read_text())
        if pend.get("batch") == meta.get("last_batch"):
            # the marked batch DID reach its meta commit (crash fell
            # between commit and residue cleanup) and this is a
            # DIFFERENT batch: store is consistent — clean residue,
            # never roll back a committed batch
            delete_dataset(spark, dst_p + "_old")
            delete_dataset(spark, tmp_p)
            pend_p.unlink()
        else:
            # a previous update died before its meta commit: roll back
            if _dataset_exists(spark, dst_p + "_old"):
                delete_dataset(spark, dst_p)
                rename_dataset(spark, dst_p + "_old", dst_p,
                               "update_dsir_store")
            delete_dataset(spark, tmp_p)
            pend_p.unlink()
    heal_dataset(spark, dst_p, "update_dsir_store")  # legacy mid-swap
    pend_p.write_text(json.dumps({"batch": bid, **writer_stamp()}))
    batch = _dsir_bucket_counts(new_docs, meta["target_cond"],
                                meta["n_buckets"], text_col,
                                meta.get("hash_impl", "md5"))
    merged = (
        spark.read.parquet(dst_p)
        .unionByName(batch)
        .groupBy("bucket")
        .agg(F.sum("c_raw").alias("c_raw"),
             F.sum("c_target").cast("bigint").alias("c_target"))
    )
    # rename-aside swap inlined (not store.swap_dataset): buckets_old
    # must OUTLIVE the swap until the meta commit so rollback can
    # always restore the pre-batch table
    merged.write.mode("overwrite").parquet(tmp_p)
    rename_dataset(spark, dst_p, dst_p + "_old", "update_dsir_store")
    rename_dataset(spark, tmp_p, dst_p, "update_dsir_store")
    meta_tmp = Path(path, "_dsir_meta.json.tmp")
    meta_tmp.write_text(json.dumps({**meta, "last_batch": bid}))
    os.replace(meta_tmp, meta_p)
    delete_dataset(spark, dst_p + "_old")
    pend_p.unlink()


def dsir_score_with_store(docs: DataFrame, path: str,
                          alpha: float = 1.0, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Score a batch against a persisted DSIR store: loads the
    <=n_buckets-row count table, derives the smoothed log-ratios, and
    probes them as a broadcast relation — ONE scan over the batch,
    zero work proportional to the corpus the store was fitted on."""
    import json
    from pathlib import Path

    meta = json.loads(Path(path, "_dsir_meta.json").read_text())
    _dsir_check_hash(meta.get("hash_impl", "md5"))
    spark = docs.sparkSession
    from .store import heal_dataset

    heal_dataset(spark, str(Path(path) / "buckets"),
                 "dsir_score_with_store")
    counts = spark.read.parquet(str(Path(path) / "buckets"))
    lrs = _dsir_lr(counts, alpha, meta["n_buckets"])
    return _dsir_score(docs, lrs, meta["n_buckets"], text_col, id_col,
                       meta.get("hash_impl", "md5"))


def dsir_sample(docs: DataFrame, target_cond: str, k: int,
                n_buckets: int = 1024, alpha: float = 1.0,
                tau: float = 1.0, seed: int = 42,
                text_col: str = "text",
                id_col: str = "doc_id",
                hash_impl: str = "md5") -> DataFrame:
    """DSIR resampling: k documents sampled WITHOUT replacement with
    probability proportional to exp(logw / tau) via the Gumbel
    top-k trick — key = logw/tau + Gumbel(0,1), take the k largest.
    The Gumbel draw is a deterministic md5-uniform of the document id
    (u strictly inside (0,1) so -ln(-ln(u)) is finite), making the
    sample reproducible across runs, engines, and partitionings.

    Returns (id_col, logw, samp_key) ordered by key descending.
    100 TB shape: `dsir_weights`'s two scans plus a global top-k,
    which Spark executes as per-partition TakeOrdered(k) — only k rows
    per task reach the driver-side merge, no full sort."""
    w = dsir_weights(docs, target_cond, n_buckets=n_buckets,
                     alpha=alpha, text_col=text_col, id_col=id_col,
                     hash_impl=hash_impl)
    h = portable_hash(f"concat('{seed}:', CAST({id_col} AS STRING))")
    u = f"(({h} % 999999) + 1) / 1000000.0D"
    return (
        w.select(
            F.col(id_col), "logw",
            # + 0.0: signed-zero canonicalization, see dsir_weights
            F.expr(f"round(logw / {tau}D - ln(-ln({u})), 6) + 0.0D")
            .alias("samp_key"),
        )
        .orderBy(F.col("samp_key").desc(), id_col)
        .limit(k)
    )


def shard_assign(docs: DataFrame, shard_tokens: int,
                 text_col: str = "text", id_col: str = "doc_id",
                 seed: int = 42) -> DataFrame:
    """Deterministic training-shard assignment — the final
    materialization step of a pretraining pipeline: shuffle the corpus
    with a reproducible md5 key, run the global token cumsum, and cut
    shards of ~`shard_tokens` whitespace tokens each (a document never
    splits; shard = floor(tokens-before-me / shard_tokens)).

    Returns (id_col, skey, n_tok, shard).  Zero-token (empty/NULL)
    documents keep a shard (they ride their shuffle position with
    weight 0) so no document is silently dropped at write time.

    The cumsum is the two-phase scan (per-bucket window cumsum +
    #buckets driver integers broadcast back), but unlike
    pack_sequences' generic id-ordered variant the range buckets here
    are DETERMINISTIC, not sampled: the order key is an md5 hex
    string — uniform by construction — so bucket =
    floor(first-8-hex-digits * n_buckets / 2^32) is a pure monotone
    function of the key (lowercase hex strings sort identically to
    their numeric value).  That deletes `repartitionByRange`'s
    sampling job (a full extra pass over the tokenize+md5 subplan)
    and the plan-dependent-seed boundary instability it brought; the
    `local` frame keeps its cache only so the totals aggregate and
    the join-back share one scan."""
    from pyspark.sql import Window

    norm = _NORM.format(c=text_col)
    n_tok = f"coalesce(size(filter(split({norm}, ' '), t -> t <> '')), 0)"
    key = (f"md5(concat('{seed}:', CAST({id_col} AS STRING)))")
    n_buckets = docs.sparkSession.sparkContext.defaultParallelism
    bucket = (f"CAST(CAST(conv(substring(skey, 1, 8), 16, 10) AS BIGINT) "
              f"* {n_buckets} DIV 4294967296 AS INT)")
    toks = (
        docs.select(F.col(id_col).alias("id"),
                    F.expr(key).alias("skey"),
                    F.expr(n_tok).cast("bigint").alias("n"))
        .withColumn("pid", F.expr(bucket))
    )
    w = Window.partitionBy("pid").orderBy("skey", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = cache(toks.withColumn("lcum", F.sum("n").over(w)))
    part_totals = (
        local.groupBy("pid").agg(F.max("lcum").alias("ptotal"))
        .collect()
    )
    offsets, acc = {}, 0
    for row in sorted(part_totals, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["ptotal"] or 0
    off_df = local.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "pid INT, poff BIGINT",
    )
    return (
        local.join(F.broadcast(off_df), "pid")
        .select(
            F.col("id").alias(id_col), "skey", F.col("n").alias("n_tok"),
            # integer division: exact at any corpus size (a double
            # floor holds only to ~2^53 cumulative tokens)
            F.expr(f"(poff + lcum - n) DIV {shard_tokens}")
            .cast("bigint").alias("shard"),
        )
    )


def shard_manifest(docs: DataFrame, shard_tokens: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   seed: int = 42) -> DataFrame:
    """Per-shard manifest of `shard_assign`: (shard, n_docs, n_tokens,
    first_id, last_id) with first/last in shuffle order — the audit
    artifact a loader checks against the written shards.  One shard
    row per ~shard_tokens of corpus; every aggregate is exact
    integers, so the manifest is bit-stable under any partitioning."""
    a = shard_assign(docs, shard_tokens, text_col=text_col,
                     id_col=id_col, seed=seed)
    return (
        a.groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("n_tokens"),
             F.expr(f"min_by({id_col}, skey)").alias("first_id"),
             F.expr(f"max_by({id_col}, skey)").alias("last_id"))
    )


def write_training_shards(docs: DataFrame, path: str, shard_tokens: int,
                          text_col: str = "text", id_col: str = "doc_id",
                          seed: int = 42) -> None:
    """Materialize the corpus as shard-partitioned parquet
    (`path/shard=N/...`): `shard_assign`'s deterministic cut joined
    back to the full rows, one directory per ~shard_tokens of corpus.
    The join is id-grain on two corpus-sized tables (sort-merge at
    scale); everything else is the write."""
    a = shard_assign(docs, shard_tokens, text_col=text_col,
                     id_col=id_col, seed=seed)
    (docs.join(a.select(id_col, "shard"), id_col)
     .repartition(F.col("shard"))
     .write.mode("overwrite").partitionBy("shard").parquet(path))
