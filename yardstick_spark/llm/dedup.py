"""Deduplication operators for document corpora.

All hot paths are JVM-side Spark SQL expressions (no Python UDFs):
hashes are md5-based so results are engine-portable (the DuckDB oracle
computes bit-identical signatures), shingling uses `sequence` +
`transform`, and the pair-generation joins are plain shuffle joins on
band/shingle keys that scale horizontally — the classic
MinHash-LSH layout (band hash -> bucket -> within-bucket candidate
pairs), not an O(n^2) cross join.

At 100 TB: `minhash_lsh_pairs` shuffles (band_id, band_hash) keys whose
cardinality is ~n_docs * n_bands with near-uniform distribution (md5),
so there is no skew hot-spot; candidate verification joins back to the
signature table via broadcast-able doc pairs per bucket.
"""

from __future__ import annotations

import decimal
import functools

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import (MH_P, cache, clear_dedup_caches,  # noqa: F401
                         collect_if_small, local_input, parquet_rows,
                         portable_hash)


def _pairs_hint(cand: DataFrame, max_pairs: int | None) -> DataFrame:
    """Optional measured broadcast hint for candidate-pair lists in
    verification joins.

    Default (max_pairs=None/0): no hint, no barrier.  AQE observes the
    candidate shuffle at runtime, broadcasts the genuinely-small side,
    and REUSES the candidate exchange for the verify join — measured
    strictly faster than an explicit cache+count barrier at sf0.1
    (ngram 6.0s -> 4.7s, minhash 7.5s -> 2.5s cold: the barrier
    serializes a pass AQE would have pipelined).

    With max_pairs set, the pair list is cached, counted, and
    broadcast when small — useful when the candidate pipeline is
    expensive enough that a scheduler-visible guarantee beats AQE's
    estimate, or to pin plans for tests.  Above `max_pairs` (dup-heavy
    corpora) the hint is dropped and AQE chooses."""
    if not max_pairs or max_pairs <= 0:
        return cand
    c = cache(cand)
    return F.broadcast(c) if c.count() <= max_pairs else c


def _norm_text(col: str = "text") -> str:
    """Normalization used before hashing: lowercase, collapse whitespace."""
    return f"regexp_replace(lower(trim({col})), '\\\\s+', ' ')"


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate detection on normalized text.

    Returns one row per document: (doc_id, content_hash, keep_id,
    is_duplicate).  keep_id = min doc_id in the hash group — a single
    hash-partitioned window, equivalent to groupBy+join but one shuffle.
    """
    from pyspark.sql import Window

    h = F.expr(f"md5({_norm_text(text_col)})")
    w = Window.partitionBy("content_hash")
    return (
        docs.select(F.col(id_col), h.alias("content_hash"))
        .withColumn("keep_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", (F.col(id_col) != F.col("keep_id")))
    )


def remove_duplicate_lines(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", min_docs: int = 2,
                           delimiter: str = "\n") -> DataFrame:
    """CCNet-style line-level dedup (Wenzek et al. 2020): a line whose
    normalized form appears in >= `min_docs` DISTINCT documents is
    boilerplate (headers, navigation, license blurbs) and is removed
    from EVERY document; the cleaned corpus is reassembled in original
    line order.  Returns (doc_id, clean_text, n_lines, n_dropped) —
    one row per document with a non-NULL text.

    Empty lines are never counted as duplicates (they are structure,
    not content) and are preserved in the reassembly.  `delimiter` is
    treated literally for both split and reassembly.

    Scale shape: the line-frequency table is ONE map-side-combined
    aggregation on normalized line keys (two-level: distinct (line,
    doc) then count — no collect_list of occurrences, so a line
    appearing in millions of documents costs one counter, not a
    memory blow-up); exploded lines left-join that (small,
    duplicates-only) table — AQE broadcasts it when it fits, so the
    corpus-sized side's only shuffle is the per-document reassembly
    groupBy.  Reassembly state is bounded by each document's own line
    count."""
    lines = _exploded_lines(docs, text_col, id_col, delimiter)
    freq = (
        _line_frequencies(lines, id_col)
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("line_key").alias("__k"),
                F.lit(True).alias("__dup"))
    )
    return _reassemble_clean(lines, freq, id_col, delimiter)


def _exploded_lines(docs: DataFrame, text_col: str, id_col: str,
                    delimiter: str) -> DataFrame:
    """(id, pos, line, __k): documents split on the literal delimiter
    with 1 row per line, keyed by the normalized line."""
    import re as _re

    return _spread(docs.select(
        F.col(id_col), F.col(text_col).alias("__t")
    ).filter(F.col("__t").isNotNull())).select(
        F.col(id_col),
        F.posexplode(
            F.split("__t", _re.escape(delimiter), -1)
        ).alias("pos", "line"),
    ).withColumn("__k", F.expr(_norm_text("line")))


def _line_frequencies(lines: DataFrame, id_col: str) -> DataFrame:
    """(line_key, n_docs): distinct-document count per non-empty
    normalized line — two-level distinct-then-count, map-side
    combined, no occurrence lists."""
    return (
        lines.filter(F.col("__k") != "")
        .select(F.col("__k").alias("line_key"),
                F.col(id_col).alias("__d")).distinct()
        .groupBy("line_key").agg(F.count("*").alias("n_docs"))
    )


def _reassemble_clean(lines: DataFrame, freq: DataFrame, id_col: str,
                      delimiter: str) -> DataFrame:
    """Join exploded lines against the (__k, __dup) boilerplate set
    and reassemble (doc_id, clean_text, n_lines, n_dropped)."""
    flagged = lines.join(freq, "__k", "left")
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("__dup").isNull(),
                           F.struct("pos", "line")))),
                lambda s: s["line"],
            ),
            delimiter,
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_dropped"),
    )


def save_line_frequencies(docs: DataFrame, path: str,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          delimiter: str = "\n") -> None:
    """Persist the corpus line-frequency table (normalized line key →
    distinct-doc count) — the corpus half of incremental line dedup,
    built once per corpus version (the line-level analogue of
    `save_dedup_signatures`).  Plain parquet: every ingest batch joins
    the whole relation on uniform string keys, so there is no probe
    axis to partition by."""
    lines = _exploded_lines(docs, text_col, id_col, delimiter)
    (_line_frequencies(lines, id_col)
     .write.mode("overwrite").parquet(f"{path}/line_freqs"))


def update_line_frequencies(new_docs: DataFrame, spark, path: str,
                            out_path: str, text_col: str = "text",
                            id_col: str = "doc_id",
                            delimiter: str = "\n") -> None:
    """Fold an ingest batch into a NEW store version at `out_path`
    (copy-on-write — Spark cannot safely overwrite an input it is
    reading): distinct-doc counts over disjoint doc sets merge by
    SUM."""
    old = spark.read.parquet(f"{path}/line_freqs")
    batch = _line_frequencies(
        _exploded_lines(new_docs, text_col, id_col, delimiter), id_col)
    (old.unionByName(batch)
     .groupBy("line_key").agg(F.sum("n_docs").alias("n_docs"))
     .write.mode("overwrite").parquet(f"{out_path}/line_freqs"))


def remove_duplicate_lines_incremental(new_docs: DataFrame, spark,
                                       path: str, min_docs: int = 2,
                                       text_col: str = "text",
                                       id_col: str = "doc_id",
                                       delimiter: str = "\n") -> DataFrame:
    """Clean an ingest batch against a PERSISTED corpus line-frequency
    store: a line is boilerplate when its distinct-doc count across
    corpus ∪ batch reaches `min_docs` (doc sets are disjoint, so the
    counts add).  Same output schema as `remove_duplicate_lines`,
    restricted to the batch — for batch documents the verdicts equal a
    full recompute over corpus ∪ batch (pinned by
    test_remove_duplicate_lines_incremental).  The corpus text is
    never re-read: cost is O(batch) plus a scan of the frequency
    parquet."""
    lines = _exploded_lines(new_docs, text_col, id_col, delimiter)
    batch_freq = _line_frequencies(lines, id_col)
    store = spark.read.parquet(f"{path}/line_freqs")
    combined = (
        batch_freq.join(store.withColumnRenamed("n_docs", "__corp"),
                        "line_key", "left")
        .filter(F.col("n_docs") + F.coalesce(F.col("__corp"),
                                             F.lit(0)) >= min_docs)
        .select(F.col("line_key").alias("__k"),
                F.lit(True).alias("__dup"))
    )
    return _reassemble_clean(lines, combined, id_col, delimiter)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism when the input has
    fewer partitions than cores.

    A small corpus arriving as one parquet file is one input split, so
    the CPU-heavy normalize/shingle/hash chain would pin a single core
    (measured 6.2s -> 0.6s for minhash signatures at sf0.1).  At scale
    the scan already has >= defaultParallelism splits and this is a
    no-op; the shuffled columns are only (id, text).

    The partition-count decision is STATIC whenever the frame is
    local-file backed: `df.rdd.getNumPartitions()` under AQE
    materializes every query stage upstream of the frame, so probing a
    MID-PIPELINE frame (the curation chain feeds filtered joins into
    its stages) executed the upstream subtree once per operator at
    plan-build time (measured ~3 s of javaToPython stages inside one
    pipeline_curation_full build).  Files totalling < cores * 32 MB
    cannot yield >= cores scan splits under any maxPartitionBytes >=
    32 MB, so the repartition decision needs no job there; the result
    is partition-layout independent either way (the package-wide
    determinism contract), and bigger or non-file inputs keep the
    exact probe (free on scan-only frames)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    local = local_input(df)
    if local is not None:
        try:
            raw = spark.conf.get(
                "spark.sql.files.maxPartitionBytes").lower().rstrip("b")
            mult = 1
            if raw and raw[-1] in "kmg":
                mult = {"k": 1 << 10, "m": 1 << 20,
                        "g": 1 << 30}[raw[-1]]
                raw = raw[:-1]
            mpb = int(raw) * mult
        except Exception:  # noqa: BLE001
            mpb = 128 << 20
        est_splits = 1 + local[1] // max(mpb, 1)
        if est_splits < target:
            return df.repartition(target)
        # the scan alone yields >= cores splits (and any upstream
        # shuffle only adds partitions) — executing the frame just to
        # read a partition count would double real work at scale
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _spread_by_bytes(df: DataFrame, bytes_per_part: int = 8 << 20,
                     rows_per_part: int | None = None) -> DataFrame:
    """Partitioning for Arrow decode chains: ~8 MB of scan input per
    partition, capped at defaultParallelism.

    Unlike the SQL-chain `_spread` (always full parallelism), every
    mapInPandas level pays a per-task Python-runner handshake that is
    partly serialized through the worker daemon, so a kilobyte-scale
    corpus fanned out to 32 tasks is pure overhead (measured 1.6 s ->
    0.45 s for a 3-level chain at 5000 rows).  The size estimate comes
    from the scan's file metadata on the driver — no Spark job; inputs
    that aren't local-file-backed (mid-pipeline, remote FS) fall back
    to `_spread`'s full-parallelism behavior, so at cluster scale this
    never down-partitions real data.

    `rows_per_part` adds a ROW-count floor for operators whose cost is
    per-row Python work rather than bytes (the pHash DCT: ~0.2 ms per
    payload regardless of payload size — a 2 MB corpus of 5k tiny
    images wants ~16 tasks, not 1; measured 1.58 s -> 0.59 s).  Row
    counts come from parquet footers on the driver (pyarrow metadata,
    no Spark job, no data read); inputs that are not all readable
    parquet skip the floor."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    target = cores
    local = local_input(df)
    if local is not None and local[1] > 0:
        paths, total = local
        target = min(cores, 1 + total // bytes_per_part)
        rows = parquet_rows(paths) if rows_per_part else None
        if rows:
            target = min(cores, max(target, 1 + rows // rows_per_part))
    if target < cores:
        n = int(target)
        # repartition, not coalesce: coalesce(n) MERGES scan splits and
        # would also cap any upstream explicit repartition at n, while
        # the row-floor case actively wants a fan-OUT of a few-split
        # scan; the shuffled volume is tiny by construction here
        return df.repartition(n) if rows_per_part else df.coalesce(n)
    return _spread(df)


def _shingled(docs: DataFrame, text_col: str, id_col: str,
              k: int) -> DataFrame:
    """(id, shs) with the distinct k-shingle array.

    cache() is a materialization barrier, not just reuse: Catalyst
    collapses the two projections and re-inlines the normalization
    regexp into the shingling lambda (one regexp PER SHINGLE instead of
    per document — measured 36s -> 4s for the downstream consumer at
    sf0.1).  The cached set is one short array row per document."""
    return cache(
        _spread(docs.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("__t"),
        ))
        .select(
            "id",
            F.expr(_norm_text("__t")).alias("__norm"),
        )
        .select(
            "id",
            # NULL text -> EMPTY shingle set, not [NULL]: a NULL
            # element would reach the rarity table's driver-side sort
            # (unorderable vs str) and give minhash a joinable
            # stringified band hash.  Empty set means the doc simply
            # contributes no shingle rows; minhash's array_min over
            # zero hashes still yields the all-NULL signature the
            # NULL contract expects.
            F.expr(
                f"IF(__norm IS NULL, CAST(array() AS ARRAY<STRING>), "
                f"array_distinct(transform("
                f"sequence(1, greatest(1, length(__norm) - {k - 1})), "
                f"i -> substring(__norm, i, {k}))))"
            ).alias("shs"),
        )
    )


def _family_collapse(rows: DataFrame, key_col: str):
    """(reps, members) for identical-`key_col` families: every row
    whose key (shingle-set array / minhash signature) is identical
    joins one family; `rep` is the family's min id.

    THE near-dup scale lever on boilerplate-heavy corpora: a family
    of f copies contributes f rows to every candidate bucket, so
    candidate volume grows ~f² per family while the DISTINCT-key
    workload is constant — measured 86x runtime growth for the ppjoin
    on a 10x-replicated corpus before this collapse, ~6x after.  The
    pair semantics are untouched because similarity is a pure
    function of the key: within a family sim = 1 exactly, and for
    any cross pair sim(a, b) = sim(rep_a, rep_b).  Cost when no
    duplicates exist: one hash shuffle of the key rows (the window),
    nothing else.

    One window, not groupBy-then-join-back: the arrays ride the
    shuffle once.  A mega-family is a hot window key, but the window
    computes only min(id) — no per-family row explosion here (the
    quadratic intra-family OUTPUT is the operator's contract and is
    produced by `_family_expand`).

    NULL keys must NOT form families: the uncollapsed band/prefix
    joins use SQL equality, which drops NULL band values, so two
    NULL-text docs (all-NULL minhash signature, NULL simhash) never
    pair there — but window partitionBy groups NULLs null-safely and
    would collapse them into ONE family whose re-expansion emits
    sim-1.0 intra pairs the uncollapsed path never produces.  A NULL
    (or NULL-element) key therefore makes the row its own singleton
    family: it stays a rep, downstream bucket joins drop it exactly
    as before, and a singleton owes no intra pairs."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col)
    null_key = F.col(key_col).isNull()
    if dict(rows.dtypes)[key_col].startswith("array"):
        # O(1), not exists(): every array key here is all-NULL or
        # all-non-NULL by construction (a minhash signature is one
        # array_min per hash over the SAME shingle set, so the whole
        # signature nulls together on an empty set; ppjoin sid arrays
        # are collect_list of non-NULL ints and can't hold NULLs), so
        # the first element decides — an exists() scan over the long
        # sid arrays measured ~2 s at sf0.1 for a check that's
        # per-element constant.  element_at also returns NULL for an
        # empty array, which correctly degrades to a singleton family.
        null_key = null_key | F.element_at(F.col(key_col), 1).isNull()
    tagged = cache(rows.withColumn(
        "__rep",
        F.when(null_key, F.col("id")).otherwise(F.min("id").over(w))))
    reps = tagged.filter(F.col("id") == F.col("__rep")).drop("__rep")
    members = tagged.select(F.col("__rep").alias("rep"), "id")
    return reps, members


def _family_expand(rep_pairs: DataFrame, members: DataFrame,
                   sim_col: str, threshold: float,
                   max_family_size: int | None = None,
                   intra_value=None) -> DataFrame:
    """Expand representative-level pairs back to document-level pairs
    and append the intra-family pairs (sim exactly 1.0, the value the
    uncollapsed path computes for identical keys).  `rep_pairs` is
    small relative to the corpus (it already passed the similarity
    threshold) — AQE broadcasts it against the two membership probes;
    the intra self-join's per-family fan-out IS the operator's output.

    `max_family_size` carries the `max_bucket_size` guard's intent
    through the collapse: a family of f members owes C(f, 2) intra
    pairs — quadratic OUTPUT a mega-family (1M identical docs) turns
    into the whole job — so over-cap families skip intra emission
    ("their pairs belong to exact dedup upstream", same contract as
    `_cap_buckets`; cross-family pairs still flow, which is strictly
    better recall than the uncollapsed cap gave).  Restores the
    numeric id_a < id_b output contract."""
    ma = members.select(F.col("rep").alias("id_a"),
                        F.col("id").alias("__ma"))
    mb = members.select(F.col("rep").alias("id_b"),
                        F.col("id").alias("__mb"))
    cross = (
        rep_pairs.join(ma, "id_a").join(mb, "id_b")
        .select(F.least("__ma", "__mb").alias("id_a"),
                F.greatest("__ma", "__mb").alias("id_b"), sim_col)
    )
    intra_src = members
    if max_family_size:
        from pyspark.sql import Window

        wf = Window.partitionBy("rep")
        intra_src = (
            members.withColumn("__fs", F.count("*").over(wf))
            .filter(F.col("__fs") <= max_family_size)
            .drop("__fs")
        )
    # intra_value: the similarity an identical-key pair scores in the
    # uncollapsed path — 1.0 for the Jaccard/containment/estimate
    # family, 0 for Hamming distances
    iv = F.lit(1.0) if intra_value is None else intra_value
    intra = (
        intra_src.alias("x")
        .join(intra_src.alias("y"),
              (F.col("x.rep") == F.col("y.rep"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                iv.alias(sim_col))
    )
    if threshold > 1.0:  # nothing can pass; mirror the plain filter
        return cross.unionByName(intra.limit(0))
    return cross.unionByName(intra)


def _hint_sets(df: DataFrame, force: bool | None) -> DataFrame:
    """Broadcast policy for pair-verification build sides.

    None (default) adds no hint: AQE observes the actual shuffle size
    and broadcasts when the side is genuinely small — at billion-doc
    scale the per-doc set/signature table exceeds any broadcast
    threshold and must shuffle-join, so an unconditional hint would OOM
    the driver.  True forces the hint (known-small corpora, saves the
    AQE stage boundary); False never broadcasts."""
    return F.broadcast(df) if force else df


def _rarity_sid_table(freq0: DataFrame) -> DataFrame:
    """Distributed dense rarity ranking of the distinct shingles in
    the cached `freq0` (sh, df): returns the (sh, sid) mapping with sid ordered by
    (df asc, value asc) — the consistent total order every
    prefix-filter join here relies on.  `_sid_sets` calls it only above
    200k shingles (smaller universes rank on the driver).

    Never a single-partition global window: range-partition by (df,
    sh) so partitions hold disjoint ordered slices, rank within each,
    and add per-partition offsets (one row per partition, a driver-side
    prefix sum)."""
    from pyspark.sql import Window

    npart = freq0.sparkSession.sparkContext.defaultParallelism
    ranked = cache(
        freq0.repartitionByRange(npart, "df", "sh")
        .withColumn("pid", F.spark_partition_id())
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("pid").orderBy("df", "sh")),
        )
    )
    sizes = {row["pid"]: row["cnt"] for row in
             ranked.groupBy("pid").agg(F.count("*").alias("cnt"))
             .collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # offsets as a literal lookup (one entry per partition) — no join
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for pid, off in offsets.items()
                       for x in (pid, off)]),
        F.col("pid"),
    ) if offsets else F.lit(0)
    return ranked.withColumn(
        "sid", (F.col("r") + off_expr).cast("long")
    ).select("sh", "sid")


def _sid_sets(sets0: DataFrame) -> tuple[DataFrame, int]:
    """(id, sids, n_sh, rk) per document with the rarity-ordered int
    sid set, plus the universe size — the shared front half of the
    Jaccard/containment prefix joins.

    `rk` hashes the sid set.  (id, sids) is unique among the reps of
    `_family_collapse` — equal sets are one family — so (id, rk) names
    one rep even when ids repeat, up to a 64-bit hash collision between
    same-id rows.  The candidate and verification steps key on it, so
    duplicate ids neither merge rows' position statistics nor fan a
    candidate out to every row sharing its id (which paired rows with
    themselves).

    Small universes (≤200k shingles, ranked on the driver by one
    collect of the distinct-shingle table) skip the explode →
    broadcast-join → collect_list → sort_array re-aggregation
    entirely: the ranking was ALREADY built on the driver, so the
    sh → sid mapping rides an Arrow stage's closure and
    each document's cached shingle array maps to its sorted sid array
    in one vectorized pass — no second explode of the corpus, no
    ObjectHashAggregate exchange (measured ~20 s of executor time and
    one keyed shuffle per sf0.1 query).  Document rows with an EMPTY
    shingle set emit no row, exactly like the explode they replace.
    Above 200k shingles `_rarity_sid_table` ranks them distributed and
    the ranked-join path runs."""
    sh = sets0.select("id", F.explode("shs").alias("sh"))
    # NULL shingles can't rank (the driver-side sort would compare None
    # vs str) and never join back anyway — drop them up front.  Cached
    # before any ranking: the distributed path's range-bounds sampling
    # job would otherwise re-run the explode+groupBy.
    freq0 = cache(sh.filter(F.col("sh").isNotNull())
                  .groupBy("sh").agg(F.count("*").alias("df")))
    universe = freq0.count()
    if universe <= 200_000:
        order = sorted((r["df"], r["sh"]) for r in freq0.collect())
        mapping = {s: i + 1 for i, (_, s) in enumerate(order)}
        id_type = sets0.schema["id"].dataType.simpleString()
        # hot-vocab universes additionally emit the dense sid BITMAP
        # (`vs`, 64-bit words, bit sid-1) alongside the sorted array:
        # every downstream bitmap consumer — the allpairs/verify
        # collects and `_intersect_repr`'s small-universe branch —
        # otherwise rebuilds the exact same words through an
        # interpreted HOF aggregate over the cached arrays (measured
        # ~12 s executor time per ppjoin query at sf0.1 just to
        # re-derive what this pass already knows).  numpy uint64
        # scatter, viewed as int64 — bit-identical to the HOF words.
        nw = (universe + 63) // 64 if universe <= 4096 else 0
        vs_schema = ", vs array<bigint>" if nw else ""

        def _map_batches(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                ids, sid_col, n_col, rk_col, vs_col = [], [], [], [], []
                for did, arr in zip(pdf["id"], pdf["shs"]):
                    if arr is None or len(arr) == 0:
                        continue
                    sids = sorted(mapping[x] for x in arr)
                    ids.append(did)
                    sid_col.append(sids)
                    n_col.append(len(sids))
                    rk_col.append(hash(tuple(sids)))
                    if nw:
                        s = np.asarray(sids, dtype=np.int64) - 1
                        w = np.zeros(nw, dtype=np.uint64)
                        np.bitwise_or.at(
                            w, s >> 6,
                            np.left_shift(np.uint64(1),
                                          (s & 63).astype(np.uint64)))
                        vs_col.append(w.view(np.int64).tolist())
                # object dtype: an empty batch would otherwise infer
                # float64 columns, which Arrow cannot cast to the
                # declared list type
                out = {"id": pd.Series(ids, dtype="object"),
                       "sids": pd.Series(sid_col, dtype="object"),
                       "n_sh": pd.Series(n_col, dtype="object"),
                       "rk": pd.Series(rk_col, dtype="object")}
                if nw:
                    out["vs"] = pd.Series(vs_col, dtype="object")
                yield pd.DataFrame(out)

        return sets0.mapInPandas(
            _map_batches,
            f"id {id_type}, sids array<bigint>, n_sh int, rk bigint"
            f"{vs_schema}"
        ), universe
    freq = _rarity_sid_table(freq0)
    return (
        sh.join(F.broadcast(freq.select("sh", "sid")), "sh")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("sid")).alias("sids"))
        .withColumn("n_sh", F.size("sids"))
        .withColumn("rk", F.xxhash64("sids"))
    ), universe


def _intersect_repr(isets: DataFrame, universe: int):
    """(vsets, common_expr) for exact per-candidate set intersection —
    shared by the Jaccard and containment verifiers.

    Hot-vocab corpora (few distinct shingles — every shingle is
    common) defeat the prefix filter: candidates blow up while true
    pairs stay rare, and array_intersect's per-pair hash-set build
    dominates (measured 2.4M candidates for 256 pairs on the Jaccard
    path and 8.8M candidates for the containment path at sf0.1).
    With a small universe the EXACT same intersection is a fixed
    bit_count pass over dense bitmaps: sid-1 indexes a bit, common =
    sum(bit_count(a & b)) — ~wordcount ops per pair, no per-pair
    allocation.  universe was counted once off the cached freq
    table; big-vocab corpora keep the sorted-array path."""
    if universe <= 4096:
        vsets = isets.select("id", "n_sh", "rk",
                             _bits_col(isets, universe))
        common = F.expr(
            "aggregate(zip_with(vs_a, vs_b, (x, y) -> bit_count(x & y)), "
            "0, (a, x) -> a + x)"
        )
    else:
        vsets = isets.select("id", "n_sh", "rk",
                             F.col("sids").alias("vs"))
        common = F.size(F.array_intersect("vs_a", "vs_b"))
    return vsets, common


def _bits_col(isets: DataFrame, universe: int):
    """The dense sid-bitmap column for a small-universe sid-set table:
    the precomputed `vs` when `_sid_sets` emitted it (every table it
    builds at universe ≤ 4096, the only regime with bitmap consumers),
    otherwise the interpreted HOF aggregate rebuilding the same words
    from `sids` — the reference `test_sid_bitmap_matches_hof` pins the
    numpy scatter against."""
    if "vs" in isets.columns:
        return F.col("vs")
    nw = (universe + 63) // 64
    return F.expr(
        f"aggregate(sids, array_repeat(CAST(0 AS BIGINT), {nw}), "
        f"(acc, s) -> transform(acc, (v, i) -> "
        f"IF(i = CAST((s - 1) DIV 64 AS INT), "
        f"v | shiftleft(CAST(1 AS BIGINT), CAST((s - 1) % 64 AS INT)), "
        f"v)))"
    ).alias("vs")


def _arrow_gate(universe: int, n_reps: int) -> bool:
    """Shared admission test for `_verify_pairs_arrow`: universe fits
    64-word bitmaps AND the dense rep-bitmap matrix stays ≤ 64 MB.
    Split out so the ppjoin builder can decide the CANDIDATE shape
    from the same facts before any join is constructed (see the slim
    candidate path in `_set_sim_pairs`)."""
    if universe > 4096:
        return False
    # universe == 0 (every doc shingles to empty) -> nw == 0: admit —
    # zero-word bitmaps intersect to 0 and any threshold > 0 drops all
    # pairs, matching the join path's empty result
    nw = max((universe + 63) // 64, 1)
    return n_reps <= (64 << 20) // (nw * 8)


# Work cap for direct enumeration: R*(R-1)/2 pairs x nw bitmap words of
# vectorized AND+popcount.  2^33 word-ops spread over the cluster is a
# few seconds at local scale; above it the prefix join's pruning (or
# its exchange) is worth its cost again and the ppjoin path runs
# unchanged — at 100 TB the universe gate alone already routes there.
_ALLPAIRS_WORD_BUDGET = 1 << 33


def _allpairs_r_max(words: int) -> int:
    """Largest admissible row count for direct pair enumeration over a
    matrix of `words` 64-bit words per row (a sid bitmap or a minhash
    signature): the R²/2·words word budget and the 64 MB
    broadcast-matrix cap, both driver-known before any job."""
    words = max(words, 1)  # an empty universe has zero-word bitmaps
    return min(int((2 * _ALLPAIRS_WORD_BUDGET / words) ** 0.5),
               (64 << 20) // (words * 8))


_Q6 = decimal.Decimal("0.000001")


def _round6(x) -> float:
    """Spark's round(x, 6) of a double: HALF_UP on the shortest-repr
    decimal, so the numpy scorers emit exactly the SQL paths' values."""
    return float(decimal.Decimal(repr(float(x)))
                 .quantize(_Q6, rounding=decimal.ROUND_HALF_UP))


@functools.lru_cache(maxsize=1)
def _popcount16():
    import numpy as np

    return np.array([bin(i).count("1") for i in range(1 << 16)],
                    dtype=np.uint16)


def _common_bits(inter):
    """|A ∩ B| per row, as float64, from `inter` = A & B: a 2-D uint64
    sid-bitmap matrix.  One 16-bit popcount table per worker process
    serves both bitmap scorers."""
    import numpy as np

    return (_popcount16()[inter.view(np.uint16)].sum(axis=1)
            .astype(np.float64))


def _overlap_ratio(metric: str, common, n_a, n_b, least):
    """The metric's similarity from |A ∩ B| and the two set sizes: one
    definition for the SQL verify join (`least` = F.least) and the
    numpy scorers (`least` = np.minimum), in the same IEEE order."""
    if metric == "containment":
        return common / least(n_a, n_b)
    return common / (n_a + n_b - common)


def _rep_pair_blocks(spark, rows: list, id_type: str, value_col: str,
                     build, score) -> DataFrame:
    """The direct rep-pair enumeration driver shared by the bitmap
    (`_allpairs_arrow`) and minhash (`_minhash_allpairs`) scorers —
    returns (id_a, id_b, <value_col>) for every pair i < j of `rows`
    (an admitted `collect_if_small` result) that `score` keeps.

    The rows are id-sorted (None first) so equal ids form adjacent
    runs: run_end[i] is the smallest j > i with ids[j] != ids[i], which
    both scorers need to replay SQL `<` on NULL and duplicate ids.
    `build(sorted rows)` makes the scorer's arrays, which ride one
    Spark broadcast with the ids and run_end; a spark.range of row
    blocks, repartitioned to min(n_blocks, cores), drives the scoring.
    On the executors `score(i, run_end, data)` returns (t, value) for
    each kept partner j = i + 1 + t of row i among rows i+1..R-1."""
    import numpy as np

    rows = sorted(rows, key=lambda r: (r["id"] is not None, r["id"]))
    R = len(rows)
    ids = [r["id"] for r in rows]
    run_end = np.empty(R, dtype=np.int64)
    j = R
    for i in range(R - 1, -1, -1):
        if i + 1 == R or ids[i + 1] != ids[i]:
            j = i + 1
        run_end[i] = j
    bc = spark.sparkContext.broadcast((ids, run_end, build(rows)))
    blk = 64  # rows per block: blk*R*words word-ops per task unit
    n_blocks = max(1, (R + blk - 1) // blk)
    par = spark.sparkContext.defaultParallelism
    blocks = spark.range(n_blocks).repartition(min(n_blocks, max(par, 1)))

    def _score(batches):
        import pandas as pd

        ids, run_end, data = bc.value
        R = len(ids)
        for pdf in batches:
            out_a: list = []
            out_b: list = []
            out_v: list = []
            for b0 in pdf["id"]:
                lo = int(b0) * blk
                for i in range(lo, min(lo + blk, R - 1)):
                    for t, v in score(i, run_end, data):
                        out_a.append(ids[i])
                        out_b.append(ids[i + 1 + t])
                        out_v.append(v)
            yield pd.DataFrame(
                {"id_a": pd.Series(out_a, dtype="object"),
                 "id_b": pd.Series(out_b, dtype="object"),
                 value_col: pd.Series(out_v, dtype="float64")})

    return blocks.mapInPandas(
        _score, f"id_a {id_type}, id_b {id_type}, {value_col} double")


def _allpairs_arrow(isets: DataFrame, rows: list, universe: int,
                    threshold: float, metric: str) -> DataFrame:
    """Direct rep-pair enumeration + popcount scoring for hot-vocab
    corpora — rep-level (id_a, id_b, <metric>) pairs over the admitted
    (id, n_sh, vs) rows of `collect_if_small`.

    Replaces prefix-explode -> self-join -> keys-only distinct ->
    Arrow verify with: collect the (already-gated ≤64 MB) rep bitmap
    matrix once, broadcast it, and score every (i, j) pair in
    vectorized numpy blocks driven by a spark.range of row-blocks —
    no candidate exchange, no distinct hash-aggregate, no per-pair
    Arrow transfer (the 31 MB candidate shuffle and its 8.8M-group
    aggregate at sf0.1 disappear outright; guide §2.4 "remove shuffles
    outright").

    Result-identical to the join path because verification was always
    exact and every join-path predicate is replayed in the same IEEE
    arithmetic: the size-ordered orientation (equal-size pairs require
    comparable unequal ids — NULL or duplicate ids pair only across
    sizes, as SQL `<` dictated), the Jaccard length filter
    (max(n)*t <= min(n), same float multiply), and the ratio >=
    threshold keep with the same shortest-repr HALF_UP rounding as
    `_verify_pairs_arrow`.  Pairs sharing no shingle score ratio 0 and
    are dropped by any threshold > 0 (the caller's gate requires it),
    so the enumerated superset of the prefix-join candidates changes
    nothing.
    """
    import numpy as np

    nw = (universe + 63) // 64

    def build(rows):
        mat = (np.asarray([r["vs"] for r in rows], dtype=np.int64)
               .view(np.uint64).reshape(len(rows), nw)) if rows else (
                   np.zeros((0, nw), dtype=np.uint64))
        return (np.array([r["id"] is None for r in rows], dtype=bool),
                np.array([r["n_sh"] for r in rows], dtype=np.float64), mat)

    def score(i, run_end, data):
        none_mask, ns, m = data
        nj = ns[i + 1:]
        ratio = _overlap_ratio(metric, _common_bits(m[i] & m[i + 1:]),
                               ns[i], nj, np.minimum)
        keep = ratio >= threshold
        if metric == "jaccard":
            # ppjoin length filter, same float arithmetic
            keep &= (np.maximum(ns[i], nj) * threshold
                     <= np.minimum(ns[i], nj))
        eq = nj == ns[i]
        if eq.any():
            # equal sizes order by id: NULL or duplicate ids cannot
            # satisfy SQL `<`, so those pairs never existed in the join
            # path
            disallowed = (none_mask[i + 1:] | none_mask[i]
                          | (np.arange(i + 1, len(ns)) < run_end[i]))
            keep &= ~(eq & disallowed)
        return [(t, _round6(ratio[t])) for t in np.nonzero(keep)[0]]

    return _rep_pair_blocks(isets.sparkSession, rows,
                            isets.schema["id"].dataType.simpleString(),
                            metric, build, score)


def _verify_pairs_arrow(cand: DataFrame, isets: DataFrame, universe: int,
                        threshold: float, metric: str,
                        n_reps: int | None) -> DataFrame | None:
    """Vectorized candidate verification for hot-vocabulary corpora —
    returns rep-level (id_a, id_b, <metric>) pairs, or None when the
    gate does not apply (caller falls back to the join verifiers).

    The hot-vocab regime (universe ≤ 4096 distinct shingles) defeats
    every prefix/position bound: at sf0.1 the containment join yields
    8.8M candidates out of 12.4M possible pairs, so the per-pair
    intersection IS the query.  Per-pair JVM options all failed the
    hot path: array_intersect builds a hash set per pair (measured
    151 s executor time), the HOF bitmap aggregate is CodegenFallback
    (interpreted per pair — bimodal 47 s / 1100 s depending on C2),
    and an unrolled bit_count sum generates a method HotSpot refuses
    to JIT (stable 540 s).  Here the candidate stream crosses ONE
    Arrow boundary carrying only (id, rk, n) per side — never the
    sets — and each batch resolves intersections as numpy popcounts
    against a dense rep-bitmap matrix shipped once per executor as a
    Spark broadcast (the `decontaminate` closure precedent, made
    explicit because the matrix can reach tens of MB).

    Gate (`_arrow_gate`): universe ≤ 4096 (bitmaps ≤ 64 words) AND the
    collapsed rep count keeps the matrix ≤ 64 MB.  Both sides are
    driver-known before this runs (universe from the freq0 count,
    `n_reps` — None above 4096 — from the family-collapse cache).
    Above the gate: None.

    Exactness: popcount intersection = |A ∩ B| exactly; the metric
    ratio and ≥-threshold comparison are the same IEEE doubles the
    SQL path computes; survivors round via shortest-repr HALF_UP
    decimals — Spark's round() semantics
    (`test_verify_arrow_matches_join_verifier` pins both metrics'
    pair sets and values against the join verifier)."""
    if not _arrow_gate(universe, n_reps):
        return None
    nw = (universe + 63) // 64
    import numpy as np

    rows = isets.select("id", "rk", _bits_col(isets, universe)).collect()
    idx = {(r["id"], r["rk"]): i for i, r in enumerate(rows)}
    mat = np.asarray([r["vs"] for r in rows], dtype=np.int64).view(np.uint64)
    mat = mat.reshape(len(rows), nw)
    bc = cand.sparkSession.sparkContext.broadcast((idx, mat))
    id_type = isets.schema["id"].dataType.simpleString()

    def _verify(batches):
        import numpy as np
        import pandas as pd

        lookup, m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ia = np.array([lookup[x] for x in zip(pdf["id_a"], pdf["rk_a"])],
                          dtype=np.int64)
            ib = np.array([lookup[x] for x in zip(pdf["id_b"], pdf["rk_b"])],
                          dtype=np.int64)
            ratio = _overlap_ratio(
                metric, _common_bits(m[ia] & m[ib]),
                pdf["n_a"].to_numpy(dtype=np.float64),
                pdf["n_b"].to_numpy(dtype=np.float64), np.minimum)
            keep = ratio >= threshold
            vals = [_round6(r) for r in ratio[keep]]
            yield pd.DataFrame(
                {"id_a": pdf["id_a"][keep],
                 "id_b": pdf["id_b"][keep],
                 metric: pd.Series(vals, dtype="float64",
                                   index=pdf.index[keep])})

    return cand.mapInPandas(
        _verify, f"id_a {id_type}, id_b {id_type}, {metric} double")


def _set_sim_pairs(docs: DataFrame, text_col: str, id_col: str, k: int,
                   threshold: float, metric: str,
                   broadcast_sets: bool | None,
                   max_broadcast_pairs: int | None) -> DataFrame:
    """The exact set-similarity join behind `ngram_jaccard_pairs`
    (metric "jaccard") and `ngram_containment_pairs` ("containment"):
    prefix filtering (ppjoin, Xiao et al., WWW 2008).  The two metrics
    differ only in the smaller side's prefix fraction (2t/(1+t) vs t),
    the larger side's probe (Jaccard prefix t vs the full set), the
    Jaccard length filter, the overlap bound and the ratio
    (`_overlap_ratio`); every other step is this one pipeline."""
    jac = metric == "jaccard"
    # shingle each doc ONCE; map shingles to dense int ids ordered by
    # global rarity (df asc, value asc) so (a) the prefix-filter total
    # order is consistent and (b) verification intersects int arrays,
    # not strings
    sets0 = _shingled(docs, text_col, id_col, k)
    sid_sets, universe = _sid_sets(sets0)
    # identical shingle SETS collapse to one representative before the
    # prefix join (see _family_collapse): exact copies and boilerplate
    # families otherwise inflate every candidate bucket quadratically
    # (measured: 10x-replicated corpus took the sf0.1 ppjoin from
    # 6.8 s to 582 s; collapsed it is pair-OUTPUT-bound).  Pairs are
    # re-expanded by _family_expand with bit-identical values (the
    # similarity of identical sets is exactly 1.0, and a cross-family
    # value is a pure function of the representatives' sets).
    # (no caller-side cache(): _family_collapse reads sid_sets exactly
    # once to build its cached `tagged` frame — the tagged cache IS
    # the barrier, a second cache here would only double the
    # persisted footprint)
    isets, members = _family_collapse(sid_sets, "sids")

    def expand(rep_pairs):
        # restore the numeric id_a < id_b output contract (candidate
        # orientation is by set size, not id)
        return _family_expand(
            rep_pairs.select(F.least("id_a", "id_b").alias("id_a"),
                             F.greatest("id_a", "id_b").alias("id_b"),
                             metric),
            members, metric, threshold)

    # hot vocab + small rep count: enumerate rep pairs directly instead
    # of exploding prefixes through a join + distinct — in the hot-vocab
    # regime the prefix join is pure candidate ENUMERATION (measured at
    # sf0.1: 8.8M candidates out of 12.4M possible pairs, worst for
    # containment, which has no length filter).  threshold > 0 because
    # pairs sharing no shingle score 0 and never meet in the prefix
    # join.  The bounded collect decides the gate AND fetches the
    # matrix; it also fills the family-collapse cache, so the fallback
    # count is a cache read.
    n_reps = None
    if universe <= 4096:
        rows = None
        if threshold > 0:
            rows = collect_if_small(
                isets.select("id", "n_sh", _bits_col(isets, universe)),
                _allpairs_r_max((universe + 63) // 64))
        if rows is not None:
            return expand(_allpairs_arrow(isets, rows, universe,
                                          threshold, metric))
        n_reps = isets.count()
    # In the Arrow-verify regime (hot vocab, `_arrow_gate`) the ppjoin
    # position filter is pure overhead: the hot vocabulary defeats the
    # bound (measured at sf0.1: it killed ~0 % of the Jaccard collision
    # rows, and 2 of 29 M containment collision rows) while its pos
    # column and max(pos) aggregates dominate the candidate exchange.
    # Verification is EXACT, so any candidate superset that keeps
    # pairs distinct is result-identical — the slim path explodes
    # prefixes without positions and dedups with a keys-only
    # aggregate.  Big-vocab corpora (the 100 TB shape) keep the
    # position filter: there it prunes candidates ~20x before
    # verification.
    slim = n_reps is not None and _arrow_gate(universe, n_reps)

    def _prefix(frac):
        # the first |S| - ceil(frac*|S|) + 1 rarest sids (None: the
        # full set).  The tiny epsilon inside ceil() guards against
        # float round-up (a too-short prefix would DROP pairs; epsilon
        # can only lengthen it).
        sids = F.col("sids")
        if frac is not None:
            plen = (F.col("n_sh")
                    - F.ceil(F.lit(frac) * F.col("n_sh") - F.lit(1e-9))
                    + 1).cast("int")
            sids = F.slice("sids", F.lit(1), plen)
        if slim:
            return isets.select("id", "n_sh", "rk",
                                F.explode(sids).alias("sid"))
        return isets.select("id", "n_sh", "rk",
                            F.posexplode(sids).alias("pos", "sid"))

    # Candidates pair the SMALLER doc's prefix (side a) with the larger
    # doc's probe (side b).  Jaccard (asymmetric ppjoin prefixes): for
    # n_a <= n_b with J >= t the required overlap is
    # alpha = ceil(t/(1+t)*(n_a+n_b)) >= ceil(2t/(1+t)*n_a) and
    # >= ceil(t*n_b), so a only needs its midprefix (~0.11|S| at
    # t=0.8) while b needs the full Jaccard prefix (~0.2|S|) — roughly
    # halving collision rows and candidates vs the symmetric prefix
    # join.  Containment: overlap >= ceil(t*n_a), so a's prefix must
    # hit b's FULL set; no length filter exists (any size ratio is
    # legal), which is exactly why the prefix side must be the smaller
    # doc.  Both joins are on rare sid keys: the full-set side's
    # fan-out per sid is that shingle's df, which the rarity order
    # keeps minimal.
    prefix_a = _prefix(2 * threshold / (1 + threshold) if jac
                       else threshold)
    prefix_b = _prefix(threshold if jac else None)
    # epsilon inside ceil can only shrink the bound (safe direction)
    if jac:
        need = F.ceil(
            (F.lit(threshold / (1 + threshold))
             * (F.col("n_a") + F.col("n_b"))) - F.lit(1e-9)
        )
    else:
        need = F.ceil(F.lit(threshold) * F.col("n_a") - F.lit(1e-9))
    on = (
        (F.col("a.sid") == F.col("b.sid"))
        # size-ordered orientation: a is the smaller-set doc
        & ((F.col("a.n_sh") < F.col("b.n_sh"))
           | ((F.col("a.n_sh") == F.col("b.n_sh"))
              & (F.col("a.id") < F.col("b.id"))))
    )
    if jac:
        # length filter: J >= t requires n_a >= t*n_b
        on &= F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh")
    joined = prefix_a.alias("a").join(prefix_b.alias("b"), on)
    keys = (F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.rk").alias("rk_a"), F.col("b.rk").alias("rk_b"),
            F.col("a.n_sh").alias("n_a"), F.col("b.n_sh").alias("n_b"))
    if slim:
        cand = joined.select(*keys).distinct()
    else:
        # ppjoin position filter: the true overlap of a pair is at most
        # (matched prefix collisions) + min(suffix remaining after the
        # LAST matched position on each side), and the metric forces
        # overlap >= need.  Aggregating the collision rows per pair
        # (same shuffle a plain .distinct() pays) lets that bound
        # discard most collision-only pairs BEFORE the verification
        # join — on the hot-vocab corpus it cuts surviving candidates
        # ~20x.
        cand = (
            joined
            .groupBy(*keys)
            .agg(
                F.count("*").alias("c"),
                F.max("a.pos").alias("pmax_a"),
                F.max("b.pos").alias("pmax_b"),
            )
            .filter(
                F.col("c")
                + F.least(F.col("n_a") - F.col("pmax_a") - 1,
                          F.col("n_b") - F.col("pmax_b") - 1)
                >= need
            )
            .select("id_a", "id_b", "rk_a", "rk_b", "n_a", "n_b")
        )
    # hot-vocab candidate sets make the per-candidate intersection the
    # query's cost (measured 8.8M containment candidates at sf0.1 with
    # array_intersect as ~80% of executor time); see _verify_pairs_arrow
    ver = _verify_pairs_arrow(cand, isets, universe, threshold, metric,
                              n_reps)
    if ver is not None:
        return expand(ver)
    # verification: join the candidate pairs back to the per-doc set
    # table; the measured-small pair list is the broadcast side (see
    # _pairs_hint), so the set table never shuffles
    cand = _pairs_hint(cand.select("id_a", "id_b", "rk_a", "rk_b"),
                       max_broadcast_pairs)
    vsets, common = _intersect_repr(isets, universe)
    ratio = _overlap_ratio(metric, F.col("common"), F.col("n_a"),
                           F.col("n_b"), F.least)
    return expand(
        cand.join(_hint_sets(vsets.select(F.col("id").alias("id_a"),
                                          F.col("rk").alias("rk_a"),
                                          F.col("vs").alias("vs_a"),
                                          F.col("n_sh").alias("n_a")),
                             broadcast_sets),
                  ["id_a", "rk_a"])
        .join(_hint_sets(vsets.select(F.col("id").alias("id_b"),
                                      F.col("rk").alias("rk_b"),
                                      F.col("vs").alias("vs_b"),
                                      F.col("n_sh").alias("n_b")),
                         broadcast_sets),
              ["id_b", "rk_b"])
        .withColumn("common", common)
        .withColumn(metric, F.round(ratio, 6))
        .filter(ratio >= threshold)
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        threshold: float = 0.8,
                        broadcast_sets: bool | None = None,
                        max_broadcast_pairs: int | None = None
                        ) -> DataFrame:
    """Near-duplicate pairs by k-shingle Jaccard similarity — EXACT
    result via prefix filtering (the ppjoin candidate bound).

    A naive self-join on shingles explodes on hot shingles (every doc
    pair sharing 'the s' meets).  Prefix filtering fixes that without
    approximation: order each doc's shingles by global document
    frequency (rarest first, ties by value — a consistent total order);
    if J(A,B) >= t, the first |A| - ceil(t*|A|) + 1 shingles of A and
    likewise of B must intersect.  Candidates are generated only from
    those short, rare prefixes, then verified exactly with
    array_intersect on the full shingle sets.

    Shuffles: shingle DF count (map-combinable), range repartition of
    the distinct-shingle table for the parallel rarity ranking, prefix
    self-join on rare keys, one broadcast-able join back to the per-doc
    sets for verification.
    """
    return _set_sim_pairs(docs, text_col, id_col, k, threshold, "jaccard",
                          broadcast_sets, max_broadcast_pairs)


def ngram_containment_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 5,
                            threshold: float = 0.9,
                            broadcast_sets: bool | None = None,
                            max_broadcast_pairs: int | None = None
                            ) -> DataFrame:
    """Near-SUPERSET pairs by k-shingle containment
    |A ∩ B| / min(|A|, |B|) >= threshold — EXACT result.

    Jaccard misses the "doc B is doc A plus a boilerplate header"
    case: J = |A|/|B| can be arbitrarily low while A is entirely
    inside B.  Containment is the dedup signal for quote-and-extend,
    template wrapping, and chunk-of-a-longer-doc duplication — the
    standard complement to `ngram_jaccard_pairs` in a curation stack.

    Set-containment prefix bound (same family as ppjoin): for the
    size-ordered pair with A smaller, overlap >= ceil(t·|A|), so A's
    prefix of |A| - ceil(t·|A|) + 1 RAREST shingles must hit B's full
    set — candidates come from (small-doc rare prefix) x (full sets),
    with the position filter overlap <= matched + min(remaining
    suffixes) pruning collision-only pairs before verification.  No
    length filter exists for containment (any size ratio is legal),
    which is exactly why the prefix side must be the smaller doc.
    Verification is one array_intersect per surviving candidate
    against the cached int-sid sets.  All joins are on rare sid keys;
    the full-set side's fan-out per sid is that shingle's df, which
    the rarity order keeps minimal."""
    return _set_sim_pairs(docs, text_col, id_col, k, threshold,
                          "containment", broadcast_sets,
                          max_broadcast_pairs)


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5,
                       num_hashes: int = 32) -> DataFrame:
    """MinHash signature per document: num_hashes min-hashes of the
    k-shingle set.

    Each shingle is hashed ONCE (portable md5-based), then the hash
    family is derived arithmetically: h_i(x) = (a_i*x + b_i) mod p with
    fixed odd multipliers — 32 multiply-adds per shingle instead of 32
    md5 calls (~30x cheaper; md5 dominated the profile).  Scan-only, no
    shuffle; identical arithmetic is reproducible in the DuckDB oracle.
    """
    # One Arrow stage computes shingle-set -> md5 base hash -> all
    # num_hashes permutation minima in vectorized numpy (guide §4.2):
    # the previous all-JVM chain needed TWO cache materialization
    # barriers (shingle strings, base hashes) purely to stop Catalyst
    # re-inlining expressions into HOF lambda bodies, and its 32
    # interpreted `transform` passes measured ~15 s of executor time
    # per sf0.1 query.  The mapInPandas boundary is opaque to Catalyst,
    # so no barrier (and no persisted footprint) is needed at all, and
    # the md5/permutation arithmetic is one numpy broadcast per doc.
    #
    # Bit-exactness: normalization stays JVM-side (_norm_text — Java
    # and Python regex/lower semantics are not interchangeable);
    # shingling is pure code-point slicing, identical in Spark's
    # substring and Python str slicing; md5 runs over the same UTF-8
    # bytes; the permutation is exact int64 arithmetic (max operand
    # ~2^37).  NULL text -> all-NULL signature, empty text -> the
    # one-shingle [''] set, exactly as the SQL chain produced.
    src = _spread(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select("id", F.expr(_norm_text("__t")).alias("__norm"))
    id_type = src.schema["id"].dataType.simpleString()

    def _sig_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        idx = np.arange(num_hashes, dtype=np.int64)
        mult = 2 * idx + 1
        add = idx * 40503 + 1
        null_sig = [None] * num_hashes
        # per-task base-hash memo: shingles repeat heavily across the
        # documents of a partition (the sf0.1 corpus has 2,041 distinct
        # shingles across ~1M (doc, shingle) rows), so hashing each
        # DISTINCT shingle once per task replaces ~99.8% of the md5
        # calls with dict hits.  Bounded (~25 MB) and cleared on
        # overflow so a huge-vocabulary corpus at scale degrades to
        # plain per-shingle hashing, never to unbounded worker memory.
        memo: dict = {}
        md5 = hashlib.md5
        for pdf in batches:
            sigs = []
            for s in pdf["__norm"]:
                if s is None:
                    sigs.append(null_sig)
                    continue
                hs_l = []
                for x in {s[i:i + k]
                          for i in range(max(1, len(s) - (k - 1)))}:
                    h = memo.get(x)
                    if h is None:
                        if len(memo) >= 262_144:
                            memo.clear()
                        h = int(md5(x.encode("utf-8")).hexdigest()[:15],
                                16) % MH_P
                        memo[x] = h
                    hs_l.append(h)
                hs = np.asarray(hs_l, dtype=np.int64)
                sigs.append(
                    ((hs[:, None] * mult + add) % MH_P).min(axis=0)
                    .tolist())
            # object dtype so empty batches don't infer a float64
            # column Arrow cannot cast to array<bigint>
            yield pd.DataFrame(
                {"id": pdf["id"],
                 "signature": pd.Series(sigs, dtype="object",
                                        index=pdf.index)})

    return src.mapInPandas(
        _sig_batches, f"id {id_type}, signature array<bigint>")


def _cap_buckets(banded: DataFrame, keys: list[str],
                 max_bucket_size: int | None) -> DataFrame:
    """Drop bucket rows whose bucket exceeds `max_bucket_size` members.

    A degenerate bucket — mass-duplicated boilerplate hashing a million
    documents to one (band, bucket) key — makes the candidate self-join
    quadratic IN THAT BUCKET regardless of how uniform the rest of the
    key space is; at corpus scale one such bucket is the whole job.
    Exact duplicates should be removed upstream first (the curation
    pipeline orders exact dedup before near-dup for this reason); the
    cap is the backstop for near-identical families that survive it.
    Opt-in (default None = exhaustive) because dropped buckets mean
    missed pairs: members of an over-cap bucket can still pair through
    their OTHER bands, so recall degrades gracefully rather than
    cliffing.  The count window shuffles on the same key as the
    candidate join, so the guard adds no new shuffle topology."""
    if not max_bucket_size:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bn", F.count("*").over(w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def _minhash_allpairs(sigs: DataFrame, num_hashes: int, bands: int,
                      threshold: float) -> DataFrame | None:
    """Direct rep-pair enumeration for the banded minhash self-join —
    returns rep-level (id_a, id_b, est_jaccard) pairs, or None when
    the gate does not admit (caller builds the bucket join).

    LSH band collision is a PURE FUNCTION of the two signatures (band
    b collides iff positions [b*rows, (b+1)*rows) are all equal), so
    when the collapsed rep count is small enough that the signature
    matrix broadcasts and the pairwise comparison fits the word-op
    budget, the banded explode -> (band, bhash) self-join -> pair
    distinct -> two signature join-backs -> interpreted zip_with
    estimate all collapse into one vectorized numpy pass driven by a
    Range scan of row blocks (the `_rep_pair_blocks` driver; the
    sf0.1 chain this replaces measured ~19 s executor time across two
    exchanges plus ~10 AQE job rounds of driver latency).

    Result-identical to the join path: the collision test replays
    slice equality (the join matches md5(slice) — equal slices hash
    equal; an md5 collision of UNEQUAL slices is the usual 2^-64
    non-event), est = matches/num_hashes is the same IEEE division
    with the same HALF_UP 6 dp rounding, the rounded value compares
    >= threshold exactly as the SQL filter, and pair orientation is
    SQL `a.id < b.id` (NULL ids never pair, nor do rows sharing an id).
    Collision is id-grain, as in the join: its candidate DISTINCT is on
    ids and its join-backs reach every row of both ids, so a row pairs
    with a larger id's row when ANY two rows of the two ids share a
    band (the `_incremental_allpairs` rule).  All-NULL signatures emit
    no bucket rows in the join path and are excluded from the matrix
    here.  Above the gate (or with a bucket-size cap,
    whose dropped-bucket semantics need real buckets) the join path
    runs unchanged — the 100 TB shape."""
    if num_hashes // bands == 0:
        # bands > num_hashes is degenerate (every band is an empty
        # slice, so the bucket join collides EVERYTHING); keep the
        # join so those semantics stay in one place
        return None
    # bounded: r_max derives from the word budget and the 64 MB matrix
    # cap, ≤ ~8 MB of signatures
    rows = collect_if_small(
        sigs.filter(F.element_at(F.col("signature"), 1).isNotNull())
        .filter(F.col("id").isNotNull()).select("id", "signature"),
        _allpairs_r_max(num_hashes))
    if rows is None:
        return None
    import numpy as np

    band_rows = num_hashes // bands

    def build(rows):
        ids = [r["id"] for r in rows]
        S = (np.asarray([r["signature"] for r in rows], dtype=np.int64)
             .reshape(len(rows), num_hashes) if rows else
             np.zeros((0, num_hashes), dtype=np.int64))
        starts = np.array([k for k in range(len(ids))
                           if k == 0 or ids[k] != ids[k - 1]], dtype=np.int64)
        return S, starts

    def collide(eq):
        # non-divisible bands: the bucket join's slice() ignores the
        # trailing num_hashes % bands positions
        return (eq[:, :bands * band_rows]
                .reshape(-1, bands, band_rows)
                .all(axis=2).any(axis=1))

    # (run start, collisions) of the last duplicate-id run, per task:
    # every row of the run shares them
    memo = [None, None]

    def score(i, run_end, data):
        S, starts = data
        hi = run_end[i]  # partners: rows of larger ids
        eq = S[i] == S[hi:]
        lo = starts[np.searchsorted(starts, i, side="right") - 1]
        if hi - lo == 1:
            coll = collide(eq)
        else:
            if memo[0] != lo:
                memo[:] = [lo, np.logical_or.reduce(
                    [collide(S[r] == S[hi:]) for r in range(lo, hi)])]
            coll = memo[1]
        seg = starts[np.searchsorted(starts, hi):] - hi
        if len(seg) < len(coll):  # duplicate partner ids
            coll = np.repeat(np.logical_or.reduceat(coll, seg),
                             np.diff(np.append(seg, len(coll))))
        est = eq.sum(axis=1) / float(num_hashes)
        # prefilter with margin, then decide on the same HALF_UP-rounded
        # value the SQL filter compares
        kept = []
        for t in np.nonzero(coll & (est >= threshold - 1e-6))[0]:
            r6 = _round6(est[t])
            if r6 >= threshold:
                kept.append((hi - i - 1 + t, r6))
        return kept

    return _rep_pair_blocks(sigs.sparkSession, rows,
                            sigs.schema["id"].dataType.simpleString(),
                            "est_jaccard", build, score)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      broadcast_sets: bool | None = None,
                      max_broadcast_pairs: int | None = None,
                      max_bucket_size: int | None = None
                      ) -> DataFrame:
    """MinHash + LSH candidate pairs with estimated Jaccard.

    bands × rows layout (rows = num_hashes / bands): docs agreeing on
    all rows of any band land in the same bucket.  Shuffle key is
    (band_id, band_hash) — uniform.  Estimated similarity = fraction of
    matching signature positions, computed from the joined signatures
    with `zip_with`, then thresholded.  `max_bucket_size` guards the
    self-join against degenerate buckets (see `_cap_buckets`).
    """
    # identical signatures collapse to one representative before the
    # band self-join (see _family_collapse): bucket membership and the
    # position-match estimate are pure functions of the signature, so
    # rep-level pairs expand back bit-identically while the bucket
    # join sees one row per DISTINCT signature instead of one per
    # duplicate (boilerplate families otherwise grow every bucket
    # quadratically; same measurement class as the ppjoin collapse)
    sigs, members = _family_collapse(
        # read once into the collapse's own tagged cache — see the
        # ppjoin site for why no second cache() here
        minhash_signatures(docs, text_col, id_col, k, num_hashes),
        "signature",
    )
    if max_bucket_size is None:
        # small rep count: enumerate rep pairs directly instead of the
        # banded bucket self-join (see _minhash_allpairs; a bucket-size
        # cap needs real buckets, so capped calls keep the join)
        ap = _minhash_allpairs(sigs, num_hashes, bands, threshold)
        if ap is not None:
            return _family_expand(ap, members, "est_jaccard", threshold)
    banded = _cap_buckets(
        _banded_buckets(sigs, num_hashes, bands),
        ["band", "bhash"], max_bucket_size,
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    est = F.expr(
        "round(aggregate(zip_with(sig_a, sig_b, (x, y) -> "
        "IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / size(sig_a), 6)"
    )
    cand = _pairs_hint(cand, max_broadcast_pairs)
    rep_pairs = (
        cand.join(_hint_sets(sigs.select(F.col("id").alias("id_a"),
                                         F.col("signature").alias("sig_a")),
                             broadcast_sets),
                  "id_a")
        .join(_hint_sets(sigs.select(F.col("id").alias("id_b"),
                                     F.col("signature").alias("sig_b")),
                         broadcast_sets),
              "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return _family_expand(rep_pairs, members, "est_jaccard", threshold,
                          max_family_size=max_bucket_size)


def simhash64(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens (sign of per-bit weighted sums).

    Pure SQL: token md5 -> two 32-bit halves -> per-bit +-1 votes summed
    with `aggregate` over the token array; scan-only, no shuffle.
    Near-dup candidates are rows whose simhash differ in few bits
    (`bit_count(simhash ^ other) <= r`).

    NULL contract: NULL text yields a NULL simhash (NULL means
    "unknown content", which is not near anything — downstream band
    joins drop it, so NULL docs never pair).  EMPTY text (zero tokens
    after normalization) yields simhash 0: two genuinely empty docs
    are identical content and do pair, same as any identical pair."""
    norm = _norm_text(text_col)
    tokens = f"filter(split({norm}, ' '), t -> t <> '')"
    tok_hash = portable_hash("t")
    # hash each token ONCE into an int64 array; same cache() barrier as
    # minhash_signatures — without it Catalyst collapses the projection
    # and inlines the md5 into all 60 per-bit lambdas (60x the md5 work)
    base = f"transform({tokens}, t -> CAST({tok_hash} AS BIGINT))"
    hashed = cache(_spread(docs).select(
        F.col(id_col).alias("id"), F.expr(base).alias("__ys_th")
    ))
    # votes[i] = sum over tokens of (bit i set ? 1 : -1)
    votes = (
        "transform(sequence(0, 59), i -> "
        "aggregate(__ys_th, 0L, (acc, h) -> acc + "
        "IF(((h >> i) & 1) = 1, 1, -1)))"
    )
    sim = (
        f"aggregate(zip_with({votes}, sequence(0, 59), "
        f"(v, i) -> IF(v > 0, shiftleft(1L, i), 0L)), 0L, "
        f"(acc, x) -> acc | x)"
    )
    # NULL text -> NULL token array -> NULL simhash (the per-bit IF
    # would otherwise quietly turn the NULL votes into simhash 0,
    # conflating "unknown content" with "empty content")
    sim = f"IF(__ys_th IS NULL, CAST(NULL AS BIGINT), {sim})"
    return hashed.select("id", F.expr(sim).alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_broadcast_pairs: int | None = None,
                  max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — EXACT for
    max_hamming <= 3 via banded pigeonhole candidates.

    NOTE: setting `max_bucket_size` (degenerate-bucket guard, see
    `_cap_buckets`) voids the exactness guarantee — an over-cap band
    bucket's members can only pair through their other bands, which
    pigeonhole no longer covers exhaustively.  Leave it None unless a
    boilerplate-heavy corpus makes a band value collapse.

    The 60-bit signature splits into 4 bands of 15 bits; two signatures
    within Hamming distance 3 must agree on at least one whole band
    (pigeonhole), so the candidate join on (band, band_value) misses
    nothing while touching only ~n rows per band — never an all-pairs
    product.  Candidates are verified with bit_count(xor) and the
    measured-small pair list broadcasts (see _pairs_hint).  For
    max_hamming >= 4 the band filter is no longer exhaustive; raise
    bands by splitting the signature finer if that regime matters.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if max_hamming > 3:
        raise ValueError(
            "banded candidates are exact only for max_hamming <= 3 "
            "(4 bands of 15 bits; pigeonhole needs d < bands)"
        )
    # identical simhash values collapse to one representative before
    # the band join (hamming is a pure function of the two signatures:
    # within-family hamming = 0, always <= max_hamming; cross-family
    # hamming = hamming(rep_a, rep_b)) — same quadratic-bucket guard
    # as the minhash/ppjoin collapses, and unlike `max_bucket_size`
    # it preserves the exactness guarantee
    sigs, members = _family_collapse(
        simhash64(docs, text_col, id_col), "simhash")
    # NULL simhash = NULL text (see simhash64's NULL contract): no
    # bucket rows, no pairs — mirrors _banded_buckets' NULL guard
    banded = sigs.filter(F.col("simhash").isNotNull()).select(
        "id",
        F.explode(F.expr(
            "transform(sequence(0, 3), b -> "
            "struct(b AS band, shiftright(simhash, b * 15) & 32767 AS bval))"
        )).alias("bb"),
    ).select("id", "bb.band", "bb.bval")
    banded = _cap_buckets(banded, ["band", "bval"], max_bucket_size)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    cand = _pairs_hint(cand, max_broadcast_pairs)
    rep_pairs = (
        cand.join(sigs.select(F.col("id").alias("id_a"),
                              F.col("simhash").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"),
                          F.col("simhash").alias("sig_b")), "id_b")
        .withColumn("hamming",
                    F.expr("bit_count(sig_a ^ sig_b)").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _family_expand(rep_pairs, members, "hamming", threshold=0.0,
                          max_family_size=max_bucket_size,
                          intra_value=F.lit(0).cast("int"))


def _banded_buckets(sigs: DataFrame, num_hashes: int,
                    bands: int) -> DataFrame:
    """(id, band, bhash) bucket rows from a minhash signature table —
    the slim shuffle/probe key used by every LSH candidate generator
    (signature arrays stay out of the candidate exchange).

    NULL guard: a NULL-text doc's signature is all-NULL, and
    `cast(slice(...) AS STRING)` stringifies NULL elements into a
    perfectly joinable band hash — so without this filter every
    NULL doc lands in the same bucket and pairs at threshold 0.
    NULL means unknown content; such rows emit no bucket rows, in
    every consumer (batch, incremental, persisted-store probes)."""
    rows = num_hashes // bands
    # element 1 decides (signatures null all-or-nothing, see
    # _family_collapse's guard); NULL-element and NULL-array rows drop
    sigs = sigs.filter(F.element_at(F.col("signature"), 1).isNotNull())
    return sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, "
                f"md5(cast(slice(signature, b * {rows} + 1, {rows}) AS STRING))"
                f" AS bhash))"
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bhash")


def _incremental_allpairs(new_sigs: DataFrame, corp_sigs: DataFrame,
                          num_hashes: int, bands: int,
                          threshold: float) -> DataFrame | None:
    """Direct batch-matrix probe for the incremental-dedup shape —
    returns (new_id, corpus_id, est_jaccard) rows, or None when the
    gate does not admit (caller builds the bucket-probe join).

    The batch side is ingest-sized BY CONTRACT, so its signatures fit
    one bounded limit-collect (≤ 8 MB matrix; the same single-driver-
    job pattern as `_minhash_allpairs`).  With the matrix broadcast,
    the whole join chain — new-side bucket explode, corpus bucket
    explode/scan, broadcast bucket probe, candidate DISTINCT exchange,
    and BOTH signature join-backs — collapses into ONE pass over the
    corpus signatures: each Arrow batch compares its corpus rows
    against the full batch matrix in vectorized numpy (band collision
    is slice equality; the join matched md5(slice), equal up to the
    usual 2^-64 md5-collision non-event).

    Result-identical to the join path, which is id-grain in the
    candidate step (bucket rows carry only ids, and candidates pass a
    DISTINCT before the signature join-backs fan them back out per
    signature row):

      * batch-side duplicate ids: a batch id is a candidate for a
        corpus id iff ANY of its rows' bands collide — the whole batch
        is in memory, so the OR folds here (grouped reduceat);
      * corpus-side duplicate ids: the OR spans corpus rows in other
        partitions, so each row also emits colliding combinations
        below threshold as tombstones and a window over the (small,
        matches-only) output resolves max(collide) per id pair before
        the final filter — one tiny exchange instead of the candidate
        DISTINCT + two join-backs;
      * est = matches/num_hashes is the same IEEE division with the
        same shortest-repr HALF_UP 6 dp rounding, compared >= threshold
        exactly as the SQL filter, per (batch row, corpus row)
        combination — duplicate ids fan out exactly as the join-backs
        did;
      * NULL ids never pair (SQL `c.id != n.id`), equal ids never pair,
        NULL-signature rows emit no bucket rows and NULL est — both
        excluded, as in the join path.

    Signature length is num_hashes by construction
    (`minhash_signatures` / `save_dedup_signatures`); rows of any
    other length contribute nothing in the join path (their est is
    NULL) and are skipped here.  threshold <= 0 keeps the join (the
    est-passes-everything regime would make every combination a
    tombstone; the join's collision requirement is the cheaper shape
    there), as does a capped bucket table (dropped-bucket semantics
    belong to real buckets — the caller passes buckets_canonical=False).
    At 100 TB the corpus side stays one shuffle-free scan either way;
    the batch gate routes oversized batches back to the join."""
    if threshold <= 0 or num_hashes // bands == 0:
        return None
    nid_type = new_sigs.schema["id"].dataType.simpleString()
    cid_type = corp_sigs.schema["id"].dataType.simpleString()
    if nid_type != cid_type:
        return None  # the join would resolve a cast; keep it
    b_max = min(4096, (8 << 20) // (num_hashes * 8))
    rows = collect_if_small(
        new_sigs.filter(F.col("id").isNotNull())
        .filter(F.element_at(F.col("signature"), 1).isNotNull())
        .filter(F.size("signature") == num_hashes)
        .select("id", "signature"), b_max)
    if rows is None:
        return None
    import numpy as np

    # id-sorted so duplicate-id groups are contiguous (reduceat OR)
    rows.sort(key=lambda r: r["id"])
    B = len(rows)
    new_ids = [r["id"] for r in rows]
    nsig = (np.asarray([r["signature"] for r in rows], dtype=np.int64)
            .reshape(B, num_hashes) if B else
            np.zeros((0, num_hashes), dtype=np.int64))
    starts = [i for i in range(B) if i == 0 or new_ids[i] != new_ids[i - 1]]
    counts = np.diff(starts + [B]) if B else np.zeros(0, dtype=np.int64)
    spark = new_sigs.sparkSession
    bc = spark.sparkContext.broadcast((new_ids, nsig, starts, counts))
    band_rows = num_hashes // bands
    src = (
        corp_sigs.filter(F.col("id").isNotNull())
        .filter(F.element_at(F.col("signature"), 1).isNotNull())
        .filter(F.size("signature") == num_hashes)
        .select("id", "signature"))

    def _score(batches):
        import numpy as np
        import pandas as pd

        new_ids, S, starts, counts = bc.value
        B = len(new_ids)
        chunk = max(1, (4 << 20) // max(1, B * num_hashes))
        for pdf in batches:
            out_n: list = []
            out_c: list = []
            out_v: list = []
            out_ok: list = []
            out_coll: list = []
            if B == 0 or len(pdf) == 0:
                yield pd.DataFrame(
                    {"new_id": pd.Series(out_n, dtype="object"),
                     "corpus_id": pd.Series(out_c, dtype="object"),
                     "est_jaccard": pd.Series(out_v, dtype="float64"),
                     "__ok": pd.Series(out_ok, dtype="bool"),
                     "__coll": pd.Series(out_coll, dtype="bool")})
                continue
            cids = pdf["id"].tolist()
            csig = np.array(pdf["signature"].tolist(), dtype=np.int64)
            for lo in range(0, len(pdf), chunk):
                hi = min(lo + chunk, len(pdf))
                eq = csig[lo:hi, None, :] == S[None, :, :]
                est = eq.sum(axis=2) / float(num_hashes)
                # non-divisible bands: match the bucket join's slice()
                # semantics (trailing num_hashes % bands positions are
                # never part of any band)
                coll = (eq[:, :, :bands * band_rows]
                        .reshape(hi - lo, B, bands, band_rows)
                        .all(axis=3).any(axis=2))
                if len(starts) != B:
                    # batch-side duplicate ids: candidate collision is
                    # an OR over the id's rows (contiguous after sort)
                    gor = np.maximum.reduceat(coll, starts, axis=1)
                    coll = np.repeat(gor, counts, axis=1).astype(bool)
                emit = coll | (est >= threshold - 1e-6)
                for ci, t in zip(*np.nonzero(emit)):
                    cid = cids[lo + ci]
                    if new_ids[t] == cid:
                        continue  # SQL c.id != n.id
                    r6 = _round6(est[ci, t])
                    ok = r6 >= threshold
                    if not (ok or coll[ci, t]):
                        continue
                    out_n.append(new_ids[t])
                    out_c.append(cid)
                    out_v.append(r6)
                    out_ok.append(ok)
                    out_coll.append(bool(coll[ci, t]))
            yield pd.DataFrame(
                {"new_id": pd.Series(out_n, dtype="object"),
                 "corpus_id": pd.Series(out_c, dtype="object"),
                 "est_jaccard": pd.Series(out_v, dtype="float64"),
                 "__ok": pd.Series(out_ok, dtype="bool"),
                 "__coll": pd.Series(out_coll, dtype="bool")})

    scored = src.mapInPandas(
        _score,
        f"new_id {nid_type}, corpus_id {cid_type}, est_jaccard double, "
        f"__ok boolean, __coll boolean")
    from pyspark.sql import Window

    w = Window.partitionBy("new_id", "corpus_id")
    return (
        scored.withColumn("__any", F.max("__coll").over(w))
        .filter(F.col("__ok") & F.col("__any"))
        .select("new_id", "corpus_id", "est_jaccard"))


def _probe_and_verify(new_sigs: DataFrame, corp_sigs: DataFrame,
                      corp_buckets: DataFrame, num_hashes: int,
                      bands: int, threshold: float,
                      broadcast_new: bool,
                      buckets_canonical: bool = True) -> DataFrame:
    """Shared scorer for the incremental-dedup family: probe the
    corpus bucket rows with the (cached) new-batch signatures' banded
    buckets, then estimate jaccard on the distinct candidates.  The
    batch side is ingest-sized, so its bucket rows and signatures
    BROADCAST (broadcast_new=True); the corpus side is one scan +
    map-side probe — it never shuffles and is never self-joined.  Both
    public entry points (`incremental_minhash_pairs`,
    `incremental_pairs_against_store`) and the foreachBatch streaming
    path run exactly this plan, so a threshold/estimate change lands
    in every incremental consumer at once.

    `buckets_canonical` asserts corp_buckets ARE
    `_banded_buckets(corp_sigs, num_hashes, bands)` with no bucket-size
    cap (true for both public entry points under their existing
    save-time == probe-time parameter contract); only then may the
    direct batch-matrix probe (`_incremental_allpairs`) replace the
    bucket join, since it replays collisions from the signatures."""
    if buckets_canonical:
        ap = _incremental_allpairs(new_sigs, corp_sigs, num_hashes,
                                   bands, threshold)
        if ap is not None:
            return ap
    nb = _banded_buckets(new_sigs, num_hashes, bands)
    hint = F.broadcast if broadcast_new else (lambda df: df)
    cand = (
        corp_buckets.alias("c")
        .join(
            hint(nb.alias("n")),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.bhash") == F.col("n.bhash"))
            & (F.col("c.id") != F.col("n.id")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("c.id").alias("corpus_id"))
        .distinct()
    )
    est = F.expr(
        "round(aggregate(zip_with(sig_n, sig_c, (x, y) -> "
        "IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / size(sig_n), 6)"
    )
    return (
        cand.join(
            hint(new_sigs.select(F.col("id").alias("new_id"),
                                 F.col("signature").alias("sig_n"))),
            "new_id",
        )
        .join(corp_sigs.select(F.col("id").alias("corpus_id"),
                               F.col("signature").alias("sig_c")),
              "corpus_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


def incremental_minhash_pairs(new_docs: DataFrame, corpus: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 5,
                              num_hashes: int = 32, bands: int = 8,
                              threshold: float = 0.5,
                              broadcast_new: bool = True,
                              max_bucket_size: int | None = None
                              ) -> DataFrame:
    """Cross-corpus near-dup pairs: each NEW document against an
    EXISTING corpus — the incremental-ingest shape (dedup a fresh crawl
    batch against the already-curated store without re-pairing the
    store against itself).

    Returns (new_id, corpus_id, est_jaccard), est >= threshold.

    100 TB story: the batch side is ingest-sized, so its bucket rows
    (and signatures, for the verify join) BROADCAST — the corpus side
    is one scan computing signatures + a map-side probe of the
    broadcast bucket hash table.  The corpus never shuffles and is
    never self-joined; cost is O(corpus scan) + O(batch x matches),
    independent of corpus pair count.  Set broadcast_new=False for an
    atypically large batch and AQE picks the join strategy.
    `max_bucket_size` caps degenerate corpus buckets (see
    `_cap_buckets`).

    NOTE: constructing this DataFrame runs one small EAGER Spark job
    (the bounded batch-signature limit-collect deciding the direct
    probe gate) — plan-only consumers (explain/dry-run tooling) pay
    that job at build time, not at action time.
    """
    new_sigs = cache(
        minhash_signatures(new_docs, text_col, id_col, k, num_hashes)
    )
    corp_sigs = minhash_signatures(corpus, text_col, id_col, k, num_hashes)
    cb = _cap_buckets(
        _banded_buckets(corp_sigs, num_hashes, bands),
        ["band", "bhash"], max_bucket_size,
    )
    return _probe_and_verify(new_sigs, corp_sigs, cb, num_hashes, bands,
                             threshold, broadcast_new,
                             buckets_canonical=max_bucket_size is None)


def save_dedup_signatures(sigs: DataFrame, path: str,
                          num_hashes: int = 32, bands: int = 8) -> None:
    """Persist a minhash signature table plus its banded bucket rows —
    the corpus half of incremental dedup, built once per corpus
    version.  Bucket rows are written PARTITIONED BY band so a probe
    of one band prunes to one directory family; signatures are a plain
    parquet keyed by id."""
    sigs.write.mode("overwrite").parquet(f"{path}/signatures")
    (_banded_buckets(sigs, num_hashes, bands)
     .write.mode("overwrite").partitionBy("band")
     .parquet(f"{path}/buckets"))


def load_dedup_signatures(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(signatures, buckets) read back from `save_dedup_signatures`."""
    return (
        spark.read.parquet(f"{path}/signatures"),
        spark.read.parquet(f"{path}/buckets"),
    )


def incremental_pairs_against_store(new_docs: DataFrame, spark, path: str,
                                    text_col: str = "text",
                                    id_col: str = "doc_id", k: int = 5,
                                    num_hashes: int = 32, bands: int = 8,
                                    threshold: float = 0.5,
                                    broadcast_new: bool = True) -> DataFrame:
    """`incremental_minhash_pairs` against a PERSISTED signature store
    (build once with `minhash_signatures` + `save_dedup_signatures`,
    probe per ingest batch — the deployment shape).  The corpus text is
    never re-read and never re-hashed: cost is O(batch) + a scan of the
    bucket/signature parquet, independent of corpus text size."""
    corp_sigs, corp_buckets = load_dedup_signatures(spark, path)
    new_sigs = cache(
        minhash_signatures(new_docs, text_col, id_col, k, num_hashes)
    )
    return _probe_and_verify(new_sigs, corp_sigs, corp_buckets,
                             num_hashes, bands, threshold, broadcast_new)


def minhash_estimate_eval(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 5,
                          num_hashes: int = 32, bands: int = 8,
                          threshold: float = 0.5) -> DataFrame:
    """Estimator-quality report for the MinHash pipeline: one row
    (n_pairs, mae, bias, mean_est, mean_exact) comparing the signature
    estimate against EXACT shingle Jaccard on the LSH candidate pairs
    that pass `threshold`.

    This is the tuning loop for num_hashes/bands: MAE ~ 1/sqrt(num_
    hashes) on the surviving band (Broder 1997), and a bias far from 0
    flags band-collision survivorship (pairs kept because one band
    matched by luck).  Run it on a sample before committing a 100 TB
    dedup pass to a signature budget.

    Scale shape: the expensive parts are the already-bounded LSH
    candidate generation and ONE exact set intersection per surviving
    pair (pairs ≪ corpus by construction); the final aggregate is a
    1-row map-side reduce.  Per-pair terms round to 6 dp so the DuckDB
    oracle (same estimate SQL + list_intersect exact) agrees."""
    pairs = minhash_lsh_pairs(
        docs, text_col=text_col, id_col=id_col, k=k,
        num_hashes=num_hashes, bands=bands, threshold=threshold)
    # NOTE (r12, measured): a sid-bitmap Arrow port of this exact
    # verify (the `_verify_pairs_arrow` pattern) was built and
    # interleave-A/B'd — it LOST at both scales (sf0.1 min 2.15 s join
    # vs 4.92 s bitmap; 10× replica 6.7 s vs 17.8 s): the join's
    # array_intersect runs only over the SURVIVING pairs (~23k at
    # sf0.1), while the bitmap path pays `_sid_sets`' corpus-wide
    # distinct-shingle aggregation + sid mapping up front.  The join
    # is the right shape here; see OPTIMIZATION_r12.md.
    sets = _shingled(docs, text_col, id_col, k).select(
        "id", F.col("shs").alias("s"))
    j = (
        pairs
        .join(sets.select(F.col("id").alias("id_a"),
                          F.col("s").alias("s_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"),
                          F.col("s").alias("s_b")), "id_b")
        .withColumn("common", F.size(F.array_intersect("s_a", "s_b")))
        .withColumn(
            "exact",
            F.round(
                F.col("common")
                / (F.size("s_a") + F.size("s_b") - F.col("common")), 6))
        .select("est_jaccard", "exact")
    )
    return j.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("est_jaccard") - F.col("exact"))), 6)
        .alias("mae"),
        F.round(F.avg(F.col("est_jaccard") - F.col("exact")), 6)
        .alias("bias"),
        F.round(F.avg("est_jaccard"), 6).alias("mean_est"),
        F.round(F.avg("exact"), 6).alias("mean_exact"),
    )
