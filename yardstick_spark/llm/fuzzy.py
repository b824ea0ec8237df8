"""Fuzzy (approximate-string) entity resolution — blocked edit-distance
matching.

MinHash/SimHash (dedup.py) target near-identical DOCUMENTS; entity
resolution targets short STRINGS (names, titles, addresses) where the
right metric is edit distance.  The classic scale shape is
block-and-verify:

  1. BLOCK: derive one or more cheap blocking keys per record (here:
     a token of the string + a length bucket).  Records sharing no
     block key are never compared — this is what kills the O(n²)
     all-pairs comparison at 100 TB.
  2. VERIFY: self-join within each block, pre-filter on the length
     difference (|len(a)-len(b)| > k ⇒ levenshtein > k, so the
     expensive call never runs), then exact `levenshtein` — a JVM
     built-in, whole-stage codegen, no Python.

Scale properties:
  * Candidate pairs = Σ_block |block|² — bounded by the blocking-key
    cardinality, not n².  A degenerate block (the empty-token key, a
    hyper-common surname) is capped like dedup.py's LSH buckets:
    blocks above `max_block` are dropped and reported, never joined.
  * The join key is the blocking key — uniform short strings, a plain
    hash shuffle; AQE splits whatever skew remains under the cap.
  * Multi-key blocking (k keys per record) multiplies recall at the
    cost of k× candidate duplication; duplicates are removed by the
    id-ordered pair canonicalization + distinct, same as banded LSH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import cache


def blocking_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    len_bucket: int = 4,
) -> DataFrame:
    """(id, block) rows: one block key per token of the normalized
    string — `token#lenbucket` — so records sharing ANY word land in a
    common block.  Length-bucketing splits giant token blocks by
    string size, which both shrinks blocks and preserves recall for
    small edit distances (an edit changes length by ≤1)."""
    norm = F.lower(F.trim(F.col(text_col)))
    toks = F.split(norm, r"\s+")
    return (
        df.select(
            F.col(id_col).alias("id"),
            norm.alias("s"),
            F.explode(toks).alias("tok"),
        )
        .where(F.col("tok") != "")
        .select(
            "id",
            "s",
            F.concat_ws(
                "#", "tok", (F.length("s") / len_bucket).cast("int").cast("string")
            ).alias("block"),
        )
        .distinct()
    )


def _capped_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    len_bucket: int,
    max_block: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Blocking keys with the degenerate-block cap applied.

    `weight_col` makes the cap MEMBER-grain even when `df` holds one
    representative per family: each rep's block contribution is its
    family size, so a block's measured size equals exactly what the
    uncollapsed record-grain table would count (blocking keys are a
    function of the string alone, and every member of a family shares
    its rep's string).  Without it, the cap counts rows of `df`."""
    keyed = blocking_keys(df, id_col, text_col, len_bucket)
    # degenerate-block cap: count per block, drop oversized (report via
    # .where so the plan stays lazy — same policy as dedup.py buckets)
    if weight_col is None:
        sizes = keyed.groupBy("block").agg(F.count("*").alias("bn"))
    else:
        w = df.select(
            F.col(id_col).alias("id"), F.col(weight_col).alias("_w")
        )
        sizes = keyed.join(w, "id").groupBy("block").agg(
            F.sum("_w").alias("bn")
        )
    return keyed.join(
        sizes.where(F.col("bn") <= max_block).select("block"), "block"
    )


def fuzzy_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edit: int = 2,
    len_bucket: int = 4,
    max_block: int = 10_000,
    weight_col: str | None = None,
) -> DataFrame:
    """Pairs (id_a, id_b, edit) with levenshtein ≤ `max_edit`, found
    via token blocking — never an all-pairs join.

    Recall contract: a pair is found iff the two normalized strings
    share at least one whole token AND fall in the same or equal
    length bucket.  For name/title dedup with small `max_edit` this is
    the standard trade; callers needing guaranteed recall at distance
    k can add q-gram blocking keys on top (same join shape).

    NOTE the length bucket is part of the block key, so two strings
    whose lengths straddle a bucket boundary are only compared if some
    shared token puts them in the same bucket — with `len_bucket >
    max_edit` the straddle loss is at most pairs differing by a
    boundary crossing; the oracle replicates the exact same keying, so
    the contract is bit-testable.

    `weight_col` (internal, used by `fuzzy_cluster_edges`): evaluate
    the `max_block` cap over summed weights instead of row counts, so
    a family-collapsed input is capped at member grain.

    NOTE: constructing this DataFrame runs one small EAGER Spark job
    (the family-collapse gate aggregate) — plan-only consumers
    (explain/dry-run tooling) pay that job at build time, not at
    action time.
    """
    if weight_col is None:
        out = _collapsed_pairs(df, id_col, text_col, max_edit,
                               len_bucket, max_block)
        if out is not None:
            return out
    keyed = _capped_blocks(
        df, id_col, text_col, len_bucket, max_block, weight_col
    )
    return _verify_pairs(keyed, max_edit)


def _collapsed_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edit: int,
    len_bucket: int,
    max_block: int,
) -> DataFrame | None:
    """`fuzzy_dedup_pairs` with identical normalized strings collapsed
    to one representative before the blocked-levenshtein verify —
    returns the full record-grain pair list, or None when the gate
    does not admit (caller runs the record-grain path unchanged).

    On repetitive corpora the verify is quadratic in FAMILY sizes
    while the distinct-string workload is constant: the sf0.1 part
    table (20k rows, 64 distinct names) pushed ~34M candidate DPs
    through `levenshtein(s, s, k)` per run, and a 10x replica measured
    29-95 s for the same 64-name workload.  Collapsed, the verify runs
    over |distinct strings| rows; the quadratic part of the output is
    produced by expansion JOINS (it IS the result set), not by
    re-verifying equal strings.

    Exactness (the `fuzzy_cluster_edges` argument, extended to pair
    grain): blocking keys are a function of the normalized string
    alone, so every member of a family holds exactly its rep's blocks;
    the `max_block` cap is evaluated over family-size WEIGHTED rep
    counts, which equals the record-grain block size row for row; a
    cross-family pair exists iff the rep pair shares a surviving block
    and passes the verify (same `levenshtein(s_a, s_b, k)` call, same
    value); an intra-family pair (identical strings, edit exactly 0 —
    what the record path's threshold DP returns for equal strings)
    exists iff the family kept at least one surviving block.  NULL and
    empty strings form no blocks on either path, so their families are
    never `alive` and owe no pairs.

    Gate: ids must be UNIQUE and NON-NULL (one cheap aggregate on the
    distinct (id, s) projection).  Duplicate or NULL ids make the
    record path's cap counting and pair-distinct semantics depend on
    row identity rather than string identity; such inputs (not a
    well-formed ER table) keep the record-grain path, unchanged."""
    from pyspark.sql import Window

    norm = F.lower(F.trim(F.col(text_col)))
    fams = df.select(F.col(id_col).alias("id"), norm.alias("s")).distinct()
    # one aggregate decides the gate: count(*) == count(id) rules out
    # NULL ids, == countDistinct(id) rules out duplicate ids
    g = fams.agg(F.count("*").alias("n"),
                 F.count("id").alias("nn"),
                 F.count_distinct("id").alias("nd")).first()
    if not (g["n"] == g["nn"] == g["nd"]):
        return None
    w = Window.partitionBy("s")
    tagged = cache(fams.withColumn("rid", F.min("id").over(w)))
    reps = (tagged.groupBy("s", "rid").agg(F.count("*").alias("fam_n")))
    keyed = cache(
        _capped_blocks(reps, "rid", "s", len_bucket, max_block, "fam_n")
    )
    rep_pairs = _verify_pairs(keyed, max_edit)
    members = tagged.select("rid", "id")
    # families that kept >= 1 block: only these owe intra pairs (the
    # record path needs a surviving shared block, and identical
    # strings share ALL their blocks)
    alive = keyed.select(F.col("id").alias("rid")).distinct()
    intra = (
        members.join(alive, "rid")
        .alias("x")
        .join(members.alias("y"),
              (F.col("x.rid") == F.col("y.rid"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                F.lit(0).cast("int").alias("edit"))
    )
    cross = (
        rep_pairs
        .join(members.select(F.col("rid").alias("id_a"),
                             F.col("id").alias("__ma")), "id_a")
        .join(members.select(F.col("rid").alias("id_b"),
                             F.col("id").alias("__mb")), "id_b")
        .select(F.least("__ma", "__mb").alias("id_a"),
                F.greatest("__ma", "__mb").alias("id_b"), "edit")
    )
    return cross.unionByName(intra)


def _verify_pairs(keyed: DataFrame, max_edit: int) -> DataFrame:
    """Blocked self-join + banded-levenshtein verify over a capped
    (block, id, s) table."""
    # EXPLICIT numbered repartition of the probe side: the keyed table
    # is tiny relative to the candidate expansion (avg block size x),
    # so AQE's size-based coalescing would otherwise shrink it to ONE
    # partition and the whole verify — |block|^2 candidates, the only
    # expensive part — would run single-threaded (measured: 35 s in 1
    # task vs ~2 s across 64 at sf0.1).  A user-numbered repartition is
    # exempt from AQE coalescing, and hashing on id spreads every block
    # across all tasks, which also neutralizes block-size skew.
    n_verify = 2 * keyed.sparkSession.sparkContext.defaultParallelism
    keyed = keyed.repartition(n_verify, "id")
    a = keyed.select(
        F.col("block"), F.col("id").alias("id_a"), F.col("s").alias("s_a")
    )
    b = keyed.select(
        F.col("block"), F.col("id").alias("id_b"), F.col("s").alias("s_b")
    )
    return (
        a.join(b, "block")
        .where(F.col("id_a") < F.col("id_b"))
        # length pre-filter: free triangle-inequality bound on edit
        # distance — skips the DP for most candidates
        .where(
            F.abs(F.length("s_a") - F.length("s_b")) <= max_edit
        )
        # THRESHOLD form: banded O(len * max_edit) DP that returns -1
        # as soon as the distance provably exceeds max_edit — vs the
        # full O(len^2) table of the 2-arg form.  This matters 3x over:
        # Catalyst pushes the filters below into the join condition, so
        # the expression is evaluated up to three times per candidate
        # (two predicates + the projection); banding turns ~3 full DPs
        # per candidate into ~3 cheap bands (measured 40 s -> ~3 s on
        # 34M candidates at sf0.1).  `edit >= 0` keeps edit == 0 —
        # identical normalized strings are the STRONGEST duplicates and
        # the docstring promises levenshtein <= max_edit — and drops
        # only the -1 over-threshold sentinel.
        .select(
            "id_a",
            "id_b",
            F.expr(f"levenshtein(s_a, s_b, {int(max_edit)})").alias("edit"),
        )
        .where(F.col("edit") >= 0)
        .distinct()
    )


def fuzzy_cluster_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edit: int = 2,
    len_bucket: int = 4,
    max_block: int = 10_000,
) -> DataFrame:
    """Connectivity-equivalent edge list for fuzzy COMPONENTS — the
    family-collapse discipline applied to the levenshtein path.

    `fuzzy_dedup_pairs` must emit every qualifying pair, so a corpus
    with heavy exact repetition (sf0.1 part: 20k rows, 64 distinct
    names) materializes dense edit-0 cliques — 3.8M edges whose only
    job downstream is connectivity.  For component resolution a clique
    and a star are the same graph: identical normalized strings
    collapse to their min-id representative (one star edge per
    member), and ONLY representatives run the blocked-levenshtein
    verify.  Components — and the min-id cluster labels — are provably
    identical to the record-grain pair list AT EVERY SCALE, including
    when the `max_block` cap engages:

      * blocking keys are a function of the string alone, so every
        member of a family lands in exactly its rep's blocks; the cap
        is therefore evaluated over family-size-WEIGHTED rep counts
        (`weight_col`), which equals the record-grain block size —
        the surviving-block set is identical by construction;
      * a cross-family pair exists in the record-grain graph iff the
        rep pair shares a surviving block and passes the verify — the
        same test the collapsed path runs;
      * intra-family (edit-0) pairs exist in the record-grain graph
        iff the family has at least one SURVIVING block, so star
        edges are emitted only for families that kept a block — a
        family whose every block is over cap stays singletons on both
        paths.

    Returns (id_a, id_b) with no edit column (edits are rep-level
    facts, meaningless for star edges).  Token-less strings (empty /
    whitespace / NULL) stay singletons — `fuzzy_dedup_pairs` never
    pairs them (no shared token), so the collapse must not either.

    100 TB shape: the family table is one corpus-grain groupBy; the
    verify — the only superlinear part — runs over |distinct strings|
    rows.  Edge count falls from sum of squared family sizes to
    n_members + rep pairs, which is what keeps the downstream
    connected-components' driver union-find gate usable."""
    norm = F.lower(F.trim(F.col(text_col)))
    fams = (
        df.select(F.col(id_col).alias("id"), norm.alias("s"))
        .where(F.col("s").isNotNull() & (F.col("s") != ""))
    )
    reps = cache(
        fams.groupBy("s").agg(
            F.min("id").alias("rid"), F.count("*").alias("fam_n")
        )
    )
    # member-grain cap: block sizes are summed family sizes, so the
    # surviving-block set matches the record-grain computation exactly
    keyed = cache(
        _capped_blocks(reps, "rid", "s", len_bucket, max_block, "fam_n")
    )
    # families that kept >=1 block — only these have intra-family
    # edges at record grain (a dropped block contributes no pairs)
    alive = keyed.select(F.col("id").alias("rid")).distinct()
    stars = (
        fams.join(reps.select("s", "rid"), "s")
        .join(alive, "rid")
        .where(F.col("id") != F.col("rid"))
        .select(F.col("rid").alias("id_a"), F.col("id").alias("id_b"))
    )
    rep_pairs = _verify_pairs(keyed, max_edit).select("id_a", "id_b")
    return rep_pairs.unionByName(stars)
