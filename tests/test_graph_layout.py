"""Tests for the wave-3 operators: PageRank, Z-order layout,
pivot/unpivot reshape, blocked fuzzy dedup, and perceptual hashing."""

from __future__ import annotations

import glob
import tempfile

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w double")


def test_pagerank_star_center_dominates(spark):
    from yardstick_spark.operators import pagerank

    # star: a,b,c all point at hub
    e = _edges(spark, [("a", "hub", 1.0), ("b", "hub", 1.0),
                       ("c", "hub", 1.0)])
    r = {row.node: row.rank for row in pagerank(e, iterations=20).collect()}
    assert r["hub"] > r["a"] == pytest.approx(r["b"])
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_matches_power_iteration(spark):
    """Cross-check the distributed join loop against a straight numpy
    power iteration on the dense transition matrix."""
    import numpy as np

    from yardstick_spark.operators import pagerank

    rows = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
            ("c", "a", 1.0), ("d", "a", 3.0)]  # d has in-degree 0
    e = _edges(spark, rows)
    got = {r.node: r.rank for r in pagerank(e, iterations=15).collect()}

    nodes = sorted({x for r in rows for x in (r[0], r[1])})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    for s, d, w in rows:
        P[idx[s], idx[d]] += w
    outw = P.sum(axis=1)
    dangling = outw == 0
    P[~dangling] /= outw[~dangling, None]
    r = np.full(n, 1.0 / n)
    damp = 0.85
    for _ in range(15):
        dmass = r[dangling].sum()
        r = (1 - damp) / n + damp * (P.T @ r + dmass / n)
    for nm in nodes:
        assert got[nm] == pytest.approx(r[idx[nm]], abs=1e-12)


def test_pagerank_driver_gate_matches_distributed(spark, call_spy):
    """The gated small-graph numpy fast path and the distributed join
    loop must agree to 6-dp rounding (the grain every caller uses) on
    a graph with parallel edges, weights, and a dangling node — and
    the gate must actually select the intended path each way."""
    from yardstick_spark.operators import graph as G
    from yardstick_spark.operators import pagerank

    calls = call_spy(G, "_pagerank_driver")
    rows = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
            ("c", "a", 1.0), ("d", "a", 3.0), ("a", "b", 0.5)]
    e = _edges(spark, rows)
    fast = {r.node: round(r.rank, 6)
            for r in pagerank(e, iterations=8).collect()}
    assert len(calls) == 1
    slow = {r.node: round(r.rank, 6)
            for r in pagerank(e, iterations=8,
                              driver_max_edges=0).collect()}
    assert len(calls) == 1
    assert fast == slow
    assert sum(fast.values()) == pytest.approx(1.0, abs=1e-6)
    # symmetrize flows through the gate identically on both paths
    fs = {r.node: round(r.rank, 6)
          for r in pagerank(e, iterations=6, symmetrize=True).collect()}
    assert len(calls) == 2
    ss = {r.node: round(r.rank, 6)
          for r in pagerank(e, iterations=6, symmetrize=True,
                            driver_max_edges=0).collect()}
    assert len(calls) == 2
    assert fs == ss


def test_pagerank_sql_twin_matches(spark):
    """The unrolled-CTE oracle generator reproduces the Spark result
    on DuckDB bit-for-bit at 6 decimals."""
    import duckdb

    from yardstick_spark.operators import pagerank, pagerank_sql

    rows = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0),
            ("a", "c", 1.0)]
    e = _edges(spark, rows)
    got = sorted(
        (r.node, round(r.rank, 6))
        for r in pagerank(e, iterations=8).collect()
    )
    vals = ", ".join(f"('{s}', '{d}', {w})" for s, d, w in rows)
    sql = pagerank_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst, w)", iterations=8
    )
    want = sorted(
        (n, round(v, 6))
        for n, v in duckdb.sql(sql).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------


def test_zorder_key_interleaves_bits(spark):
    from yardstick_spark.operators import zorder_key

    # 2 bits per dim, dims already in [0, 3]: morton(x=3, y=0) = 0b0101
    df = spark.createDataFrame(
        [(3, 0), (0, 3), (3, 3), (0, 0)], "x int, y int"
    )
    out = {
        (r.x, r.y): r.zkey
        for r in zorder_key(df, [("x", 0, 3), ("y", 0, 3)], bits=2).collect()
    }
    assert out[(0, 0)] == 0
    assert out[(3, 0)] == 0b0101
    assert out[(0, 3)] == 0b1010
    assert out[(3, 3)] == 0b1111


def test_zorder_span_overflow_raises(spark):
    # (col - lo) * (2^bits - 1) runs in int64: a span past
    # (2^63-1)/top (e.g. an epoch-MICROS range at bits=16) would
    # overflow SILENTLY and corrupt every Morton key — the module
    # must refuse instead (round-6 ADVICE fix, operators/layout.py)
    from yardstick_spark.operators import zorder_key

    df = spark.createDataFrame([(0, 0)], "ts long, y int")
    with pytest.raises(ValueError, match="overflow"):
        zorder_key(df, [("ts", 0, 10 ** 15), ("y", 0, 3)], bits=16)
    # a span just under the limit is accepted
    ok = (2 ** 63 - 1) // ((1 << 16) - 1) - 1
    zorder_key(df, [("ts", 0, ok), ("y", 0, 3)], bits=16)


def test_zorder_duckdb_twin_matches(spark):
    import duckdb

    from yardstick_spark.operators import zorder_key_sql, zorder_key_sql_duckdb

    dims = [("x", 0, 999), ("y", 17, 450)]
    rows = [(i * 37 % 1000, 17 + i * 13 % 434) for i in range(200)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = [
        r.z for r in df.selectExpr(
            f"{zorder_key_sql(dims, bits=12)} AS z").collect()
    ]
    con = duckdb.connect()
    con.sql("CREATE TABLE t (x INT, y INT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = [r[0] for r in con.sql(
        f"SELECT {zorder_key_sql_duckdb(dims, bits=12)} FROM t").fetchall()]
    assert got == want


def test_write_zordered_bounds_both_dims(spark):
    """Each output file's span in EVERY interleaved dimension is a
    fraction of the global span — the property that makes min/max
    pruning fire for filters on either key."""
    from yardstick_spark.operators import write_zordered

    n = 4096
    df = spark.range(n).selectExpr(
        "CAST(id % 64 AS INT) AS x",
        "CAST(pmod(id * 2654435761, 64) AS INT) AS y",
    )
    with tempfile.TemporaryDirectory(prefix="ys_zord_") as d:
        path = f"{d}/t"
        write_zordered(
            df, path, [("x", 0, 63), ("y", 0, 63)], bits=6, num_files=16
        )
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        assert len(files) >= 8
        import pyarrow.parquet as pq

        worst = 0
        for f in files:
            t = pq.read_table(f)
            for c in ("x", "y"):
                vals = t.column(c).to_pylist()
                worst = max(worst, max(vals) - min(vals))
        # random layout would give ~63 span per file in each dim;
        # z-order with 16 files must do far better on both
        assert worst <= 40, worst


# ---------------------------------------------------------------------------
# Reshape
# ---------------------------------------------------------------------------


def test_pivot_and_unpivot_roundtrip(spark):
    from yardstick_spark.operators import pivot_table, unpivot

    df = spark.createDataFrame(
        [("d1", "click", 2.0), ("d1", "view", 3.0), ("d2", "click", 5.0)],
        "day string, et string, v double",
    )
    wide = pivot_table(df, ["day"], "et", ["click", "view"], F.sum("v"))
    rows = {r.day: (r.click, r.view) for r in wide.collect()}
    assert rows == {"d1": (2.0, 3.0), "d2": (5.0, None)}

    tall = unpivot(wide, ["day"], ["click", "view"], "et", "v")
    back = {(r.day, r.et): r.v for r in tall.collect()}
    assert back[("d1", "click")] == 2.0
    assert back[("d2", "view")] is None


def test_pivot_explicit_values_bounded_shuffles(spark):
    """With the value list given, the pivot plan is Spark's standard
    double aggregation — at most two exchanges, and critically NO
    extra distinct-discovery scan of the pivot column (which is what
    omitting the value list costs)."""
    from yardstick_spark.operators import pivot_table

    df = spark.createDataFrame(
        [("d1", "a", 1.0)], "day string, et string, v double")
    plan = pivot_table(
        df, ["day"], "et", ["a", "b"], F.sum("v")
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
    # one scan only: the plan reads the source exactly once
    assert plan.count("Scan ExistingRDD") == 1


# ---------------------------------------------------------------------------
# Fuzzy dedup
# ---------------------------------------------------------------------------


def test_fuzzy_dedup_finds_typos_not_strangers(spark):
    from yardstick_spark.llm import fuzzy_dedup_pairs

    df = spark.createDataFrame(
        [
            (1, "acme widget"),
            (2, "acme widgit"),   # 1 edit from 1
            (3, "acme wadget"),   # 1 edit from 1, 2 from 2
            (4, "zenith gadget"),  # shares no token with acme rows
            (5, "acme widget"),   # exact dup of 1 — edit 0, included
        ],
        "id long, name string",
    )
    pairs = {
        (r.id_a, r.id_b): r.edit
        for r in fuzzy_dedup_pairs(df, "id", "name", max_edit=2).collect()
    }
    assert pairs[(1, 2)] == 1
    assert pairs[(1, 3)] == 1
    assert pairs[(2, 3)] == 2
    assert not any(4 in p for p in pairs)
    assert pairs[(1, 5)] == 0  # identical strings are the strongest dups


def test_fuzzy_dedup_block_cap_drops_megablock(spark):
    from yardstick_spark.llm import fuzzy_dedup_pairs

    rows = [(i, f"common tail{i % 7}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, name string")
    # cap below the 'common' block size: only same-tail pairs survive
    # via their tailN token blocks
    pairs = fuzzy_dedup_pairs(
        df, "id", "name", max_edit=2, max_block=20
    ).collect()
    assert all(
        (p.id_a % 7) == (p.id_b % 7) or p.edit <= 2 for p in pairs
    )


def test_fuzzy_no_cartesian_in_plan(spark):
    from yardstick_spark.llm import fuzzy_dedup_pairs

    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bc")], "id long, name string")
    plan = fuzzy_dedup_pairs(df, "id", "name")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Perceptual hash
# ---------------------------------------------------------------------------


def _img_df(spark, imgs):
    """imgs: list of (media_id, width, height, bytes-like pixel fn)."""
    from yardstick_spark.llm import write_ppm

    rows = [
        (mid, bytearray(write_ppm(w, h, bytes(px))))
        for mid, w, h, px in imgs
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _textured(w, h, c, base=0, tweak=None):
    """Quadratic texture (the synth_textured_media pattern): wraps
    often enough that DCT coefficients are far from zero — linear
    gradients would be tie-dominated and unstable for pHash."""
    px = [
        (x * x * (c + 3) + y * y * (2 * c + 5) + x * y * (c + 1)) % 199
        + base
        for y in range(h) for x in range(w) for _ in range(3)
    ]
    if tweak:
        for i, v in tweak.items():
            px[i] = v
    return px


def test_phash_invariant_to_brightness_and_noise(spark):
    from yardstick_spark.llm import phash64

    w, h = 12, 9
    noisy = _textured(w, h, 5)
    for i in range(3):  # one pixel +25 on all channels
        noisy[(3 * w + 4) * 3 + i] += 25
    imgs = [
        (1, w, h, _textured(w, h, 5)),
        (2, w, h, _textured(w, h, 5, base=40)),  # brightness shift
        (3, w, h, noisy),                        # one perturbed pixel
        (4, w, h, _textured(w, h, 23)),          # different content
    ]
    hashes = {
        r.media_id: r.phash
        for r in phash64(_img_df(spark, imgs)).collect()
    }
    assert hashes[1] == hashes[2]  # DC absorbs brightness
    assert bin(hashes[1] ^ hashes[3]).count("1") <= 4
    assert bin(hashes[1] ^ hashes[4]).count("1") > 10


def test_phash_pairs_banded_exact(spark):
    from yardstick_spark.llm import phash_pairs

    w, h = 12, 9
    imgs = [
        (1, w, h, _textured(w, h, 5)),
        (2, w, h, _textured(w, h, 5, base=35)),
        (3, w, h, _textured(w, h, 23)),
    ]
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_pairs(_img_df(spark, imgs)).collect()
    }
    assert pairs == {(1, 2): 0}


def test_phash_synth_textured_groups_by_content(spark):
    """End-to-end over the JVM-side synthesizer: equal content id <=>
    equal pHash; distinct contents far apart (the property the
    mm_phash analytic oracle relies on)."""
    from yardstick_spark.llm import phash64, synth_textured_media

    docs = spark.range(120).withColumnRenamed("id", "doc_id")
    hashes = {
        r.media_id: r.phash
        for r in phash64(synth_textured_media(docs)).collect()
    }
    by_content: dict[int, set] = {}
    for mid, hv in hashes.items():
        by_content.setdefault(mid % 40, set()).add(hv)
    assert all(len(s) == 1 for s in by_content.values())
    reps = {c: next(iter(s)) for c, s in by_content.items()}
    vals = list(reps.values())
    assert len(set(vals)) == len(vals)  # no cross-content collision
    worst = min(
        bin(a ^ b).count("1")
        for i, a in enumerate(vals) for b in vals[i + 1:]
    )
    assert worst > 2  # max_hamming=2 in the entry is collision-free


def test_phash_null_for_non_image(spark):
    from yardstick_spark.llm import phash64

    df = spark.createDataFrame(
        [(1, bytearray(b"not a ppm"))], "media_id long, payload binary")
    assert phash64(df).collect()[0].phash is None


# ---------------------------------------------------------------------------
# Benford profile
# ---------------------------------------------------------------------------


def test_benford_profile_on_exponential_data(spark):
    """2^k amounts follow Benford closely; assert shape + invariants:
    shares sum to 1, benford column matches log10(1+1/d)."""
    import math

    from yardstick_spark.operators import benford_profile

    df = spark.range(400).selectExpr("pow(2.0, id % 40 + 1) AS amt")
    rows = benford_profile(df, "amt").collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-5)
    for r in rows:
        assert r.benford == pytest.approx(
            math.log10(1 + 1 / r.digit), abs=1e-6)
        assert r.delta == pytest.approx(r.share - r.benford, abs=2e-6)


def test_benford_excludes_nonpositive(spark):
    from yardstick_spark.operators import benford_profile

    df = spark.createDataFrame(
        [(0.0,), (-5.0,), (123.0,)], "amt double")
    rows = benford_profile(df, "amt").collect()
    assert len(rows) == 1 and rows[0].digit == 1 and rows[0].n == 1


# ---------------------------------------------------------------------------
# Fuzzy clusters (composition)
# ---------------------------------------------------------------------------


def test_fuzzy_clusters_canonical_verdict(spark):
    from yardstick_spark.llm import dedup_assign, fuzzy_dedup_pairs

    df = spark.createDataFrame(
        [
            (10, "acme widget"),
            (11, "acme widgit"),
            (12, "acme widget"),   # exact dup of 10: direct edit-0
                                   # edge (and transitively via 11)
            (20, "zen gadget"),
            (21, "zen gadget x"),  # 2 edits away — outside max_edit=1
        ],
        "p_partkey long, name string",
    )
    pairs = fuzzy_dedup_pairs(df, "p_partkey", "name", max_edit=1)
    verdict = {
        r.p_partkey: (r.cluster_id, r.keep)
        for r in dedup_assign(df, pairs, id_col="p_partkey").collect()
    }
    assert verdict[10] == (10, True)
    assert verdict[11] == (10, False)
    assert verdict[12] == (10, False)  # direct edit-0 edge to 10
    assert verdict[20] == (20, True)
    assert verdict[21] == (21, True)


# ---------------------------------------------------------------------------
# Audio fingerprint
# ---------------------------------------------------------------------------


def test_audio_fingerprint_volume_invariant(spark):
    """Same waveform at different volumes fingerprints identically
    (ZCR/period); a different period is told apart; bytes differ in
    both cases."""
    from yardstick_spark.llm import audio_fingerprint, write_wav

    def square(hp, amp, blocks=20):
        out = []
        for b in range(blocks):
            out += [amp if b % 2 == 0 else -amp] * hp
        return out

    df = spark.createDataFrame(
        [
            (1, bytearray(write_wav(square(5, 3000)))),
            (2, bytearray(write_wav(square(5, 12000)))),   # louder copy
            (3, bytearray(write_wav(square(8, 3000)))),    # other pitch
            (4, bytearray(b"not audio")),
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in audio_fingerprint(df).collect()}
    assert (rows[1].zcr, rows[1].est_period) == (rows[2].zcr,
                                                 rows[2].est_period)
    assert rows[1].amp != rows[2].amp
    assert rows[1].est_period == 10 and rows[3].est_period == 16
    assert rows[4].n_samples is None


def test_synth_square_wav_roundtrip(spark):
    """JVM-synthesized square WAVs decode to the analytic features the
    mm_audio_fp oracle assumes."""
    from yardstick_spark.llm import audio_fingerprint, synth_square_wav

    docs = spark.range(60).withColumnRenamed("id", "doc_id")
    rows = {
        r.media_id: r
        for r in audio_fingerprint(synth_square_wav(docs)).collect()
    }
    for i in range(60):
        hp = (i % 30) % 10 + 2
        r = rows[i]
        assert r.n_samples == 20 * hp
        assert r.n_transitions == 19
        assert r.est_period == 2 * hp
        assert r.amp == pytest.approx((i % 5 + 1) * 3000 / 32768, abs=1e-6)


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------


def test_triangle_counts_k4_plus_pendant(spark):
    """K4 (every node in C(3,2)=3 triangles) plus a pendant node (0);
    duplicate and reversed edges collapse; self-loops ignored."""
    from yardstick_spark.operators import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(b, a) for a, b in k4]          # reversed dups
    edges += [(3, 4), (2, 2), (0, 1)]             # pendant, loop, dup
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0}


def test_triangle_counts_star_has_none(spark):
    from yardstick_spark.operators import triangle_counts

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 6


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------


def test_lpa_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge settle on their own
    min-id labels; the bridge does not merge them."""
    from yardstick_spark.operators import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a, b in c1]
    df = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    got = {r.node: r.community
           for r in label_propagation(df, iterations=4).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(10, 14)} == {10}


def test_lpa_matches_duckdb_unrolled(spark):
    """Spark rounds == lpa_sql rounds on a random-ish graph (the same
    determinism contract the oracle relies on)."""
    import duckdb

    from yardstick_spark.operators import label_propagation, lpa_sql

    edges = [(i, (i * 7 + 3) % 23) for i in range(23)] + [(1, 17), (4, 9)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community
           for r in label_propagation(df, iterations=3).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE ge (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO ge VALUES (?, ?)", edges)
    want = dict(con.sql(
        lpa_sql("SELECT src, dst FROM ge", iterations=3)).fetchall())
    assert got == want


def test_lpa_driver_gate_matches_distributed(spark, call_spy):
    """The gated small-graph dict fast path and the distributed
    superstep loop must agree exactly (both are integer label
    arithmetic with the same (count desc, label asc) tie contract),
    and string node ids flow through the gate's schema handling."""
    from yardstick_spark.operators import graph as G
    from yardstick_spark.operators import label_propagation

    calls = call_spy(G, "_lpa_driver")
    edges = [(i, (i * 7 + 3) % 23) for i in range(23)] + [(1, 17), (4, 9)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {r.node: r.community
            for r in label_propagation(df, iterations=4).collect()}
    assert len(calls) == 1
    slow = {r.node: r.community
            for r in label_propagation(df, iterations=4,
                                       driver_max_edges=0).collect()}
    assert len(calls) == 1
    assert fast == slow
    sdf = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string")
    sfast = {r.node: r.community
             for r in label_propagation(sdf, iterations=3).collect()}
    assert len(calls) == 2
    sslow = {r.node: r.community
             for r in label_propagation(sdf, iterations=3,
                                        driver_max_edges=0).collect()}
    assert len(calls) == 2
    assert sfast == sslow


# ---------------------------------------------------------------------------
# Embedding outliers
# ---------------------------------------------------------------------------


def test_embedding_outliers_flags_planted(spark):
    """A vector planted far from its label's cluster gets the label's
    max z; tight same-label members sit below it."""
    import numpy as np

    from yardstick_spark.llm import embedding_outliers

    rng = np.random.RandomState(5)
    rows = []
    for i in range(30):
        v = rng.randn(8) * 0.05 + (1.0 if i % 2 else -1.0)
        rows.append((i, [float(x) for x in v], i % 2))
    rows.append((99, [float(x) for x in rng.randn(8) * 0.05 + 5.0], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r.id: r for r in embedding_outliers(df).collect()}
    assert len(got) == 31
    zmax = max(r.z for r in got.values() if r.label == 0)
    assert got[99].z == zmax and got[99].z > 2.0


def test_outliers_and_prototypes_partition_stable(spark):
    """Rounded outputs must not depend on the partition split (same
    determinism contract the covariance kernel carries exactly; here
    the float-sum jitter (~1e-12) sits 6+ orders below the 1e-4/1e-6
    output rounding, so rounded outputs are split-invariant — this
    test is the tripwire if an aggregate shape ever amplifies the
    error, as covariance's Sxy*n - Sx*Sy cancellation did)."""
    import numpy as np

    from yardstick_spark.llm import embedding_outliers, label_prototypes

    rng = np.random.RandomState(17)
    rows = [(i, [float(x) for x in rng.randn(16)], i % 5)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    ref_out = ref_proto = None
    for n in (1, 7, 32):
        d = df.repartition(n)
        out = sorted((r.id, r.label, r.dist, r.z)
                     for r in embedding_outliers(d).collect())
        proto = sorted((r.label, r.n_vecs, tuple(r.centroid))
                       for r in label_prototypes(d).collect())
        if ref_out is None:
            ref_out, ref_proto = out, proto
        else:
            assert out == ref_out
            assert proto == ref_proto


# ---------------------------------------------------------------------------
# Scene cuts
# ---------------------------------------------------------------------------


def test_scene_cuts_planted_and_garbage(spark):
    """Planted cut found at the right frame with the right magnitude;
    non-YSV1 payloads yield no rows."""
    from yardstick_spark.llm import scene_cuts

    def vid(w, h, frames):
        head = f"YSV1{w} {h} {len(frames)}\n".encode()
        body = b"".join(bytes([v] * (w * h * 3)) for v in frames)
        return bytearray(head + body)

    df = spark.createDataFrame(
        [
            (1, "video", vid(2, 2, [10, 10, 110, 110])),   # cut at idx 2
            (2, "video", vid(3, 2, [50, 50, 50])),          # no cut
            (3, "video", bytearray(b"not video")),
        ],
        "media_id long, media_type string, payload binary",
    )
    rows = {(r.media_id, r.frame_idx): r for r in scene_cuts(df).collect()}
    assert set(rows) == {(1, 1), (1, 2), (1, 3), (2, 1), (2, 2)}
    assert rows[(1, 2)].diff == pytest.approx(100 / 255, abs=1e-6)
    assert rows[(1, 2)].is_cut
    assert rows[(1, 1)].diff == 0.0 and not rows[(1, 1)].is_cut
    assert not rows[(2, 1)].is_cut


def test_synth_video_roundtrip(spark):
    """JVM-synthesized videos decode to the analytic cut the
    mm_scene_cuts oracle assumes."""
    from yardstick_spark.llm import scene_cuts, synth_video

    docs = spark.range(40).withColumnRenamed("id", "doc_id")
    rows = {}
    for r in scene_cuts(synth_video(docs)).collect():
        rows.setdefault(r.media_id, {})[r.frame_idx] = r.diff
    for i in range(40):
        n = i % 6 + 4
        c = i % (n - 1) + 1
        v1, v2 = i % 251, (i * 7 + 13) % 251
        assert set(rows[i]) == set(range(1, n))
        for idx, d in rows[i].items():
            want = round(abs(v2 - v1) / 255, 6) if idx == c else 0.0
            assert d == pytest.approx(want, abs=1e-6), (i, idx)
