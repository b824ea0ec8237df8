"""Scalar (int8) embedding quantization: per-dimension min/max scaling
into [-128, 127], plus search over the quantized representation.

At 100 TB of float32 embeddings, quantizing to int8 cuts the stored
index — and every candidate shuffle that carries vectors — by 4x, at a
recall cost bounded by the per-dimension resolution (1/255 of the
dimension's observed range).  This is the classic scalar-quantization
ANN memory trade (faiss SQ8 shape), expressed Spark-first:

- `quantization_params` is ONE posexplode + (pos) min/max aggregation:
  partial-agg map-side, the shuffle carries dim rows per task.
- `quantize_embeddings` applies the (broadcast, dim-row) parameter
  table scan-side with an indexed `transform` — no Python, no shuffle;
  the output column is `array<int>` holding values in [-128, 127]
  (Spark array literals of TINYINT are awkward across the SQL surface;
  the 4x win is in the parquet encoding, where small ints delta/RLE
  encode to ~1 byte regardless of the declared width).
- `quantized_knn` dequantizes scan-side (again an indexed transform)
  and scores with the same fold as `similarity.brute_force_knn`, so
  its results are bit-reproducible and oracle-checkable; recall vs the
  exact scorer is property-tested, not assumed.

Both the quantizer and the dequantizer round through the SAME midpoint
formula on both engines (floor(x + 0.5) on non-negative scaled values),
so Spark and DuckDB produce identical codes bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sparkutil import as_double


def quantization_params(vecs: DataFrame, vec_col: str = "embedding",
                        ) -> DataFrame:
    """Per-dimension (pos, mn, mx) over the corpus — dim rows.  One
    scan; the groupBy key cardinality is the vector dimension."""
    return (
        vecs.select(F.posexplode(F.expr(as_double(vec_col)))
                    .alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    )


def _params_arrays(params: DataFrame) -> tuple[str, str]:
    """(mns, rngs) SQL array literals from the collected parameter
    table — dim doubles each (a 64-dim corpus collects 128 numbers to
    the driver; bounded by dimension, never by rows).  Ranges of 0
    (constant dimension) are kept as 0 and special-cased at use."""
    rows = sorted(params.collect(), key=lambda r: r["pos"])
    mns = "array(" + ", ".join(repr(float(r["mn"])) + "D" for r in rows) + ")"
    rngs = "array(" + ", ".join(
        repr(float(r["mx"]) - float(r["mn"])) + "D" for r in rows) + ")"
    return mns, rngs


def quantize_expr(vec_col: str, mns: str, rngs: str) -> str:
    """array<int> of int8 codes: code = floor((x-mn)/rng*255 + 0.5) - 128,
    clamped to [-128, 127]; constant dimensions (rng=0) code to 0.
    floor(v + 0.5) is midpoint-up rounding on the non-negative scaled
    value — identical in Spark and DuckDB (whose round() differ in
    half-even vs half-up corners)."""
    v = as_double(vec_col)
    return (
        f"transform({v}, (x, i) -> CAST(IF(element_at({rngs}, i + 1) = 0D, 0, "
        f"greatest(-128, least(127, "
        f"floor((x - element_at({mns}, i + 1)) / element_at({rngs}, i + 1) "
        f"* 255D + 0.5D) - 128))) AS INT))"
    )


def dequantize_expr(q_col: str, mns: str, rngs: str) -> str:
    """array<double> reconstruction: x̂ = (code+128)/255*rng + mn."""
    return (
        f"transform({q_col}, (q, i) -> "
        f"CAST(q + 128 AS DOUBLE) / 255D * element_at({rngs}, i + 1) "
        f"+ element_at({mns}, i + 1))"
    )


def quantize_embeddings(vecs: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        params: DataFrame | None = None,
                        keep_cols: tuple = ()) -> DataFrame:
    """(id_col, qvec array<int>, *keep_cols).  `params` defaults to
    `quantization_params(vecs)` — pass a saved table to quantize new
    batches against a frozen scale (the production shape: params are
    computed once per index build, then reused by every ingest)."""
    if params is None:
        params = quantization_params(vecs, vec_col=vec_col)
    mns, rngs = _params_arrays(params)
    return vecs.select(
        F.col(id_col),
        F.expr(quantize_expr(vec_col, mns, rngs)).alias("qvec"),
        *[F.col(c) for c in keep_cols],
    )


def quantized_knn(corpus_q: DataFrame, queries_q: DataFrame,
                  params: DataFrame, k: int = 10,
                  id_col: str = "vec_id", q_col: str = "qvec",
                  round_to: int | None = 4) -> DataFrame:
    """Exact top-k cosine over DEQUANTIZED vectors:
    (query_id, neighbor_id, sim, rank).  Same broadcast-queries /
    partitioned-corpus / WindowGroupLimit shape as
    `similarity.brute_force_knn`; the reconstruction happens scan-side
    so the pair loop is still one dot product."""
    from .similarity import brute_force_knn

    mns, rngs = _params_arrays(params)
    deq = dequantize_expr(q_col, mns, rngs)
    c = corpus_q.select(F.col(id_col), F.expr(deq).alias("embedding"))
    q = queries_q.select(F.col(id_col), F.expr(deq).alias("embedding"))
    return brute_force_knn(c, q, k=k, id_col=id_col,
                           vec_col="embedding", round_to=round_to)
