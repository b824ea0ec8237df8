"""Streaming statistics maintenance: incremental covariance / Gram
state over an embedding stream.

The covariance sufficient statistics (Sxy, Sx, Sy, n per (d, i, j))
are EXACTLY mergeable — batch partials just add — so a stream
maintains the same state `llm.pca.covariance_matrix` derives in one
batch pass, with no approximation and no watermark: the state is the
d(d+1)/2-row moment table, independent of how many rows ever streamed.
This is the streaming half of drift monitoring: a nightly PCA
(`pca_components`) reads the maintained moments instead of rescanning
the corpus.

foreachBatch (not a stateful operator) on purpose: the merge is a
d^2-bounded groupBy-sum against a tiny versioned parquet state table,
the same pattern as `ingest.start_scd2_ingest` — Spark's incremental
engine would buffer per-key state for a global aggregate anyway, and
the explicit table is readable by any batch session mid-stream.

Replay idempotence: foreachBatch is at-least-once — a micro-batch can
re-run after a crash between the state write and the offset commit.
A read-merge-OVERWRITE of one state file would double-count the
replayed batch.  Instead each batch writes `v=<batch_id>/` computed
from the latest version STRICTLY BELOW batch_id, so a replay
recomputes v=<batch_id> from the same predecessor and overwrites
itself — same final state, any number of retries.  Old versions are
pruned (keep 2) once the new one lands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..llm.pca import (_COV_PARTIAL_SCHEMA, _cov_partial_fn,
                       covariance_from_moments, merge_moment_tables)
from ..sparkutil import as_double

__all__ = ["covariance_from_moments", "merge_moment_tables",
           "latest_moments", "start_covariance_stream"]


def _fs_and_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _versions(spark, state_path: str) -> list[int]:
    fs, p = _fs_and_path(spark, state_path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                pass
    return sorted(out)


def latest_moments(spark, state_path: str,
                   below: int | None = None) -> DataFrame | None:
    """The most recent committed moment table (optionally restricted
    to versions strictly below `below` — the replay-idempotence
    read), or None before the first batch."""
    vs = [v for v in _versions(spark, state_path)
          if below is None or v < below]
    if not vs:
        return None
    return spark.read.parquet(f"{state_path}/v={vs[-1]}")


def _batch_moments(batch_df: DataFrame, vec_col: str) -> DataFrame:
    """One micro-batch's sufficient statistics via the SAME
    partition-Gram kernel as the batch operator (`pca._cov_partial_fn`)
    — streamed and batch statistics are bit-identical by
    construction."""
    parts = (
        batch_df.select(F.expr(as_double(vec_col)).alias("v"))
        .filter(F.col("v").isNotNull() & (F.size("v") > 0))
        .mapInPandas(_cov_partial_fn(), schema=_COV_PARTIAL_SCHEMA)
    )
    return merge_moment_tables(parts)


def start_covariance_stream(new_vecs: DataFrame, spark, state_path: str,
                            vec_col: str = "embedding",
                            keep_versions: int = 2,
                            **stream_opts):
    """Maintain covariance sufficient statistics over a vector stream.
    Each micro-batch merges its partials with the latest state version
    below its batch_id and writes `v=<batch_id>/` — idempotent under
    foreachBatch's at-least-once replay (see module docstring); the
    state is d(d+1)/2 rows per observed dimension regardless of stream
    length.  Read the current covariance any time with
    `covariance_from_moments(latest_moments(spark, state_path))`;
    stream≡batch and replay idempotence are asserted in
    tests/test_sinks_stateful.py.  Returns the started StreamingQuery."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = _batch_moments(batch_df, vec_col)
        prev = latest_moments(spark, state_path, below=batch_id)
        merged = merge_moment_tables(prev, batch) if prev is not None \
            else batch
        merged.write.mode("overwrite").parquet(
            f"{state_path}/v={batch_id}")
        # prune old versions only AFTER the new one is fully written
        fs, _ = _fs_and_path(spark, state_path)
        jvm = spark._jvm
        for v in _versions(spark, state_path)[:-keep_versions]:
            if v < batch_id:
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    f"{state_path}/v={v}"), True)

    return (new_vecs.writeStream.foreachBatch(_process)
            .options(**stream_opts).start())
