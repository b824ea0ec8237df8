"""Spark helpers shared by `llm/`, `operators/` and `streaming/`: the
one bounded driver fetch behind every small-input gate, the registry of
cache barriers, the portable md5 hash and the input-size probes."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def collect_if_small(df: DataFrame, max_rows: int, *,
                     count_first: bool = False):
    """The rows of `df` if it has at most `max_rows` rows, else None:
    the one driver fetch behind every "small enough for the driver?"
    gate.  `max_rows <= 0` returns None without a job (0 forces the
    caller's distributed path).

    By default one `limit(max_rows + 1)` fetch decides and fetches,
    with no count; over the bound it ships `max_rows + 1` rows to the
    driver and drops them.  Spark's take scans partitions in rounds
    growing ×4 per job, so on a `localCheckpoint` it is 1, 2, 3, 4 and
    5 jobs at 1, 4, 16, 64 and 200 partitions (count plus collect: 2
    to 4).  `count_first` counts, then collects only rows that fit:
    the gates with large bounds use it, on inputs their fallback
    materializes anyway.  Count vs fetch over the bound, 4-core host:
    1.2M-edge checkpoint at 1M, 0.15 vs 5.3 s; 250k cached 32-dim
    vectors at 200k, 2.8 vs 7.3 s; 150k cached rows at 100k, 0.5 vs
    1.2 s.  Tests patch this name in a caller's namespace to pin that
    caller's fallback."""
    if not max_rows or max_rows <= 0:
        return None
    if count_first:
        return df.collect() if df.count() <= max_rows else None
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


# Registered materialization barriers: long-lived sessions release them
# with clear_dedup_caches() between pipeline runs.
_CACHED: list[DataFrame] = []


def cache(df: DataFrame) -> DataFrame:
    """`df.cache()`, registered for release by clear_dedup_caches()."""
    df = df.cache()
    _CACHED.append(df)
    return df


def register(df: DataFrame) -> DataFrame:
    """Track an already-materialized frame (eager localCheckpoint)
    without re-caching it.  unpersist() is a no-op on it: popping its
    entry in clear_dedup_caches() drops the last reference, and
    ContextCleaner then frees the blocks."""
    _CACHED.append(df)
    return df


def clear_dedup_caches() -> None:
    """Unpersist every registered intermediate.  Results already
    materialized stay valid; unmaterialized lazy results will
    recompute (correct, just slower)."""
    while _CACHED:
        try:
            _CACHED.pop().unpersist()
        except Exception:
            pass


def portable_hash(expr: str) -> str:
    """60-bit md5 hash int(md5_hex[:15], 16) of a SQL expression: Spark
    (conv) and DuckDB (CAST('0x..' AS BIGINT)) agree on it."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


# Mersenne prime 2^31-1 for the universal-hash permutation family
MH_P = 2147483647


def as_double(col: str) -> str:
    """SQL expression casting array column `col` to ARRAY<DOUBLE>."""
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def local_input(df: DataFrame) -> tuple[list, int] | None:
    """(local file paths, total bytes) of `df`'s scan input, read from
    file metadata on the driver — no Spark job — or None when the
    frame is not local-file-backed (no file scan, a remote FS, or
    metadata that cannot be read).  The one input-size probe behind
    the `_spread`, `_spread_by_bytes` and `_fan_out_for_queries`
    partition gates."""
    try:
        paths = [f.removeprefix("file:") for f in df.inputFiles()]
        if not paths or not all(p.startswith("/") for p in paths):
            return None
        return paths, sum(os.path.getsize(p) for p in paths)
    except Exception:  # noqa: BLE001
        return None


def parquet_rows(paths: list) -> int | None:
    """Row total from the parquet footers of `paths` (pyarrow metadata
    on the driver: no Spark job, no data read), or None unless every
    path is a readable parquet footer — a PARTIAL total would silently
    under-partition the per-row-cost chains the row floors protect."""
    try:
        import pyarrow.parquet as pq

        if not all(p.endswith(".parquet") for p in paths):
            return None
        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    except Exception:  # noqa: BLE001
        return None
