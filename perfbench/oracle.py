"""DuckDB oracle for the benchmark's operations.

Results are compared as value hashes: rows are normalised with the
repository's own `tests/oracle_diff.normalize` (imported, not copied),
which sorts columns by name and rows by value, then hashed together with
the sorted column names.  A mismatch makes the operation fail.
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tests"))

from oracle_diff import normalize  # noqa: E402
from xxh64_ref import spark_xxhash64  # noqa: E402

# DuckDB has no xxhash64, so `text_dsir_xxh` is checked against the md5
# DSIR oracle with its bucket hash replaced by the pure-Python reference
# XXH64 of the same (a, b) gram struct Spark hashes
_MD5_BUCKET = re.compile(
    r"CAST\(CONCAT\('0x', SUBSTRING\(md5\(gram\), 1, 15\)\)\s+AS BIGINT\)"
    r" % 1024")


def digest(rows, cols) -> str:
    """Value hash of a result: column names and order-insensitive values."""
    cols = [c.lower() for c in cols]
    body = repr((sorted(cols), normalize([list(r) for r in rows], cols)))
    return hashlib.sha256(body.encode()).hexdigest()


class Oracle:
    """DuckDB connection with one view per parquet table of `sf_dir`."""

    def __init__(self, sf_dir: Path, tables):
        import duckdb
        from duckdb.typing import BIGINT, VARCHAR

        self.con = duckdb.connect()
        for t in tables:
            p = sf_dir / f"{t}.parquet"
            if p.exists():
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        grams: dict[str, int] = {}

        def xxh_bucket(gram: str) -> int:
            if gram not in grams:
                a, _, b = gram.partition(" ")
                grams[gram] = spark_xxhash64(a, b or None) % 1024
            return grams[gram]

        self.con.create_function("xxh_bucket", xxh_bucket, [VARCHAR], BIGINT)

    def expected(self, sql: str) -> str:
        res = self.con.sql(sql)
        return digest(res.fetchall(), res.columns)

    def close(self) -> None:
        self.con.close()


def oracle_queries() -> dict[str, str]:
    """`__spark_entry__.oracle_sql()` plus the derived `text_dsir_xxh`."""
    import __spark_entry__ as entry

    o = dict(entry.oracle_sql())
    xxh, n = _MD5_BUCKET.subn("xxh_bucket(gram)", o["text_dsir_weights"])
    if n != 1:
        raise RuntimeError("text_dsir_weights oracle no longer has the md5 "
                           "bucket expression the xxh64 twin replaces")
    o.setdefault("text_dsir_xxh", xxh)
    return o
