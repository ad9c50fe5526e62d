"""Hashing column builders.

Two families:

- ``url_hash64`` — xxhash64, the fast JVM-side hash used on the hot
  path (URL-seen keys, host salting). Replaces the reference's exact
  URL-string hashmap keys (/root/reference/scrape.go:62) with a 64-bit
  key that shuffles/compares cheaply at 10^10-row scale.

- ``portable_hash64`` — md5-derived 60-bit hash computable identically
  in Spark SQL and DuckDB/ANSI SQL. Used wherever a DuckDB oracle must
  reproduce our values bit-for-bit (minhash/simhash/fingerprint gates).
  Spark:  CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
  DuckDB: CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_hash64(col: Column | str) -> Column:
    """xxhash64 of a (canonical) URL string — hot-path seen-set key."""
    return F.xxhash64(col)


def portable_hash64(col: Column | str) -> Column:
    """60-bit md5-prefix hash, reproducible in DuckDB (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB-side rendering of :func:`portable_hash64` for oracles."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
