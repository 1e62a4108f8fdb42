"""Portable (cross-engine) hash lanes.

The near-dup operators (MinHash, SimHash) hash on ONE lane, md5. Spark's
fastest string hash, ``xxhash64``, has no DuckDB twin, so a query built
on it could only be rows-only checked. Both engines DO implement ``md5``
over identical UTF-8 bytes, so a 60-bit lane sliced from the md5 hex
digest is a hash the DuckDB oracle can replay term for term:

    Spark:  conv(substr(md5(x), 1, 15), 16, 10)  cast to long
    DuckDB: CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)

15 hex chars = 60 bits, always non-negative in a signed 64-bit long on
both engines (no sign-extension edge to diverge on). md5's avalanche is
cryptographic, so a 60-bit slice is uniform -- statistically as good a
MinHash / SimHash base as xxhash64, at roughly 3-4x the compute. That
cost buys hash-level verifiability: q21/q22 and every near-dup consumer
grade against the oracle."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5lane(col: Column) -> Column:
    """Portable 60-bit hash of a string column (non-negative long)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def duck_md5lane(expr: str) -> str:
    """DuckDB SQL text computing the exact same 60-bit lane."""
    return f"CAST(('0x'||substr(md5({expr}),1,15)) AS BIGINT)"
