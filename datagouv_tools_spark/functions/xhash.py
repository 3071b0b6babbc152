"""Cross-engine deterministic hashing.

``xxhash64`` is the right production hash (JVM-native, fastest), but it
exists only in Spark — a DuckDB oracle cannot recompute it. For every
sketch operator (MinHash, SimHash, winnowing, IVF centroid sampling)
this module provides an alternative 60-bit hash derived from md5, which
BOTH engines evaluate bit-identically:

    Spark :  CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)
    DuckDB:  ('0x' || substr(md5(x), 1, 15))::BIGINT

15 hex chars = 60 bits, always positive, so no signed-shift or overflow
semantics can diverge. The sketch operators take a ``token_hash``
parameter: "xxhash64" (default, production) or "md5" (oracle-checkable;
~2-3x more per-row hash cost, same plan shape — the query surface uses
this mode so the driver can verify the full sketch pipeline, not just
its verification stage).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["md5_hash60", "token_hash_expr"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_hash60(col: Column | str) -> Column:
    """60-bit positive bigint from the md5 hex digest (cross-engine)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def token_hash_expr(token: Column, token_hash: str) -> Column:
    """Per-token hash column for sketch operators."""
    if token_hash == "xxhash64":
        return F.xxhash64(token)
    if token_hash == "md5":
        return md5_hash60(token)
    raise ValueError(f"unknown token_hash {token_hash!r} (xxhash64|md5)")
