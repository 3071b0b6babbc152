"""Broadcast Bloom-filter pre-filtering for selective joins.

The 100 TB join problem this solves: a semi/inner join whose build side
is selective (say 1% of orders) still shuffles the ENTIRE probe side —
every lineitem row travels to its join partition before any of it can
be discarded. Engines fix this with runtime filters (Spark's own
``spark.sql.optimizer.runtime.bloomFilter`` injects one when statistics
cooperate); this module is the explicit version the engine controls:
build an m-bit Bloom filter of the build-side keys (a tiny distributed
aggregation — m/64 bigint words), inline it in the probe-side plan as
an array literal, and drop non-members map-side BEFORE the shuffle.
False positives pass the filter and are removed by the real join that
follows, so results are EXACT for any (m, k) — the filter only changes
how many rows shuffle, never the answer (which is why the query oracle
is simply the plain join).

Representation, measured (tests/test_bloom.py pins the outcome, the
numbers are from 600k probe rows at sf0.1): element_at into the
m/64-word array literal probes in ~0.6 s warm; a single m-char '0'/'1'
string literal probed with substr looked tidier but is catastrophic —
UTF8String.substring walks bytes from the start, O(position) per call,
and never finished. Hashes default to native ``xxhash64`` (md5-derived
positions cost ~2× more; pass ``hash_mode="md5"`` when a test wants
cross-engine-reproducible membership decisions — the query RESULT
never depends on the mode, only the surviving intermediate row set).

Sizing: false-positive rate ≈ (1 − e^(−k·n/m))^k. The default m=2^16,
k=4 holds ~4 700 keys at 1% FP; the inlined words are m/8 bytes (8 KiB
at 2^16) — size m to the build side, still cheap against shuffling a
row from 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.litfast import lit_bigint_array
from datagouv_tools_spark.functions.xhash import md5_hash60

__all__ = ["bloom_build", "bloom_contains", "bloom_prefilter_join"]

#: signed-bigint values of 1<<b for b in 0..63 (bit 63 wraps negative);
#: a 64-element lookup replaces shiftleft-by-a-Column, which the
#: DataFrame API does not expose (F.shiftleft takes a literal count)
_BIT_VALUES = [(1 << b) - ((1 << 64) if b == 63 else 0) for b in range(64)]


def _bit_of(pos: Column) -> Column:
    return F.element_at(lit_bigint_array(_BIT_VALUES), (pos % 64).cast("int") + 1)


def _positions(key: Column, m_bits: int, k: int, hash_mode: str) -> list[Column]:
    if hash_mode == "md5":
        return [
            md5_hash60(F.concat(key.cast("string"), F.lit(f":bf{i}"))) % m_bits
            for i in range(k)
        ]
    return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
    hash_mode: str = "xxhash64",
) -> list[int]:
    """Build the filter as ``m_bits/64`` bigint words with one
    distributed bit_or aggregation (map-side combining; the driver
    receives only the word list)."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(
        F.array(*_positions(F.col(key_col), m_bits, k, hash_mode))
    ).alias("p")
    words = (
        keys.select(pos)
        .select(F.expr("p DIV 64").alias("w"), _bit_of(F.col("p")).alias("b"))
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    out = [0] * (m_bits // 64)
    for r in words:
        out[int(r["w"])] = int(r["bits"])
    return out


def bloom_contains(
    words: list[int],
    key: Column,
    m_bits: int | None = None,
    k: int = 4,
    hash_mode: str = "xxhash64",
) -> Column:
    """Membership test as JVM expressions over the inlined word array —
    evaluates on the probe side with no per-row driver involvement."""
    m = m_bits if m_bits is not None else len(words) * 64
    if len(words) * 64 != m:
        raise ValueError("word list does not match m_bits")
    arr = lit_bigint_array(words)
    cond = F.lit(True)
    for p in _positions(key, m, k, hash_mode):
        word = F.element_at(arr, F.floor(p / 64).cast("int") + 1)
        cond = cond & (word.bitwiseAND(_bit_of(p)) != 0)
    return cond


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    how: str = "left_semi",
    m_bits: int = 1 << 16,
    k: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact join with a Bloom pre-filter on the probe side: non-member
    probe rows die map-side before the shuffle; the real join then
    removes the filter's false positives. ``build`` should already be
    reduced to its selective key set."""
    bk = build_key or probe_key
    words = bloom_build(build.select(bk).distinct(), bk, m_bits, k, hash_mode)
    pre = probe.filter(bloom_contains(words, F.col(probe_key), m_bits, k, hash_mode))
    right = build.select(F.col(bk).alias(probe_key)).distinct()
    return pre.join(right, probe_key, how)
