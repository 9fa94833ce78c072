"""Driver-side replica of Spark's hash partitioning for LONG columns —
lets the build choose shuffle target partitions EXACTLY without a range
sampling pass.

``DataFrame.repartition(n, col)`` routes each row to partition
``pmod(murmur3_x86_32(col, seed=42), n)`` (Spark HashPartitioning /
Murmur3Hash; the algorithm is the public MurmurHash3 finalization by
Austin Appleby — a long is hashed as two little-endian 32-bit words).
Re-implementing that 30-line hash lets the driver SEARCH, for each target
partition slot s ∈ [0, n), an integer token t with
``pmod(hash_long(t), n) == s`` — then tagging every row with the token of
its desired slot makes Spark's ordinary hash shuffle deliver an exact,
driver-planned partitioning:

- no range-sampling pass over the data (repartitionByRange scans the
  full input once just to estimate boundaries);
- partition CONTENTS are exact (driver-side greedy packing by known
  per-group row counts beats sampled quantiles under skew);
- partition INDEX is chosen, so global ordering guarantees survive.

Used by the fused build finish (operators/build.py); verified at runtime
against the JVM with a tiny n-row job before use, falling back to
repartitionByRange on any mismatch (e.g. if a future Spark changes the
partitioning expression).
"""

from __future__ import annotations

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def murmur3_hash_long(value: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of a LongType value (signed int32 result) —
    matches ``F.hash(col.cast('long'))``: the long is split into low and
    high 32-bit words, each mixed in order."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _M32, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    h1 = _fmix(h1, 8)
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def partition_tokens(n_parts: int, max_probe: int | None = None) -> list[int]:
    """tokens[s] = smallest t ≥ 0 with ``pmod(hash(t), n_parts) == s``.

    Tagging a row with ``tokens[s]`` and hash-repartitioning on the tag
    sends it to partition s exactly. Coupon-collector: ~n·ln n probes."""
    tokens: list[int | None] = [None] * n_parts
    found = 0
    t = 0
    limit = max_probe or max(1000, 64 * n_parts)
    while found < n_parts and t < limit:
        s = murmur3_hash_long(t) % n_parts
        if tokens[s] is None:
            tokens[s] = t
            found += 1
        t += 1
    if found < n_parts:  # astronomically unlikely; caller falls back
        raise RuntimeError(f"token search exhausted after {limit} probes")
    return tokens  # type: ignore[return-value]


def verify_tokens(spark, tokens: list[int]) -> bool:
    """One tiny n-row JVM job proving ``repartition(n, token)`` lands each
    token in its intended slot on THIS Spark version. The token table is a
    LocalRelation, so the job starts no Python worker."""
    from pyspark.sql import functions as F

    from linear_kdtree_spark.session import local_frame

    n = len(tokens)
    df = local_frame(
        spark, [(t, s) for s, t in enumerate(tokens)], "tok long, slot int"
    )
    rows = (
        df.repartition(n, "tok")
        .withColumn("pid", F.spark_partition_id())
        .collect()
    )
    return all(r["pid"] == r["slot"] for r in rows)
