"""Vectorized hashing for the sketch library.

``xxhash64_u64`` is a pure-numpy implementation of the XXH64
algorithm specialized to 8-byte (one ``uint64``) inputs — the same
specialization the reference hits for its integer keys
(``/root/reference/include/hashutil.cuh:42-163``; the 8-byte tail
path). numpy's modular uint64 arithmetic plays the role the GPU's
native 64-bit ALU plays there; one call hashes a whole Arrow batch.

Key derivation follows the driver invariant (BASELINE.json input
hint): ``key = uint64(first 16 hex chars of sha256(content))``,
computed JVM-side with ``F.sha2`` so content bytes never cross into
Python. The same value is computable by hashlib (tests) and DuckDB
(``('0x' || substr(sha256(c),1,16))::UBIGINT``) for oracles.
"""

from __future__ import annotations

import hashlib

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_U64 = np.uint64


#: hot-path chunk size: keeps every temporary L2-resident so the
#: only DRAM traffic is the input read + output write. Measured 3x
#: over whole-batch temporaries on 2M-key batches (and it
#: parallelizes far better — streaming temporaries saturate the
#: memory bus well before 32 cores).
HASH_CHUNK = 32768


def xxhash64_u64(
    keys: np.ndarray, seed: int = 0, out: np.ndarray | None = None
) -> np.ndarray:
    """XXH64 of each 8-byte little-endian key in ``keys`` (uint64).

    Bit-exact with the scalar XXH64 algorithm for len==8 inputs
    (verified in tests against known vectors; the 8-byte tail path
    of ``hashutil.cuh:127-160``). Vectorized with in-place ops over
    cache-sized chunks — two small scratch views per chunk instead
    of ~10 full-batch temporaries.
    """
    k = np.ascontiguousarray(keys, dtype=np.uint64)
    n = len(k)
    res = out if out is not None else np.empty(n, np.uint64)
    base = _U64((seed + 0x27D4EB2F165667C5 + 8) & ((1 << 64) - 1))
    scratch = np.empty(min(n, HASH_CHUNK), np.uint64)
    with np.errstate(over="ignore"):
        for lo in range(0, n, HASH_CHUNK):
            hi = min(lo + HASH_CHUNK, n)
            m = hi - lo
            h = res[lo:hi]
            t = scratch[:m]
            np.multiply(k[lo:hi], _P2, out=h)
            np.right_shift(h, _U64(33), out=t)
            h <<= _U64(31)
            h |= t                      # k1 = rotl(k*P2, 31)
            h *= _P1
            h ^= base                   # h = base ^ k1 (xor commutes)
            np.right_shift(h, _U64(37), out=t)
            h <<= _U64(27)
            h |= t                      # rotl(h, 27)
            h *= _P1
            h += _P4
            np.right_shift(h, _U64(33), out=t)
            h ^= t
            h *= _P2
            np.right_shift(h, _U64(29), out=t)
            h ^= t
            h *= _P3
            np.right_shift(h, _U64(32), out=t)
            h ^= t
    return res


def xxhash64_const_vseed(
    value: int, seeds: np.ndarray, out: np.ndarray | None = None
) -> np.ndarray:
    """XXH64 of one constant 8-byte value under a VECTOR of seeds —
    the numpy mirror of Spark's multi-column ``xxhash64(c1, c2)``
    chaining, where each child is hashed with the running hash as
    seed. Bit-exact with the JVM (verified in tests)."""
    s = np.ascontiguousarray(seeds, dtype=np.uint64)
    n = len(s)
    res = out if out is not None else np.empty(n, np.uint64)
    v = np.uint64(value)
    with np.errstate(over="ignore"):
        k1 = v * _P2
        k1 = np.uint64(
            ((int(k1) << 31 | int(k1) >> 33) & ((1 << 64) - 1))
        ) * _P1
        scratch = np.empty(min(n, HASH_CHUNK), np.uint64)
        for lo in range(0, n, HASH_CHUNK):
            hi = min(lo + HASH_CHUNK, n)
            m = hi - lo
            h = res[lo:hi]
            t = scratch[:m]
            np.add(s[lo:hi], _P5 + _U64(8), out=h)
            h ^= k1
            np.right_shift(h, _U64(37), out=t)
            h <<= _U64(27)
            h |= t                      # rotl(h, 27)
            h *= _P1
            h += _P4
            np.right_shift(h, _U64(33), out=t)
            h ^= t
            h *= _P2
            np.right_shift(h, _U64(29), out=t)
            h ^= t
            h *= _P3
            np.right_shift(h, _U64(32), out=t)
            h ^= t
    return res


def chained_hash(keys: np.ndarray, salt: int) -> np.ndarray:
    """The library's fingerprint-family hash:
    ``XXH64(salt, seed=XXH64(key, 42))`` — exactly Spark's
    ``F.xxhash64(key_col, F.lit(salt).cast('long'))``, so the same
    value is computable JVM-side in whole-stage codegen (packed
    builds) and numpy-side (the kernel),
    bit-for-bit."""
    return xxhash64_const_vseed(salt, xxhash64_u64(keys, seed=42))


def chained_hash_expr(col, salt: int):
    """Spark Column computing :func:`chained_hash` JVM-side."""
    from pyspark.sql import functions as F

    signed = salt - (1 << 64) if salt >= (1 << 63) else salt
    return F.xxhash64(col, F.lit(signed).cast("long"))


def key_from_content(content: str) -> int:
    """Driver-side oracle for the key derivation (uint64 as python int)."""
    return int(hashlib.sha256(content.encode("utf-8")).hexdigest()[:16], 16)


def keys_to_unsigned(keys_i64: np.ndarray) -> np.ndarray:
    """Reinterpret int64 (from Spark) back to uint64."""
    return np.asarray(keys_i64, dtype=np.int64).view(np.uint64)


def packed_expr(key_col, num_buckets: int, bits_per_tag: int,
                policy: str = "xor"):
    """Spark Column packing ``(i1 << bits_per_tag) | fp`` — the
    JVM-side analog of the reference's pack kernel
    (``CuckooFilter.cuh:1185-1207``). ``fp`` and the primary bucket
    ``i1`` are the same arithmetic ``CuckooFilter.candidates`` runs in
    numpy (``bucket_policies.cuh:45-74`` for XOR, ``:126-143`` for
    AddSub, ``:266-287`` for Offset, whose fp keeps choice bit 0),
    expressed as whole-stage-codegen JVM expressions via the
    chained hash family — bit-exact with the kernel (verified in
    tests). Consumed by ``CuckooFilter.insert_packed`` so shard builds
    ship pre-hashed candidates instead of raw keys."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.config import FP_SALT

    fp_bits = bits_per_tag - 1 if policy == "offset" else bits_per_tag
    tag_mask = (1 << fp_bits) - 1
    h = chained_hash_expr(F.col(key_col) if isinstance(key_col, str) else key_col,
                          FP_SALT)
    fp_raw = F.shiftrightunsigned(h, 32).bitwiseAND(F.lit(tag_mask))
    # fp must stay LongType: xxhash64's 4-byte int path differs
    fp = F.when(fp_raw == 0, F.lit(1)).otherwise(fp_raw).cast("long")
    if policy in ("addsub", "offset"):
        # i1 = (h & 0xFFFFFFFF) % (nb/2) (AddSub) or % nb (Offset): the
        # low-32 slice is non-negative, so signed pmod == unsigned mod
        span = num_buckets // 2 if policy == "addsub" else num_buckets
        i1 = F.pmod(h.bitwiseAND(F.lit(0xFFFFFFFF)), F.lit(span))
    else:
        i1 = h.bitwiseAND(F.lit(num_buckets - 1))
    return F.shiftleft(i1, bits_per_tag).bitwiseOR(fp)


def content_key_expr(content_col):
    """Spark Column: int64 whose 64 bits equal
    uint64(first 16 hex chars of sha256(content)).

    Stays fully JVM-side (sha2/conv/shift are codegen'd); the
    shiftleft wraps into two's complement exactly like the numpy
    ``view(int64)`` on the Python side.
    """
    from pyspark.sql import functions as F

    hexs = F.lower(F.sha2(content_col, 256))
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


#: DuckDB SQL fragment computing the same signed-int64 key from a
#: content expression (for oracle_sql parity).
def content_key_sql(content_expr: str) -> str:
    ub = f"(('0x' || substr(sha256({content_expr}), 1, 16))::UBIGINT)"
    return (
        f"CAST(CAST({ub} AS HUGEINT) - CASE WHEN {ub} >= 9223372036854775808 "
        f"THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
    )
