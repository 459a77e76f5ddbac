"""Deterministic cross-engine hashing conventions.

The reference pipeline gets reproducibility from seeded ``random.sample``
(``my_dag.py:56,110``). A distributed engine can't use a driver-side RNG,
and the correctness harness re-runs every query in DuckDB — so Spark-native
``xxhash64``/``rand(seed)`` are out (no other engine reproduces them).

Instead the engine pins two documented, engine-agnostic conventions:

1. **Integer keys** — a Knuth multiplicative hash::

       det_hash_i64(k) = (k * 2654435761) mod 2^32

   Injective for distinct keys < 2^32 (the multiplier is odd, hence
   invertible mod 2^32), so hash-order sampling has no ties. Any SQL
   engine expresses it as ``(k * 2654435761) % 4294967296``.

2. **Strings** — the first 48 bits of the md5 digest::

       det_hash_str(s) = int(md5(s)[0:12 hex], 16)

   md5 is bit-identical everywhere; 48 bits keeps later modular
   arithmetic inside int64. DuckDB form:
   ``('0x' || substr(md5(s), 1, 12))::BIGINT``.

MinHash permutations build on (2): ``(a_j * (h mod p) + b_j) mod p`` with
``p = 2^31 - 1`` and small odd constants ``a_j``/``b_j`` derived from the
permutation index — products stay < 2^62, safely inside int64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Knuth's multiplicative constant (2^32 / phi, odd).
KNUTH = 2654435761
MOD32 = 4294967296  # 2**32
MERSENNE31 = 2147483647  # 2**31 - 1, modulus for minhash permutations
#: (KNUTH << 16) mod 2^32 — the high-half multiplier of the split-
#: multiply below.
KNUTH_SHIFT16 = (KNUTH << 16) % MOD32


def det_hash_i64(key: Column, seed: int = 0) -> Column:
    """Multiplicative hash of an integer key; identical in any SQL engine.

    ``seed`` is mixed in additively *before* the multiply so different
    sampling decisions (the reference's seed=27 vs seed=20 samples,
    ``my_dag.py:56,110``) draw different orders.

    The multiply is performed as a 16-bit split so no intermediate
    exceeds 2^49: a direct ``(key+seed) * KNUTH`` overflows int64 for
    keys ≳ 3.5e9 — Spark wraps mod 2^64 (which happens to stay correct
    mod 2^32) but a strict engine like DuckDB raises out-of-range,
    breaking cross-engine parity exactly at the key domains a 100 TB
    corpus has. With ``k = (key+seed) mod 2^32 = hi·2^16 + lo``::

        k·KNUTH mod 2^32 = (lo·KNUTH + hi·(KNUTH·2^16 mod 2^32)) mod 2^32

    and both products stay < 2^48. Bit-identical to the unsplit form
    for every key (tests/test_properties.py::test_det_hash_i64_large_keys).
    """
    k = F.pmod(key.cast("bigint") + F.lit(seed), F.lit(MOD32))
    lo = k.bitwiseAND(F.lit(65535))
    hi = F.shiftright(k, 16)
    return F.pmod(lo * F.lit(KNUTH) + hi * F.lit(KNUTH_SHIFT16), F.lit(MOD32))


def det_hash_str(col: Column) -> Column:
    """48-bit integer hash of a string via md5; cross-engine reproducible."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def minhash_perm(h: Column, perm_index: int) -> Column:
    """The ``perm_index``-th universal-hash permutation of a string hash.

    ``(a*h' + b) mod p`` with ``h' = h mod p``; ``a`` odd and nonzero.
    Same arithmetic runs verbatim in the DuckDB oracle.
    """
    a = 2 * perm_index + 1
    b = 7919 * (perm_index + 1)
    return F.pmod(
        F.lit(a) * F.pmod(h, F.lit(MERSENNE31)) + F.lit(b), F.lit(MERSENNE31)
    )


def duckdb_det_hash_i64(expr: str, seed: int = 0) -> str:
    """DuckDB SQL fragment equivalent to :func:`det_hash_i64` (same
    16-bit split-multiply, so it neither overflows nor diverges for
    keys beyond 2^32)."""
    k = f"((({expr}::BIGINT + {seed}) % {MOD32} + {MOD32}) % {MOD32})"
    return (
        f"((({k} % 65536) * {KNUTH} + ({k} // 65536) * {KNUTH_SHIFT16})"
        f" % {MOD32})"
    )


def duckdb_det_hash_str(expr: str) -> str:
    """DuckDB SQL fragment equivalent to :func:`det_hash_str`."""
    return f"(('0x' || substr(md5({expr}), 1, 12))::BIGINT)"
