"""Hashing: portable 60-bit string hash + the MinHash hash family.

The reference assigns insertion-ordered integer ids from a global mutable
vocabulary dict (reference ``lsh.py:135-142``) — inherently sequential, a
scalability dead end. We replace ids with content hashes (stateless,
executor-parallel, no global coordination).

Two modes:
 * portable — first 15 hex chars of md5 as int64 (range [0, 2^60)).
   Reproducible bit-for-bit in DuckDB (`CAST('0x'||substr(md5(s),1,15) AS
   BIGINT)`), NumPy (hashlib), and Spark (`conv(substring(md5(s),1,15),
   16,10)`), which is what makes the whole MinHash/LSH pipeline
   oracle-checkable end-to-end.
 * fast — Spark's native xxhash64 (JVM codegen, no md5 cost) for scale runs.

MinHash family: h_i(x) = (a_i * (x mod M) + b_i) mod M with M = 2^31-1
(Mersenne prime). All intermediates < 2^62 → exact in int64 in Spark,
DuckDB, and NumPy alike. This replaces the reference's seeded
``np.random.shuffle`` permutation family (reference ``lsh.py:213-219``,
seeds 0..P-1 at ``lsh.py:241``), which requires a materialized vocab-sized
vector per permutation; the affine family is the standard scalable
equivalent (universal hashing on a prime field). The reference's exact
seeded-permutation semantics are reproduced in tests/oracle.py for the
parity gate.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, functions as F

from lsh_spark.config import MERSENNE_31

M = MERSENNE_31
_A_MULT = 2_654_435_761  # Knuth multiplicative constant
_B_MULT = 911_382_323
_B_ADD = 972_663_749


def portable_hash64(c: Column) -> Column:
    """60-bit md5-based hash, identical across Spark / DuckDB / NumPy."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def fast_hash64(c: Column) -> Column:
    """xxhash64 masked to 60 bits (non-negative, same domain as portable)."""
    return F.xxhash64(c).bitwiseAND(F.lit((1 << 60) - 1))


def hash64(c: Column, mode: str = "portable") -> Column:
    return portable_hash64(c) if mode == "portable" else fast_hash64(c)


SQL_HASH60 = "CAST('0x' || substr(md5({expr}),1,15) AS BIGINT)"


def sql_hash60(expr: str) -> str:
    """DuckDB expression matching ``portable_hash64``."""
    return SQL_HASH60.format(expr=expr)


def np_hash60(strings) -> np.ndarray:
    """NumPy-side portable hash (for kernels and the test oracle)."""
    return np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) for s in strings),
        dtype=np.int64,
        count=len(strings),
    )


def minhash_params(num_perms: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a_i, b_i) coefficient vectors of the affine family.

    a_i = ((2i+1) * 2654435761) mod M  (odd seeds → a_i != 0 since M prime)
    b_i = (i * 911382323 + 972663749) mod M
    """
    i = np.arange(num_perms, dtype=np.int64)
    a = ((2 * i + 1) * _A_MULT) % M
    b = (i * _B_MULT + _B_ADD) % M
    return a, b


def np_minhash(hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Signature vector (len = len(a)) of one shingle-hash set."""
    xr = hashes % M
    return ((a[:, None] * xr[None, :] + b[:, None]) % M).min(axis=1)


def sql_perm_table(num_perms: int) -> str:
    """DuckDB inline relation (i, a, b) matching ``minhash_params``."""
    return (
        f"(SELECT i, ((2*i+1)*{_A_MULT}) % {M} AS a, "
        f"(i*{_B_MULT}+{_B_ADD}) % {M} AS b "
        f"FROM (SELECT unnest(range({num_perms})) AS i))"
    )

