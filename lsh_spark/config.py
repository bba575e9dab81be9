"""Engine configuration.

The reference hardcodes its knobs in ``constants.py`` (reference
``constants.py:1-10,40``: P=100 permutations, SELECTION_FUNCTIONS=[min,max],
BATCH_SIZE=1000) and window parameters inline (reference ``lsh.py:46-48``
PLSH window 60/shift 15/stride 2; ``lsh.py:76-79`` NLSH window 10/shift 1).
Here every knob that callers set is an explicit, immutable config value.
Values no caller varies are constants beside the code that assumes them:
shingles always shift by one token (the reference's strided windows live
in ``operators/parity.py``), and the 60-bit SimHash width and its Hamming
threshold of 3 sit in ``operators/simhash.py`` with the 4-chunk pigeonhole
they fix.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


# 2^31 - 1, Mersenne prime. MinHash arithmetic stays within int64:
# a, b, x%M < 2^31 so a*(x%M)+b < 2^62.
MERSENNE_31 = 2_147_483_647


@dataclass(frozen=True)
class DedupConfig:
    """Knobs for the dedup pipeline.

    ``num_perms`` is the analog of the reference's
    DEFAULT_NUMBER_OF_PERMUTATIONS (reference ``constants.py:1``).

    Banding defaults to the SCALE-SAFE r=2 rows/band: with r=1 a band key
    is a single minhash value, so any two documents sharing one popular
    shingle collide somewhere and the candidate set grows ~N^1.75
    (measured: 4x docs -> 11.4x candidates, BENCH/pair_growth.py) —
    fatal at 10^12 turns regardless of cluster size.  r=2 keeps that
    fixture recall (0.9924 both geometries, tests/test_fast_mode.py) but
    makes growth linear only once ``hot_bucket_cap`` fires: below the cap
    a boilerplate bucket still expands into k(k-1)/2 candidates (measured
    on the perfbench conv input, 4x docs: exponent 1.72, the largest
    bucket growing 14 -> 86 docs).  The reference's own geometry — r=1, one
    bucket row per (permutation, selection-fn), reference
    ``lsh.py:252-266`` — is pinned EXPLICITLY where reference parity is
    the point: operators/parity.py and the DuckDB-oracle configs in
    __spark_entry__.py.
    """

    # shingling (reference windowing: lsh.py:40-65 PLSH, lsh.py:68-121 NLSH)
    shingle_k: int = 5          # tokens per shingle (window shift 1)

    # MinHash / banding (reference lsh.py:213-269)
    num_perms: int = 32
    band_rows: int = 2          # r; number of bands b = num_perms // band_rows

    # verification (reference matching_algorithms.py:55-108 Jaccard)
    jaccard_threshold: float = 0.5

    # suffix / exact-substring pass
    substring_k: int = 20       # tokens of exact overlap that count as dup-ish
    # content-defined gram sampling for the substring pass (None = dense/
    # exact; w keeps grams with hash%w==0 — both docs of a shared span
    # select the same grams, miss prob (1-1/w)^span_grams)
    substring_sample_mod: int | None = None

    # skew handling (operators/skew.py)
    hot_bucket_cap: int = 200   # buckets larger than this are star-linked

    # document granularity: whole conversation or single turn
    granularity: str = "conv"   # "conv" | "turn"

    # hashing: "portable" = md5-based 60-bit (DuckDB-reproducible),
    # "fast" = xxhash64 (JVM-native, for scale runs)
    hash_mode: str = "portable"

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    @property
    def num_bands(self) -> int:
        return self.num_perms // self.band_rows
