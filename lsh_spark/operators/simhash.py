"""SimHash pass: 60-bit sign-of-weighted-bit-sums fingerprints + Hamming
banding.

The reference's second filter pass is a second LSH index type (NLSH→PLSH
cascade, reference ``lsh.py:476-570``); the dedup engine's second pass is
SimHash per BASELINE.json north_star ("plus SimHash and suffix-array
exact-substring passes").

SimHash(doc) bit j = 1 iff Σ_tokens w(t) · (±1 from bit j of hash(t)) > 0,
with w = token frequency. Near-duplicates differ in few bits; candidate
pairs = docs agreeing on at least one of 4 15-bit chunks (pigeonhole: any
pair within Hamming distance ≤ 3 shares a chunk), verified by exact
popcount.

Two implementations:
 * ``simhash_docs`` — relational form (explode tokens × bit positions →
   conditional sum → bit-OR assemble). Fully expressible in ANSI SQL =
   oracle-checkable; JVM/codegen end-to-end.
 * ``simhash_docs_arrow`` — mapInArrow NumPy kernel (bit-unpack token hashes
   into a (n,60) matrix, weighted column sums) — the scale path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.hashing import hash64, np_hash60
from lsh_spark.functions.text import py_tokens, tokens_col
from lsh_spark.operators.skew import key_pairs
from lsh_spark.plans.checkpoint import materialize

# portable hash is 60-bit (15 hex chars of md5); a pair within Hamming
# distance 3 dirties at most 3 of 4 chunks, so shares one (pigeonhole)
SIMHASH_BITS = 60
HAMMING_THRESHOLD = 3
N_CHUNKS = HAMMING_THRESHOLD + 1


def token_weights(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, token_hash, weight=count) long format."""
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    return (
        toks.select("doc_id", hash64(F.col("token"), cfg.hash_mode).alias("token_hash"))
        .groupBy("doc_id", "token_hash")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def simhash_docs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, simhash long) — relational/codegen form.

    bits table = sequence(0, B-1) cross joined via explode; per (doc, bit):
    s = Σ weight * (bit set ? +1 : -1); simhash = Σ_{bits with s>0} 2^bit.
    """
    tw = token_weights(docs, cfg)
    # static (bit, 2^bit) pairs — bit shifts by a Column aren't supported,
    # and pow() doubles lose precision at 2^60, so carry exact longs.
    bit_structs = F.array(*[
        F.struct(F.lit(i).alias("bit"), F.lit(1 << i).cast("long").alias("p2"))
        for i in range(SIMHASH_BITS)
    ])
    per_bit = (
        tw.select("doc_id", "token_hash", "weight",
                  F.explode(bit_structs).alias("bp"))
        .select("doc_id", "weight", F.col("bp.bit").alias("bit"),
                F.col("bp.p2").alias("p2"),
                F.expr("token_hash div bp.p2").alias("shifted"))
        .withColumn("contrib",
                    F.when(F.col("shifted") % 2 == 1, F.col("weight"))
                     .otherwise(-F.col("weight")))
        .groupBy("doc_id", "bit", "p2")
        .agg(F.sum("contrib").alias("s"))
    )
    return (
        per_bit.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("s") > 0, F.col("p2")).otherwise(F.lit(0)))
             .cast("long").alias("simhash"))
    )


def np_simhash(vocab_h: np.ndarray, codes: np.ndarray,
               lengths: np.ndarray) -> np.ndarray:
    """Per-doc SimHash (int64) of a batch whose tokens are interned:
    ``vocab_h`` holds each distinct token's hash, ``codes`` each token
    instance's vocab index (docs concatenated), ``lengths`` each doc's
    token count. The kernel both Arrow forms share.

    The sign table is vocab-sized and int8: the per-doc gather temp is
    (doc_tokens × B), and int8 moves 8× fewer bytes through cache/DRAM
    than int64, the binding resource under 32 concurrent workers; the sum
    accumulates in int64. The sum runs over token INSTANCES (Σ_instances
    sign ≡ Σ_uniq count·sign, the same integer math) per doc, so the temp
    stays cache-sized: a batch-wide ``np.add.reduceat`` over (total_tokens
    × B) was measurably SLOWER under 32 concurrent Python workers
    (aggregate memory-bandwidth bound)."""
    out = np.zeros(len(lengths), np.int64)
    if not len(vocab_h):
        return out
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
    signs = ((((vocab_h.astype(np.int64)[:, None] >> shifts[None, :]) & 1)
              << 1) - 1).astype(np.int8)  # (n_vocab, B)
    offs = np.concatenate(([0], np.cumsum(lengths)))
    for i, n in enumerate(lengths):
        if n:
            s = signs[codes[offs[i]:offs[i + 1]]].sum(axis=0, dtype=np.int64)
            out[i] = int(((s > 0).astype(np.int64) << shifts).sum())
    return out


def simhash_docs_arrow(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Same contract via a NumPy kernel (``cfg`` is unread: the kernel has
    no tunable, and the parameter stays because ``bench.py`` passes it).
    Tokens are interned ONCE per batch (pandas factorize, C-speed), so the
    md5 token hash runs once per batch-global UNIQUE token instead of once
    per (doc, unique-token) — tokens repeat massively across docs
    (measured 234× fewer hash calls on sf0.1-shaped batches) — and
    ``np_simhash`` sums the signs per doc."""
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pandas as pd
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            toks = [py_tokens(t) for t in batch.column("text").to_pylist()]
            lengths = np.fromiter((len(t) for t in toks), np.int64, len(toks))
            flat = [tok for ts in toks for tok in ts]
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            out = np_simhash(np_hash60(list(uniques)), codes, lengths)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()), pa.array(out, pa.int64())],
                names=["doc_id", "simhash"],
            )

    return docs.select("doc_id", "text").mapInArrow(kernel, "doc_id string, simhash bigint")


def _chunk_keys() -> "F.Column":
    """4 × 15-bit chunk keys (pigeonhole over HAMMING_THRESHOLD=3), as one
    SQL expression string over ``simhash``."""
    chunk_bits = SIMHASH_BITS // N_CHUNKS
    mask = (1 << chunk_bits) - 1
    return F.expr("array(" + ", ".join(
        f"shiftright(simhash, {i * chunk_bits}) & {mask}"
        for i in range(N_CHUNKS)) + ")")


def _combo_keys() -> "F.Column":
    """Manku-style block-combination keys (Manku, Jain & Sarma, WWW'07 §3):
    split the B bits into m blocks, key on every combination of c = m − t
    blocks. Any pair within Hamming ≤ t dirties ≤ t blocks, leaving ≥ c
    clean ones, so some combination is clean for both docs — completeness
    is the same pigeonhole as chunk mode, but the key carries c·(B/m) bits
    instead of B/4: for B=60, t=3 → m=6 blocks of 10 bits, C(6,3)=20 tables
    of 30-bit keys. Expected bucket size drops from N/2^15 to N/2^30 — the
    difference between quadratic blowup and near-uniqueness at 10^9+ docs,
    at the cost of 20 key rows per doc instead of 4.

    Built as ONE SQL expression string over ``simhash`` (one py4j call, not
    one per block term).
    """
    from itertools import combinations
    m = HAMMING_THRESHOLD + 3  # 6 blocks of 10 bits
    c = m - HAMMING_THRESHOLD
    block_bits = SIMHASH_BITS // m
    mask = (1 << block_bits) - 1
    blocks = [f"(shiftright(simhash, {i * block_bits}) & {mask})"
              for i in range(m)]
    return F.expr("array(" + ", ".join(
        " + ".join(f"shiftleft({blocks[bi]}, {j * block_bits})"
                   for j, bi in enumerate(combo))
        for combo in combinations(range(m), c)) + ")")


def simhash_candidate_pairs(sh: DataFrame, cfg: DedupConfig,
                            all_pairs: bool = False,
                            mode: str = "combo") -> DataFrame:
    """Pairs within Hamming ≤ threshold via LSH-table banding + popcount
    verify. Output: (doc_a, doc_b, hamming int).

    Both key modes are COMPLETE (pigeonhole) and exact after verification:
     * ``mode="chunk"`` — 4 × 15-bit chunks. Keyspace 2^15: at N docs each
       bucket holds ~N/32k docs and the join output grows as N²/2^15 —
       fine to ~10^6 docs, catastrophic at web scale.
     * ``mode="combo"`` (default) — 20 × 30-bit block combinations (see
       ``_combo_keys``): the 100 TB path.

    Hot buckets (identical simhash regions shared by huge boilerplate
    groups) are star-linked via operators/skew.py unless ``all_pairs=True``;
    star edges pass through the same popcount verification, so no false
    positives — a star member whose Hamming distance to the bucket minimum
    exceeds the threshold is dropped (recall in hot buckets is then
    bounded by the star topology; the MinHash pass covers those pairs).
    """
    # hold the (doc_id, simhash) frame: the plan below reads it three times
    # (the key table and both verify legs), and when ``sh`` is the Arrow
    # kernel the whole tokenize+hash pass re-executes per read. The
    # cascade's ``sh`` is two columns of the held fused frame, which
    # ``materialize`` reads in place (no job).
    sh = materialize(sh)
    keys = _chunk_keys() if mode == "chunk" else _combo_keys()
    # stage the key array in its own Project before exploding — same
    # shape as operators/lsh_bands.py band_buckets, where exploding the
    # inline higher-order expression measurably dropped Generate out of
    # whole-stage codegen (here both forms codegen today; the staged form
    # is kept so the generator input stays a plain attribute)
    keyed = (sh.select("doc_id", keys.alias("_keys"))
             .select("doc_id",
                     F.posexplode("_keys").alias("chunk_id", "chunk_val")))
    cand = key_pairs(keyed, ["chunk_id", "chunk_val"],
                     None if all_pairs else cfg.hot_bucket_cap)
    va = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    vb = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(va, "doc_a").join(vb, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )
