"""Shingle extraction operators: doc → distinct shingle hashes.

Two implementations with identical semantics:

* ``doc_shingle_hashes`` — built-in Column expressions end-to-end
  (tokens → k-grams → hash → array_distinct). Whole-stage-codegen'd;
  also the oracle-checkable path when hash_mode='portable'.

* ``doc_shingle_hashes_arrow`` — Arrow-vectorized kernel (mapInArrow):
  tokenize + shingle + hash in NumPy/pandas batches. This is the
  north_star-mandated form ("shingled per-turn and per-conversation with
  vectorized pandas/Arrow UDFs"); at 100 TB it avoids materializing large
  intermediate shingle-string arrays in the JVM row format and fuses
  tokenize→hash→distinct in one pass over Arrow buffers.

Reference analog: W1/W2 window extraction + vocabulary tokenization
(reference ``lsh.py:40-65,68-121,164-206``); the dense term-document matrix
(``lsh.py:196-202``) is never materialized — the long/array form of distinct
(doc, shingle_hash) IS the sparse characteristic matrix.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.hashing import hash64, np_hash60
from lsh_spark.functions.text import distinct_shingles_col, py_tokens, tokens_col

SHINGLE_SCHEMA = "doc_id string, hashes array<bigint>"


def shingle_hashes_col(text: Column, cfg: DedupConfig) -> Column:
    """Row-local shingle-hash array of a text column: tokens → distinct
    k-shingles → ``hash64`` (``cfg.hash_mode``), as built-in Column
    expressions (JVM codegen, no Python) — usable in batch and streaming
    plans alike."""
    sh = distinct_shingles_col(tokens_col(text), cfg.shingle_k)
    return F.transform(sh, lambda s: hash64(s, cfg.hash_mode))


def doc_shingle_hashes(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) → (doc_id, hashes array<bigint>) via built-in exprs."""
    return docs.select(
        "doc_id", shingle_hashes_col(F.col("text"), cfg).alias("hashes"))


def doc_shingle_hashes_arrow(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Same contract, Arrow-vectorized.

    portable mode: md5 per shingle string (oracle-compatible values).
    fast mode: distinct-token hashing + Horner rolling combine — tokens are
    hashed once per *distinct token per batch* (vocabulary-sized work, not
    corpus-sized) and k-gram hashes are k NumPy vector ops, no per-gram
    Python or string building. Values differ from the builtin xxhash path;
    fast mode only guarantees internal consistency (all LSH math is
    hash-value-agnostic).
    """
    if cfg.hash_mode == "portable":
        return _shingle_hashes_arrow_portable(docs, cfg)
    return gram_hashes_fast(docs, cfg.shingle_k)


def list_array(arrs: list[np.ndarray]) -> pa.ListArray:
    """One Arrow ``list<int64>`` value per per-doc NumPy array, built from
    their offsets and one concatenated value buffer (no per-element
    Python objects)."""
    offsets = np.zeros(len(arrs) + 1, np.int64)
    np.cumsum([len(a) for a in arrs], out=offsets[1:])
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(flat, pa.int64()))


def _shingle_hashes_arrow_portable(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    k = cfg.shingle_k

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = []
            for text in batch.column("text").to_pylist():
                toks = py_tokens(text)
                out.append(np.unique(np_hash60(
                    [" ".join(toks[i:i + k])
                     for i in range(len(toks) - k + 1)])))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), list_array(out)],
                names=["doc_id", "hashes"],
            )

    return docs.select("doc_id", "text").mapInArrow(kernel, SHINGLE_SCHEMA)


_HORNER_MULT = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_MASK60 = np.uint64((1 << 60) - 1)
_POW_C: dict[int, np.uint64] = {}


def _pow_c(w: int) -> np.uint64:
    """_HORNER_MULT ** w mod 2^64 (exact wraparound arithmetic)."""
    p = _POW_C.get(w)
    if p is None:
        p = _POW_C[w] = np.uint64(
            pow(int(_HORNER_MULT), w, 1 << 64))
    return p


def rolling_raw(seg: np.ndarray, k: int,
                memo: dict[int, np.ndarray] | None = None) -> np.ndarray:
    """UNMASKED Horner k-gram hashes of one token-hash segment.

    h_i = Σ_{j<k} seg[i+j]·C^{k-1-j} (mod 2^64) — identical values to the
    naive k-step Horner loop, but built by BINARY COMPOSITION of window
    hashes: r_{a+b}[i] = r_a[i]·C^b + r_b[i+a], so a width-k hash costs
    ~2·log2(k) vector ops instead of k (k=20 grams: 5 combines vs 20
    passes — measured 3× on the gram phase). ``memo`` (width → raw hash
    array) may be shared across calls on the SAME segment so the k=5
    shingle pass seeds the k=20 gram pass. Callers mask with _MASK60."""
    n = len(seg)
    if n - k + 1 <= 0:
        return np.empty(0, np.uint64)
    memo = {1: seg} if memo is None else memo
    memo.setdefault(1, seg)

    def width(w: int) -> np.ndarray:
        r = memo.get(w)
        if r is None:
            a, b = w // 2, w - w // 2
            r = memo[w] = (width(a)[:n - w + 1] * _pow_c(b)
                           + width(b)[a:a + n - w + 1])
        return r

    return width(k)


def _token_hashes(
        tok_lists: list[list[str]]
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(concatenated uint64 token hashes, per-doc lengths, factorize codes,
    vocab hashes). Hashing touches each DISTINCT token once (pandas
    factorize + blake2b on the vocab); codes/vocab are exposed so kernels
    can run vocab-sized work (e.g. SimHash sign tables) without a second
    interning pass."""
    import pandas as pd
    lens = np.fromiter((len(t) for t in tok_lists), np.int64, len(tok_lists))
    flat = [tok for lst in tok_lists for tok in lst]
    if not flat:
        e = np.empty(0, np.uint64)
        return e, lens, np.empty(0, np.int64), e
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    vocab_h = np.fromiter(
        (int.from_bytes(hashlib.blake2b(t.encode(), digest_size=8).digest(), "big")
         for t in uniques),
        np.uint64, len(uniques))
    return vocab_h[codes], lens, codes, vocab_h


def gram_hashes_fast(docs: DataFrame, k: int,
                     sample_mod: int | None = None) -> DataFrame:
    """(doc_id, text) → (doc_id, hashes array<bigint>) of distinct k-gram
    rolling hashes (uint64 Horner over token hashes, masked to 60 bits).

    ``sample_mod=w`` keeps only grams with hash % w == 0 — content-defined
    sampling: two docs sharing a span select the SAME grams, so a shared
    span of m grams is missed with probability (1-1/w)^m. This is the
    scale knob for the substring pass (w× less join input, deterministic).
    """
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            tok_lists = [py_tokens(t) for t in texts]
            th, lens, _, _ = _token_hashes(tok_lists)
            out: list[np.ndarray] = []
            pos = 0
            for n in lens:
                seg = th[pos:pos + n]
                pos += n
                if n < k:
                    out.append(np.empty(0, np.int64))
                    continue
                gh = rolling_raw(seg, k) & _MASK60
                if sample_mod:
                    gh = gh[gh % np.uint64(sample_mod) == 0]
                out.append(np.unique(gh).astype(np.int64))
            yield pa.RecordBatch.from_arrays([doc_ids, list_array(out)],
                                             names=["doc_id", "hashes"])

    return docs.select("doc_id", "text").mapInArrow(kernel, SHINGLE_SCHEMA)


def explode_shingles(doc_hashes: DataFrame) -> DataFrame:
    """Long format (doc_id, shingle_hash) — the sparse characteristic matrix
    (reference analog: td_matrix cells, ``lsh.py:196-202``)."""
    return doc_hashes.select(
        "doc_id", F.explode("hashes").alias("shingle_hash")
    )
