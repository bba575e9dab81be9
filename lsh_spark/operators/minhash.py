"""MinHash signature generation — NumPy matrix math inside mapInArrow.

Reference analog: the triple loop docs × permutations × selection-fns over a
dense vocab×docs matrix (reference ``lsh.py:222-269``, permutation at
``lsh.py:213-219``, min/max selection at ``lsh.py:245-255``). Complexity
there is O(D·P·V) dense multiplies on one core; here each Arrow batch
computes all P minima for all its docs in one broadcasted NumPy op
(O(P · total_shingles) on every executor core in parallel), and the dense
characteristic matrix never exists.

The signature kernel uses ``np.minimum.reduceat`` over the batch's
concatenated shingle hashes — one vectorized pass, no per-doc Python loop
in the hot path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.hashing import M, minhash_params

SIG_SCHEMA = "doc_id string, sig array<bigint>"


def minhash_signatures(doc_hashes: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, hashes array<bigint>) → (doc_id, sig array<bigint>).

    Docs with no shingles are dropped (the reference skips docs whose
    signature column is empty, ``lsh.py:252``; empty-pitch rows are dropped
    at load, ``json_manipulator.py:213``).
    """
    a_vec, b_vec = minhash_params(cfg.num_perms)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # doc-aligned hash blocks of ~16k elements: the (num_perms × block)
        # temp stays ~4 MB (cache-resident) instead of round 5's
        # (8 perms × ALL batch hashes) slabs — a 10k-doc batch holds ~4M
        # hashes, so those temps were ~256 MB of DRAM traffic per pass ×
        # 4 passes × 32 concurrent workers. Blocking over docs with ALL
        # perms per block is the same arithmetic in a cache-sized working
        # set: measured 11× on sf0.1-shaped batches, outputs
        # np.array_equal to the old kernel.
        block = 16384
        for batch in batches:
            doc_ids = batch.column("doc_id")
            hashes = batch.column("hashes")
            flat = hashes.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            offsets = hashes.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # ListArray.flatten() respects a slice offset but the raw offsets
            # buffer does not — normalize so reduceat segment starts align
            # even if a batch ever arrives as a non-zero-offset slice
            offsets = offsets - offsets[0]
            lengths = np.diff(offsets)
            keep = lengths > 0
            if flat.size == 0 or not keep.any():
                continue
            starts = offsets[:-1][keep]
            nk = int(keep.sum())
            ends = np.concatenate((starts[1:], [len(flat)]))
            xr = flat % M
            sig = np.empty((cfg.num_perms, nk), dtype=np.int64)
            a = a_vec[:, None]
            b = b_vec[:, None]
            i = 0
            while i < nk:
                j = i
                while j < nk and ends[j] - starts[i] <= block:
                    j += 1
                if j == i:  # one doc larger than the block — take it whole
                    j = i + 1
                s0, s1 = int(starts[i]), int(ends[j - 1])
                hv = (a * xr[None, s0:s1] + b) % M
                # segment-min per doc per permutation
                sig[:, i:j] = np.minimum.reduceat(
                    hv, starts[i:j] - s0, axis=1)
                i = j
            kept_ids = doc_ids.filter(pa.array(keep))
            sig_col = pa.FixedSizeListArray.from_arrays(
                pa.array(sig.T.ravel(), pa.int64()), cfg.num_perms
            ).cast(pa.list_(pa.int64()))
            yield pa.RecordBatch.from_arrays([kept_ids, sig_col],
                                             names=["doc_id", "sig"])

    return doc_hashes.mapInArrow(kernel, SIG_SCHEMA)


def signature_col(hashes: str, cfg: DedupConfig) -> Column:
    """Per-row MinHash signature of the shingle-hash array column named
    ``hashes``, as built-in expressions: the same per-permutation affine
    min as ``minhash_signatures``, with no Python task. Row-local (no
    aggregation), so it is legal upstream of the stateful operator in a
    streaming plan, and a single probe row needs no Python worker. Built
    as ONE SQL expression string: one py4j call instead of one per
    coefficient literal and per term.

    ``hashes`` should name a MATERIALIZED column (its own projection), not
    the raw ``shingle_hashes_col`` expression (operators/shingle.py): the
    column sits inside the per-permutation lambda, so inlining the
    expression would re-run tokenization + shingling + hashing
    ``num_perms`` times per row (measured 8.06× slower at P=8 on 50k sf0.1
    turns — r6). A separate select keeps it a cheap attribute read;
    CollapseProject leaves multi-referenced non-cheap aliases alone.

    Docs with fewer than ``shingle_k`` tokens have NO shingles; for those
    the signature is NULL (not an array of NULL mins), mirroring the batch
    kernel's ``keep = lengths > 0`` drop — otherwise
    every short turn would land in one permanent NULL bucket downstream.
    """
    a_vec, b_vec = minhash_params(cfg.num_perms)
    a = ", ".join(str(int(x)) for x in a_vec)
    b = ", ".join(str(int(x)) for x in b_vec)
    col = sql_name(hashes)
    # lambda variables longer than the column's name, so neither shadows it
    word = "".join(ch if ch.isalnum() else "_" for ch in hashes)
    p, h = f"perm_{word}", f"hash_{word}"
    return F.expr(
        f"CASE WHEN size({col}) > 0 THEN transform("
        f"sequence(0, {cfg.num_perms - 1}), {p} -> array_min(transform("
        f"{col}, {h} -> (element_at(array({a}), {p} + 1) * ({h} % {M}) "
        f"+ element_at(array({b}), {p} + 1)) % {M}))) END")


def sql_name(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def exploded_signatures(doc_hashes: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Long form (doc_id, perm_id, minhash) — the oracle-checkable shape."""
    sigs = minhash_signatures(doc_hashes, cfg)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("perm_id", "minhash")
    ).select("doc_id", F.col("perm_id").cast("int").alias("perm_id"), "minhash")


def estimated_jaccard(sig_a: F.Column, sig_b: F.Column) -> F.Column:
    """Fraction of agreeing signature rows — the MinHash Jaccard estimate
    (reference analog: candidate collision counting, ``lsh.py:307-308``,
    where duplicate hits within one bucket count once — SURVEY.md Q5)."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                            lambda v: v))
    return agree / F.size(sig_a)
