"""MinHash kernel correctness: hand-checkable values + estimator property."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.hashing import M, minhash_params, np_hash60, np_minhash
from lsh_spark.operators import minhash, shingle


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_portable_hash_matches_hashlib(spark):
    df = _mk_docs(spark, [("d1", "hello world")])
    from lsh_spark.functions.hashing import portable_hash64
    got = df.select(portable_hash64(F.col("text")).alias("h")).first()["h"]
    expected = int(hashlib.md5(b"hello world").hexdigest()[:15], 16)
    assert got == expected


def test_portable_arrow_shingles_match_builtin(spark):
    """The Arrow kernel's portable hashes (``np_hash60``) are the built-in
    ``hash64`` values of the same distinct shingles, sorted, with an empty
    array for a doc shorter than k tokens."""
    cfg = DedupConfig(shingle_k=3)
    docs = _mk_docs(spark, [("a", "w1 w2 w3 w1 w2 w3 w4"),
                            ("short", "w1 w2"), ("empty", "")])
    built = {r["doc_id"]: sorted(r["hashes"])
             for r in shingle.doc_shingle_hashes(docs, cfg).collect()}
    arrow = {r["doc_id"]: r["hashes"]
             for r in shingle.doc_shingle_hashes_arrow(docs, cfg).collect()}
    assert arrow == built
    assert len(arrow["a"]) == 4 and arrow["short"] == []


def test_signature_matches_numpy_kernel(spark):
    cfg = DedupConfig(num_perms=8, shingle_k=3)
    docs = _mk_docs(spark, [
        ("a", "w1 w2 w3 w4 w5 w6"),
        ("b", "w1 w2 w3 w4 w9 w6"),
        ("empty", "w1 w2"),  # < k tokens → dropped
    ])
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = {r["doc_id"]: r["sig"]
            for r in minhash.minhash_signatures(hashes, cfg).collect()}
    assert "empty" not in sigs
    a_vec, b_vec = minhash_params(cfg.num_perms)
    for doc_id, text in [("a", "w1 w2 w3 w4 w5 w6"), ("b", "w1 w2 w3 w4 w9 w6")]:
        toks = text.split()
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        hs = np_hash60(sorted(shingles))
        expected = np_minhash(hs, a_vec, b_vec)
        assert list(expected) == sigs[doc_id]


def test_minhash_estimates_jaccard(spark, t1_transcripts, t1_labels):
    """|MinHash estimate − exact Jaccard| small at P=128 over golden pairs."""
    from lsh_spark.canonicalize import conversation_docs
    cfg = DedupConfig(num_perms=128)
    docs = conversation_docs(t1_transcripts).select("doc_id", "text")
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    sa = sigs.select(F.col("doc_id").alias("conv_id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("conv_id_b"), F.col("sig").alias("sig_b"))
    est = minhash.estimated_jaccard(F.col("sig_a"), F.col("sig_b"))
    rows = (t1_labels.join(sa, "conv_id_a").join(sb, "conv_id_b")
            .select(est.alias("est"), "jaccard_true").collect())
    assert rows
    errs = [abs(r["est"] - r["jaccard_true"]) for r in rows]
    assert np.mean(errs) < 0.06
    assert max(errs) < 0.2


def test_empty_and_short_docs_dropped(spark):
    cfg = DedupConfig(num_perms=4, shingle_k=5)
    docs = _mk_docs(spark, [("e1", ""), ("e2", "one two")])
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    assert minhash.minhash_signatures(hashes, cfg).count() == 0
