"""SimHash + substring/suffix pass unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators import simhash, suffix


CFG = DedupConfig(num_perms=8)


def test_simhash_relational_matches_arrow(spark):
    rows = [("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy cat"),
            ("c", "completely different words entirely here now")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    rel = {r["doc_id"]: r["simhash"] for r in simhash.simhash_docs(docs, CFG).collect()}
    arr = {r["doc_id"]: r["simhash"]
           for r in simhash.simhash_docs_arrow(docs, CFG).collect()}
    assert rel == arr


def test_identical_docs_hamming_zero(spark):
    rows = [("a", "one two three four five"), ("b", "one two three four five")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = simhash.simhash_candidate_pairs(
        simhash.simhash_docs(docs, CFG), CFG).collect()
    assert len(got) == 1 and got[0]["hamming"] == 0


def test_near_duplicate_low_hamming(spark):
    base = " ".join(f"tok{i}" for i in range(200))
    edited = base.replace("tok100", "zzz")
    docs = spark.createDataFrame([("a", base), ("b", edited)],
                                 "doc_id string, text string")
    sh = {r["doc_id"]: r["simhash"]
          for r in simhash.simhash_docs(docs, CFG).collect()}
    hamming = bin(sh["a"] ^ sh["b"]).count("1")
    assert hamming <= simhash.HAMMING_THRESHOLD


def test_substring_candidates_catch_shared_span(spark):
    span = " ".join(f"s{i}" for i in range(30))
    rows = [("a", "pre1 pre2 " + span + " post1"),
            ("b", "other tokens here " + span + " trailing bits"),
            ("c", " ".join(f"u{i}" for i in range(40)))]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = suffix.substring_candidate_pairs(docs, CFG).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {("a", "b")}
    # 30-token span, k=20 → 11 shared windows
    assert got[0]["shared_grams"] == 11


def test_containment_pairs_exact(spark):
    inner = " ".join(f"w{i}" for i in range(25))
    rows = [("small", inner),
            ("big", "prefix " + inner + " suffix"),
            ("unrelated", " ".join(f"q{i}" for i in range(30)))]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {(r["inner"], r["outer"])
           for r in suffix.containment_pairs(docs, CFG).collect()}
    assert ("small", "big") in got
    assert ("unrelated", "big") not in got


def test_partition_suffix_lcs(spark):
    shared = "x" * 150  # 150-char verbatim span
    rows = [("a", "aaa start " + shared + " end one"),
            ("b", "bbb other " + shared + " tail two"),
            ("c", "c" * 200)]
    docs = spark.createDataFrame(rows, "doc_id string, text string").coalesce(1)
    got = {(r["doc_a"], r["doc_b"]): r["lcs_len"]
           for r in suffix.partition_suffix_lcs(docs, min_chars=100).collect()}
    assert ("a", "b") in got
    assert got[("a", "b")] >= 150
    assert all(k == ("a", "b") for k in got)
