"""Exact-substring pass: shared long token spans & containment.

Third pass of the cascade (BASELINE.json north_star: "suffix-array
exact-substring passes"). MinHash misses pairs whose global Jaccard is low
but that share a long verbatim span (the `substring` mutation class —
fixture jaccard_true ≈ 0.3 < threshold); this pass catches them.

Spark-first decomposition:
 * ``substring_candidate_pairs`` — docs sharing ANY exact k-token window
   (``gram_keys`` fed to ``shared_key_pairs``):
   the k-gram fingerprints ARE suffix-array buckets of depth k; a shared
   ≥k-token substring implies a shared k-gram (stride 1), so candidate
   generation is a fingerprint equi-join — fully relational, skew-handled
   like the MinHash bands. This is the 100 TB-safe formulation: no global
   suffix array, one shuffle on gram hash.
 * ``containment_pairs`` — full-document containment (doc_a's text is a
   substring of doc_b's): A contained in B ⟹ A's first k-gram occurs among
   B's k-grams, so the same join prunes, then `contains()` verifies —
   exact, no false negatives for docs with ≥ k tokens.
 * ``partition_suffix_lcs`` — per-partition suffix-array worker
   (mapInPandas): builds a sorted-suffix structure over the partition's
   concatenated token stream and reports the longest common prefix length
   between adjacent suffixes from different docs — the classic
   suffix-array LCS lower bound, used to *measure* overlap length for pairs
   already co-partitioned (e.g. within a candidate cluster).

Reference analog: the reference's recursive-alignment matcher (RA,
``matching_algorithms.py:238-285``) exists to find localized similarity
despite global drift; the substring pass covers that role for text
(SURVEY.md §2.7 A8 mapping).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.hashing import hash64
from lsh_spark.functions.text import shingles_col, tokens_col
from lsh_spark.operators.skew import key_pairs


def _gram_hashes(docs: DataFrame, k: int, mode: str) -> DataFrame:
    grams = F.array_distinct(shingles_col(tokens_col(F.col("text")), k))
    return docs.select(
        "doc_id",
        F.explode(F.transform(grams, lambda s: hash64(s, mode))).alias("gram_hash"),
    )


def substring_candidate_pairs(docs: DataFrame, cfg: DedupConfig,
                              sample_mod: int | None = None,
                              hot_gram_cap: int | None = None) -> DataFrame:
    """Pairs sharing ≥1 exact ``substring_k``-token window, with the count
    of shared distinct windows. Output: (doc_a, doc_b, shared_grams).

    ``sample_mod`` selects the gram keys (see ``gram_keys``).

    ``hot_gram_cap=c`` star-links gram buckets larger than ``c`` via
    operators/skew.py: a boilerplate 20-token span shared by k docs emits
    k-1 edges instead of k²/2. Star edges are sound (every bucket member
    genuinely shares the gram — key-sharing IS this pass's accept
    criterion) and connectivity-preserving; ``shared_grams`` becomes a
    lower bound for pairs touched by hot grams. None → exact counts
    (oracle mode).
    """
    return shared_key_pairs(gram_keys(docs, cfg, sample_mod), "gram_hash",
                            hot_gram_cap, count_col="shared_grams")


def gram_keys(docs: DataFrame, cfg: DedupConfig,
              sample_mod: int | None = None) -> DataFrame:
    """(doc_id, text) → (doc_id, gram_hash): one row per distinct
    ``substring_k``-token gram of each doc.

    ``sample_mod=None`` → dense, exact, oracle-checkable (built-in exprs).
    ``sample_mod=w`` → the 100 TB path: rolling-hash gram fingerprints via
    the Arrow kernel with content-defined sampling (both docs of a shared
    span select the SAME grams; a span of m grams is missed with prob
    (1-1/w)^m — at w=8 and a 100-gram span that is 2e-6). Join input and
    gram hashing drop by ~w×. Either form is lazy: ``shared_key_pairs``
    materializes the exploded rows once, so the kernel runs once.
    """
    if not sample_mod:
        return _gram_hashes(docs, cfg.substring_k, cfg.hash_mode)
    from lsh_spark.operators.shingle import gram_hashes_fast
    return (gram_hashes_fast(docs, cfg.substring_k, sample_mod=sample_mod)
            .select("doc_id", F.explode("hashes").alias("gram_hash")))


def shared_key_pairs(keyed: DataFrame, key_col: str, cap: int | None,
                     count_col: str) -> DataFrame:
    """(doc_id, key) → (doc_a, doc_b, <count_col>) pairs sharing ≥1 key,
    hot keys star-linked when ``cap`` is set (``skew.key_pairs``)."""
    return (key_pairs(keyed, [key_col], cap)
            .withColumnRenamed("n_keys", count_col))


def containment_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(inner, outer) pairs where inner.text is a verbatim substring of
    outer.text, inner has ≥ substring_k tokens, inner != outer.

    Prune: inner's FIRST k-gram must appear among outer's k-grams.
    Verify: contains(outer.text, inner.text). Exact and complete for docs
    with ≥ k tokens.
    """
    k, mode = cfg.substring_k, cfg.hash_mode
    toks = tokens_col(F.col("text"))
    firsts = docs.select(
        F.col("doc_id").alias("inner"),
        F.col("text").alias("inner_text"),
        hash64(F.array_join(F.slice(toks, 1, k), " "), mode).alias("gram_hash"),
    ).filter(F.size(tokens_col(F.col("inner_text"))) >= k)
    grams = _gram_hashes(docs, k, mode).select(
        F.col("doc_id").alias("outer"), "gram_hash")
    outer_text = docs.select(F.col("doc_id").alias("outer"),
                             F.col("text").alias("outer_text"))
    return (
        firsts.join(grams, "gram_hash")
        .filter(F.col("inner") != F.col("outer"))
        .select("inner", "outer", "inner_text").distinct()
        .join(outer_text, "outer")
        .filter(F.expr("contains(outer_text, inner_text)"))
        .select("inner", "outer")
    )


_EMPTY_LCS = {"doc_a": str, "doc_b": str, "lcs_len": "int64"}


def _suffix_lcs_group(ids: list, texts: list, min_chars: int) -> list[tuple]:
    """Suffix-array LCS over one co-located doc group, NumPy throughout.

    Bytes-level semantics (texts are encoded UTF-8; for ASCII corpora this
    equals characters). Sort is np.argsort over a fixed-width uint8 prefix
    matrix (window = 2·min_chars — suffixes equal through the window are
    adjacent either way, and the LCP walk below is capped at 4·min_chars, so
    the truncation cannot change which pairs clear min_chars).
    """
    if len(texts) < 2:
        return []
    blobs = [t.encode("utf-8") for t in texts]
    corpus = np.frombuffer(b"\x00".join(blobs), dtype=np.uint8)
    n = len(corpus)
    owner = np.zeros(n, dtype=np.int32)
    pos = 0
    for di, blob in enumerate(blobs):
        owner[pos:pos + len(blob)] = di
        pos += len(blob) + 1
    w = min_chars * 2
    padded = np.concatenate([corpus, np.zeros(w, np.uint8)])
    # (n, w) sliding windows — a strided VIEW, no copy
    windows = np.lib.stride_tricks.sliding_window_view(padded, w)[:n]
    # lexicographic argsort via void view (one fixed-width key per suffix)
    keys = np.ascontiguousarray(windows).view([("", np.uint8)] * w).ravel()
    sa = np.argsort(keys, kind="stable")
    best: dict[tuple[int, int], int] = {}
    cap_total = min_chars * 4
    for j in range(1, n):
        i1, i2 = int(sa[j - 1]), int(sa[j])
        d1, d2 = int(owner[i1]), int(owner[i2])
        if d1 == d2:
            continue
        cap = min(n - i1, n - i2, cap_total)
        s1, s2 = corpus[i1:i1 + cap], corpus[i2:i2 + cap]
        neq = np.flatnonzero((s1 != s2) | (s1 == 0))
        lcp = int(neq[0]) if len(neq) else cap
        if lcp >= min_chars:
            key = (min(d1, d2), max(d1, d2))
            if best.get(key, 0) < lcp:
                best[key] = lcp
    return [(min(ids[a], ids[b]), max(ids[a], ids[b]), l)
            for (a, b), l in best.items()]


def partition_suffix_lcs(docs: DataFrame, min_chars: int = 80,
                         num_partitions: int | None = None) -> DataFrame:
    """Per-partition suffix-array scan: cross-doc common substrings.

    For each partition: concatenate its docs' texts (with separators),
    suffix-sort with NumPy (see ``_suffix_lcs_group``), walk adjacent
    suffixes belonging to different docs and emit pairs whose longest
    common prefix ≥ ``min_chars``.

    Finds only *intra-partition* pairs — use as a sampling pass or after
    co-partitioning; the cluster-complete form is ``cluster_suffix_lcs``
    (groups by candidate cluster, so every within-cluster pair is checked
    and the work parallelizes over clusters instead of serializing in one
    task). Output: (doc_a, doc_b, lcs_len int).
    """
    if num_partitions:
        docs = docs.repartition(num_partitions, "doc_id")

    def worker(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = _suffix_lcs_group(
                pdf["doc_id"].tolist(), pdf["text"].tolist(), min_chars)
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "lcs_len"]) \
                .astype(_EMPTY_LCS)

    return (
        docs.select("doc_id", "text")
        .mapInPandas(worker, "doc_a string, doc_b string, lcs_len long")
        .groupBy("doc_a", "doc_b").agg(F.max("lcs_len").cast("long").alias("lcs_len"))
    )


def cluster_suffix_lcs(docs: DataFrame, labels: DataFrame,
                       min_chars: int = 80) -> DataFrame:
    """Suffix-array LCS *within candidate clusters* — the scale-correct
    deployment: ``labels`` (doc_id, cluster_id) from an LSH pass bounds each
    group to a handful of near-duplicate docs, groups run in parallel via
    applyInPandas (one shuffle on cluster_id), and no partition-sized
    suffix array ever exists. Output: (doc_a, doc_b, lcs_len long)."""
    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _suffix_lcs_group(
            pdf["doc_id"].tolist(), pdf["text"].tolist(), min_chars)
        return pd.DataFrame(rows, columns=["doc_a", "doc_b", "lcs_len"]) \
            .astype(_EMPTY_LCS)

    grouped = docs.join(labels, "doc_id").select("cluster_id", "doc_id", "text")
    return (grouped.groupBy("cluster_id")
            .applyInPandas(per_cluster, "doc_a string, doc_b string, lcs_len long")
            .groupBy("doc_a", "doc_b")
            .agg(F.max("lcs_len").cast("long").alias("lcs_len")))


def pair_suffix_lcs(docs: DataFrame, pairs: DataFrame, min_chars: int = 80,
                    cap_chars: int | None = None) -> DataFrame:
    """EXACT byte-level LCS for an explicit candidate-pair list.

    For a TWO-string group the adjacent-suffix walk is exact (the max
    cross-string LCP is always attained at an adjacent cross-owner pair in
    suffix order), and with ``cap_chars <= 2*min_chars`` the kernel's
    fixed-width sort window covers every possible suffix, so no truncation
    approximation remains: the reported ``lcs_len`` IS the longest common
    substring of the (capped) texts. That makes this variant
    SQL-expressible — the driver oracle re-derives it by substring
    enumeration (all substrings of length >= min_chars of one side,
    ``contains`` on the other) — unlike the multi-doc cluster walk where
    adjacency only lower-bounds non-adjacent pairs.

    Scale shape: pairs come from an upstream LSH/verify pass (candidate
    count ≪ corpus); texts join in capped (two joins on doc_id), and each
    Arrow batch runs the NumPy kernel per pair — no global structure.
    Output: (doc_a, doc_b, lcs_len long), only pairs with LCS >= min_chars.
    """
    if cap_chars is not None:
        assert cap_chars <= 2 * min_chars, \
            "exactness needs the sort window (2*min_chars) to cover cap_chars"
        docs = docs.select("doc_id",
                           F.substring("text", 1, cap_chars).alias("text"))
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    joined = pairs.select("doc_a", "doc_b").join(ta, "doc_a").join(tb, "doc_b")

    def worker(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = []
            for da, db, a, b in zip(pdf["doc_a"], pdf["doc_b"],
                                    pdf["ta"], pdf["tb"]):
                out.extend(_suffix_lcs_group([da, db], [a, b], min_chars))
            yield pd.DataFrame(out, columns=["doc_a", "doc_b", "lcs_len"]) \
                .astype(_EMPTY_LCS)

    return (joined.mapInPandas(worker, "doc_a string, doc_b string, lcs_len long")
            .select("doc_a", "doc_b", F.col("lcs_len").cast("long").alias("lcs_len")))


def longest_common_run(docs: DataFrame, cfg: DedupConfig,
                       min_tokens: int | None = None,
                       hot_gram_cap: int | None = None) -> DataFrame:
    """Longest shared consecutive-token run per doc pair — the RELATIONAL
    twin of the suffix-array LCS (token granularity, fully SQL-expressible,
    hence oracle-checkable, unlike the byte-level suffix worker).

    Diagonal gaps-and-islands over positional k-gram matches: join k-gram
    hashes WITH positions, a run of m consecutive matching grams on one
    diagonal (pos_a − pos_b const) ⟹ a shared span of m + k − 1 tokens.
      islands: group by (pair, diag, pos_a − row_number) — each maximal
      consecutive stretch collapses to one group.
    Output: (doc_a, doc_b, lcs_tokens long) with lcs_tokens ≥ min_tokens
    (default: substring_k, i.e. ≥ one full gram).

    ``hot_gram_cap`` prunes grams whose document frequency exceeds the cap
    (boilerplate; the skew story for this operator — dropped grams can only
    split runs, never invent them, so results stay a sound lower bound).
    """
    k = cfg.substring_k
    min_tokens = min_tokens if min_tokens is not None else k
    grams = shingles_col(tokens_col(F.col("text")), k)
    g = docs.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram"),
    ).select("doc_id", "pos", hash64(F.col("gram"), cfg.hash_mode).alias("gh"))
    if hot_gram_cap:
        from lsh_spark.operators.skew import bucket_census
        df_g = bucket_census(g.select("gh", "doc_id").distinct(), ["gh"])
        hot = df_g.filter(F.col("bucket_size") > hot_gram_cap).select("gh")
        # bounded broadcast: each hot gram holds > hot_gram_cap distinct
        # (gram, doc) rows, so there are fewer than rows / hot_gram_cap
        g = g.join(F.broadcast(hot), "gh", "left_anti")
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "gh")
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "gh")
    m = (a.join(b, "gh")
         .filter(F.col("doc_a") < F.col("doc_b"))
         .select("doc_a", "doc_b", "pos_a",
                 (F.col("pos_a") - F.col("pos_b")).alias("diag"))
         .distinct())
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
            .groupBy("doc_a", "doc_b", "diag", "grp")
            .agg(F.count("*").alias("run")))
    return (runs.groupBy("doc_a", "doc_b")
            .agg((F.max("run") + F.lit(k - 1)).cast("long").alias("lcs_tokens"))
            .filter(F.col("lcs_tokens") >= min_tokens))
