"""TF-IDF weighting over token streams — SINGLE-SCAN.

Reference analogs (SURVEY.md §2.8): G2 per-doc TF via np.unique counts
(``scripts/song_tfidf_calculation.py:82-101``), G3 IDF = log2(N/df) over
per-doc-distinct terms (``:104-130``), G4 TF·IDF per (doc, token)
(``:133-186``), G5 query-side max-TFIDF (``scripts/query_tfidf_calculation.
py:82-132``). The reference stages TF→IDF→TFIDF through pickle files for
>25k docs (``scripts/tfidf_exec.py:108-114``); Catalyst pipelines the same
joins in one plan with partial aggregation, so no staging is needed.

Scale invariant (round-2 fix): the corpus is tokenized and exploded exactly
ONCE — ``doc_token_counts`` is the single (doc_id, token, n) frame every
quantity (tf, df, doc length, filter stats) derives from. At 100 TB the
tokenize-explode dominates; deriving four quantities from four separate
explodes (the round-1 shape) multiplied the dominant cost by 4.

The dedup engine applies no document-frequency filter to its shingles:
boilerplate shingles that make hot LSH buckets are defused by the
hot-bucket cap (operators/skew.py), and every candidate is still verified
by exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_spark.functions.text import tokens_col
from lsh_spark.plans.checkpoint import materialize


def doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))


def doc_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, token, n) occurrence counts — the ONE tokenize-explode +
    (doc, token) shuffle every TF-IDF quantity derives from. Persist this
    (``materialize`` / CheckpointStore) when several quantities are
    computed so the explode lineage is not re-run either."""
    return (doc_tokens(docs)
            .groupBy("doc_id", "token")
            .agg(F.count("*").alias("n")))


def _n_docs(docs: DataFrame) -> DataFrame:
    """Single-row (nd) frame — counted on the docs table (no explode), so
    token-less docs still count toward N, matching the reference which
    sizes IDF by the corpus, not the posting list."""
    return docs.select(F.countDistinct("doc_id").alias("nd"))


def _counts_with_len(docs: DataFrame,
                     counts: DataFrame | None) -> DataFrame:
    """(doc_id, token, n, len) — the single-scan base frame.

    When ``counts`` is derived here (the default), ``len`` (= doc token
    count = size(tokens) ≡ Σn) is computed NARROWLY on the docs scan and
    carried THROUGH the (doc, token) aggregation as a grouping key — it is
    functionally dependent on doc_id, so the groups are unchanged and the
    old counts→lens self-join disappears: round 5 re-aggregated counts by
    doc_id and joined it back, which re-exchanged the whole counts frame
    on doc_id (guide §2.4 — two operations keyed the same way share one
    exchange; measured: 2 Exchanges + 1 aggregation removed from the
    tfidf plan). An explicitly passed ``counts`` keeps the old
    re-aggregation contract (lens defined by the given counts)."""
    if counts is None:
        # stage the token array as a plain column first so the split()
        # tokenization runs ONCE per doc; size() and explode() then read
        # the same materialized array (round-2 invariant: tokenize once)
        return (docs.select("doc_id", tokens_col(F.col("text")).alias("_t"))
                .select("doc_id", F.size("_t").cast("long").alias("len"),
                        F.explode("_t").alias("token"))
                .groupBy("doc_id", "len", "token")
                .agg(F.count("*").alias("n"))
                .select("doc_id", "token", "n", "len"))
    lens = counts.groupBy("doc_id").agg(F.sum("n").alias("len"))
    return counts.join(lens, "doc_id").select("doc_id", "token", "n", "len")


def tf(docs: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """(doc_id, token, tf) — term frequency = count/len(doc).
    Reference ``song_tfidf_calculation.py:98``."""
    return _counts_with_len(docs, counts).select(
        "doc_id", "token", (F.col("n") / F.col("len")).alias("tf"))


def idf(docs: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """(token, idf) — log2(N / df), df over distinct docs containing the
    token (reference ``song_tfidf_calculation.py:104-130``). ``counts`` is
    already per (doc, token), so df is a plain row count — no distinct."""
    counts = counts if counts is not None else doc_token_counts(docs)
    df_tok = counts.groupBy("token").agg(F.count("*").alias("df"))
    return df_tok.crossJoin(F.broadcast(_n_docs(docs))).select(
        "token", F.log2(F.col("nd") / F.col("df")).alias("idf"))


def tfidf_with_counts(docs: DataFrame,
                      counts: DataFrame | None = None) -> DataFrame:
    """(doc_id, token, n, len, tfidf) — single-scan TF-IDF: one explode,
    one (doc, token) shuffle with len carried as a dependent grouping key
    (no lens self-join); df is a re-aggregation of the same base frame,
    never of the corpus."""
    # materialize the base frame once: df_tok and the final join both
    # consume it, and column pruning gives the two consumers DIFFERENT
    # aggregate subtrees (the df side prunes ``n``), so exchange reuse
    # never fires and the tokenize+explode+aggregate ran twice
    # (measured: two full 1.4M-group aggregation chains in the sf0.1
    # tfidf plan). This is the docstring's "persist when several
    # quantities are computed" applied inside the operator.
    base = materialize(_counts_with_len(docs, counts))
    df_tok = base.groupBy("token").agg(F.count("*").alias("df"))
    return (
        base
        .join(df_tok, "token")
        .crossJoin(F.broadcast(_n_docs(docs)))
        .select("doc_id", "token", "n", "len",
                ((F.col("n") / F.col("len"))
                 * F.log2(F.col("nd") / F.col("df"))).alias("tfidf"))
    )


def tfidf(docs: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """(doc_id, token, tfidf). The token→df join is a broadcast when the
    vocabulary is small, sort-merge otherwise — Catalyst's choice."""
    return tfidf_with_counts(docs, counts).select("doc_id", "token", "tfidf")


def query_max_tfidf(docs: DataFrame,
                    counts: DataFrame | None = None) -> DataFrame:
    """(token, max_tfidf) — the reference's query-side TF-IDF estimate:
    max over docs, chosen to minimize the chance of dropping a token
    (reference ``query_tfidf_calculation.py:98``)."""
    return (tfidf(docs, counts)
            .groupBy("token").agg(F.max("tfidf").alias("max_tfidf")))


def filter_tokens_by_tfidf(docs: DataFrame, min_tfidf: float,
                           counts: DataFrame | None = None) -> DataFrame:
    """P6: keep only (doc, token) entries whose tfidf > min_tfidf —
    the reference's TF-IDF pitch filter (``scripts/tfidf_pitch_extraction.
    py:114-181``, threshold at 131). Output: (doc_id, token, tfidf)."""
    return tfidf(docs, counts).filter(F.col("tfidf") > min_tfidf)


def tfidf_filter_stats(docs: DataFrame, min_tfidf: float,
                       counts: DataFrame | None = None) -> DataFrame:
    """G12: per-doc remaining-token percentage + global emptied-doc share
    (reference ``tfidf_pitch_extraction.py:162-181``).
    Output: one row (avg_remaining_pct, emptied_docs_pct, n_docs).

    Derived entirely from the single-scan frame: n_orig = Σn per doc,
    n_kept = Σn over surviving tokens — zero re-explodes (the round-1 form
    re-derived doc_tokens four times)."""
    t = tfidf_with_counts(docs, counts)
    per_doc = t.groupBy("doc_id").agg(
        F.sum("n").alias("n_orig"),
        F.sum(F.when(F.col("tfidf") > min_tfidf, F.col("n"))
               .otherwise(F.lit(0))).alias("n_kept"))
    return per_doc.agg(
        F.avg(F.col("n_kept") / F.col("n_orig") * 100).alias("avg_remaining_pct"),
        (F.avg(F.when(F.col("n_kept") == 0, 1.0).otherwise(0.0)) * 100)
         .alias("emptied_docs_pct"),
        F.count("*").alias("n_docs"))
