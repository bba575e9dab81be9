"""Similarity search over embedding columns: brute-force + LSH-bucketed ANN.

Not in the reference (its cosine similarity is a per-pair verifier,
``matching_algorithms.py:34-52``); these are the training-data-pipeline
similarity-search operators the engine adds (embedding-cosine near-dup /
nearest-neighbor retrieval).

* ``knn_bruteforce`` — exact top-k per probe: broadcast the (small) probe
  set against the corpus, JVM-side cosine, window top-k. The corpus side
  never shuffles: broadcast join + per-partition partial top-k via AQE.
  This is the correctness baseline.
* ``ann_hyperplane`` — scale path: random-hyperplane LSH (sign bits of
  R seeded Gaussian projections, computed in one mapInArrow matmul),
  candidates = bucket collisions (optionally multi-probe), exact rerank of
  candidates only. At 100 TB the bucket join replaces the cross join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.vectors import cosine, cosine_with_norms, norm
from lsh_spark.operators.skew import key_pairs

ANN_SEED = 20240101


def knn_bruteforce(corpus: DataFrame, probes: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per probe (probe != neighbor).

    Output: (query_id, neighbor_id, cos_sim double, rank int).
    Ties broken by neighbor_id for determinism.
    """
    # norms hoisted out of the pair loop: computed once per probe / corpus
    # row instead of once per (probe, corpus) PAIR — cosine_with_norms is
    # arithmetic-identical, so scores are bitwise unchanged
    p = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                      norm(F.col(vec_col)).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      norm(F.col(vec_col)).alias("cn"))
    scored = (
        c.join(F.broadcast(p), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim",
                F.col("rank").cast("int").alias("rank"))
    )


def hyperplane_signs(vectors: DataFrame, n_planes: int = 8, n_tables: int = 8,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, table_id, bucket): multi-table random-hyperplane LSH.

    ``n_tables`` independent tables of ``n_planes`` sign bits each —
    the standard recall knob (per-table collision p = (1-θ/π)^n_planes;
    union over tables). One NumPy matmul per Arrow batch computes ALL
    tables at once; the projection matrix is regenerated identically on
    every executor from a fixed seed (a few KB — cheaper than a broadcast).
    """
    total = n_planes * n_tables

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        shifts = np.arange(n_planes, dtype=np.int64)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vecs = batch.column(1)
            flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            offsets = vecs.offsets.to_numpy(zero_copy_only=False)
            offsets = offsets - offsets[0]  # align with flatten() on slices
            d = int(offsets[1] - offsets[0]) if len(offsets) > 1 else 0
            mat = flat.reshape(-1, d)
            if planes is None:
                rng = np.random.default_rng(ANN_SEED)
                planes = rng.standard_normal((d, total))
            signs = (mat @ planes) > 0                      # (n, total)
            signs = signs.reshape(len(mat), n_tables, n_planes).astype(np.int64)
            buckets = (signs << shifts).sum(axis=2)         # (n, n_tables)
            n = len(mat)
            out_ids = np.repeat(ids, n_tables)
            out_tables = np.tile(np.arange(n_tables, dtype=np.int32), n)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()),
                 pa.array(out_tables, pa.int32()),
                 pa.array(buckets.ravel(), pa.int64())],
                names=["vec_id", "table_id", "bucket"])

    return vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col)) \
                  .mapInArrow(kernel, "vec_id long, table_id int, bucket bigint")


def ann_hyperplane(corpus: DataFrame, probes: DataFrame, k: int = 5,
                   n_planes: int = 6, n_tables: int = 12,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: multi-table hyperplane-bucket candidates + exact
    rerank of candidates only. Recall is tested against ``knn_bruteforce``.
    """
    cb = hyperplane_signs(corpus, n_planes, n_tables, id_col=id_col, vec_col=vec_col)
    pb = hyperplane_signs(probes, n_planes, n_tables, id_col=id_col, vec_col=vec_col) \
        .withColumnRenamed("vec_id", "query_id")
    cand = (
        pb.join(cb, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    p = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                      norm(F.col(vec_col)).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      norm(F.col(vec_col)).alias("cn"))
    scored = (
        cand.join(F.broadcast(p), "query_id").join(c, "neighbor_id")
        .withColumn("cos_sim", F.round(cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim",
                F.col("rank").cast("int").alias("rank"))
    )


def hyperplane_signs_portable(vectors: DataFrame, n_planes: int = 4,
                              n_tables: int = 4, dim: int = 64,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """(vec_id, table_id, bucket) — DETERMINISTIC INTEGER hyperplane LSH,
    bit-for-bit reproducible in DuckDB SQL (the oracle-checkable variant;
    ``hyperplane_signs`` above is the Gaussian/Arrow scale path).

    Plane component c(t,j,i) = (hash60('hp:t:j:i') % 2001) − 1000 — an
    md5-derived integer in [−1000, 1000]; embeddings are quantized
    q_i = floor(e_i · 10^6) (exact in int64: |Σ q·c| < 64·10^9·10^3 < 2^63).
    Sign decisions are integer comparisons, so no float-summation-order
    hazard exists between engines. Sign-LSH only needs a symmetric
    component distribution, which uniform ints satisfy.

    Fully relational: posexplode dims → broadcast-join the (tiny) plane
    table → two partial-aggregating groupBys. No Python anywhere.
    """
    from lsh_spark.functions.hashing import portable_hash64
    spark = vectors.sparkSession
    total = n_tables * n_planes * dim
    planes = (
        spark.range(total)
        .select(
            (F.col("id") / (n_planes * dim)).cast("long").alias("t"),
            ((F.col("id") / dim) % n_planes).cast("long").alias("j"),
            (F.col("id") % dim).cast("long").alias("i"),
        )
        .withColumn("c", F.pmod(portable_hash64(F.concat_ws(
            ":", F.lit("hp"), F.col("t").cast("string"),
            F.col("j").cast("string"), F.col("i").cast("string"))),
            F.lit(2001)) - 1000)
    )
    q = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("i", "v"),
    ).select("vec_id", F.col("i").cast("long").alias("i"),
             F.floor(F.col("v").cast("double") * 1e6).cast("long").alias("q"))
    dots = (
        q.join(F.broadcast(planes), "i")
        .groupBy("vec_id", "t", "j")
        .agg(F.sum(F.col("q") * F.col("c")).alias("s"))
    )
    return (
        dots.groupBy("vec_id", F.col("t").alias("table_id"))
        .agg(F.sum(F.when(F.col("s") > 0,
                          F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
                   .otherwise(F.lit(0))).alias("bucket"))
        .select("vec_id", F.col("table_id").cast("int"), "bucket")
    )


def ann_hyperplane_portable(corpus: DataFrame, probes: DataFrame, k: int = 5,
                            n_planes: int = 4, n_tables: int = 4,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via the portable integer hyperplane buckets +
    exact cosine rerank — same plan shape as ``ann_hyperplane`` but every
    step reproducible in ANSI SQL (driver oracle)."""
    cb = hyperplane_signs_portable(corpus, n_planes, n_tables,
                                   id_col=id_col, vec_col=vec_col)
    pb = hyperplane_signs_portable(probes, n_planes, n_tables,
                                   id_col=id_col, vec_col=vec_col) \
        .withColumnRenamed("vec_id", "query_id")
    cand = (
        pb.join(cb, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    p = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                      norm(F.col(vec_col)).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      norm(F.col(vec_col)).alias("cn"))
    scored = (
        cand.join(F.broadcast(p), "query_id").join(c, "neighbor_id")
        .withColumn("cos_sim", F.round(cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim",
                F.col("rank").cast("int").alias("rank"))
    )


def ivf_centroids(corpus: DataFrame, n_lists: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  lloyd_iters: int = 0) -> DataFrame:
    """(list_id, centroid) coarse quantizer for IVF.

    Deterministic seeding: the centroid of list j is the corpus vector
    whose id is the j-th smallest among hash-selected candidates — no RNG,
    so Spark and the SQL oracle derive identical centroids. With
    ``lloyd_iters`` > 0, k-means refinement runs as broadcast-assign +
    groupBy-mean iterations (float mean over an unordered partitioning is
    NOT bit-reproducible across engines, so refined centroids are for the
    recall path, not the oracle path).
    """
    # Seed selection is orderBy().limit(): Spark plans TakeOrderedAndProject
    # (distributed per-partition top-n + driver merge of n_lists rows), not
    # a global single-partition sort. The row_number window below then runs
    # over exactly n_lists rows — bounded by construction.
    seeds = (corpus.select(F.col(id_col).alias("__sid"),
                           F.col(vec_col).alias("centroid"))
             .orderBy("__sid").limit(n_lists))
    w = Window.orderBy(F.col("__sid"))
    cents = (seeds.withColumn("list_id",
                              (F.row_number().over(w) - 1).cast("int"))
             .select("list_id", "centroid"))
    for _ in range(lloyd_iters):
        assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
        # ivf_assign always names its id output vec_id; join explicitly on
        # corpus[id_col] so a custom id_col works too.
        means = (corpus.join(assigned,
                             corpus[id_col] == assigned["vec_id"])
                 .select("list_id", F.posexplode(vec_col).alias("i", "v"))
                 .groupBy("list_id", "i").agg(F.avg("v").alias("m"))
                 .groupBy("list_id")
                 .agg(F.array_sort(F.collect_list(F.struct("i", "m")))
                      .alias("sm"))
                 .select("list_id",
                         F.transform("sm", lambda s: s["m"].cast("float"))
                          .alias("new_centroid")))
        # left join: a list that loses all members keeps its previous
        # centroid instead of silently shrinking n_lists.
        cents = (cents.join(means, "list_id", "left")
                 .select("list_id",
                         F.coalesce("new_centroid", "centroid")
                          .alias("centroid")))
    return cents


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, list_id): nearest centroid by cosine, broadcast argmax —
    JVM-side, one pass, no shuffle of the corpus."""
    # centroid norms precomputed into the broadcast structs and the vector
    # norm hoisted to one column per row: the argmax lambda then evaluates
    # ONE dot per (row, centroid) instead of three aggregate folds —
    # same expressions and product order, bitwise-identical sims
    c = centroids.select(
        F.array_agg(F.struct("list_id", "centroid",
                             norm(F.col("centroid")).alias("cnorm"))
                    ).alias("cents"))
    scored = vectors.withColumn("_vn", norm(F.col(vec_col))) \
        .crossJoin(F.broadcast(c)).select(
        F.col(id_col).alias("vec_id"),
        F.array_max(F.transform(
            "cents",
            lambda s: F.struct(
                F.round(cosine_with_norms(F.col(vec_col), s["centroid"],
                                          F.col("_vn"), s["cnorm"]), 6)
                 .alias("sim"),
                (-s["list_id"]).alias("neg_id"))
        )).alias("best"))
    return scored.select(
        "vec_id", (-F.col("best.neg_id")).cast("int").alias("list_id"))


def ann_ivf(corpus: DataFrame, probes: DataFrame, k: int = 5,
            n_lists: int = 16, n_probe: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: assign corpus to inverted lists once, probe
    each query against its ``n_probe`` nearest lists, exact-rerank only
    those lists' members. The 100 TB shape: the corpus is scanned once for
    assignment (broadcast argmax, no shuffle), the candidate join is an
    equi-join on list_id, and rerank touches ~n_probe/n_lists of the data.
    Deterministic (hash-free seeded centroids + fixed tie-breaks) — the
    driver oracle reproduces it exactly in SQL.
    """
    cents = ivf_centroids(corpus, n_lists, id_col=id_col, vec_col=vec_col)
    corpus_lists = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    # per-probe: n_probe nearest centroids (rank over the tiny centroid set)
    p = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                      norm(F.col(vec_col)).alias("qn"))
    pc = (p.crossJoin(F.broadcast(cents))
          .withColumn("csim", F.round(cosine(F.col("qv"), F.col("centroid")), 6)))
    wp = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("list_id"))
    probe_lists = (pc.withColumn("rk", F.row_number().over(wp))
                   .filter(F.col("rk") <= n_probe)
                   .select("query_id", "list_id"))
    cand = (probe_lists.join(corpus_lists, "list_id")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct())
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      norm(F.col(vec_col)).alias("cn"))
    scored = (cand.join(F.broadcast(p), "query_id").join(c, "neighbor_id")
              .withColumn("cos_sim", F.round(cosine_with_norms(
                  F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim",
                    F.col("rank").cast("int").alias("rank")))


def _verify_bucket_pairs(vectors: DataFrame, buckets: DataFrame,
                         threshold: float, id_col: str,
                         vec_col: str,
                         hot_bucket_cap: int = DedupConfig.hot_bucket_cap
                         ) -> DataFrame:
    """Bucket-collision candidates → exact cosine verify ≥ threshold.

    The 100 TB join shape: pairs come from an equi-join on (table_id,
    bucket) — never a cross join — and the self-join is routed through
    the shared skew module (``skew.key_pairs``): a degenerate bucket
    (mass-duplicated embeddings, zero vectors — all sign bits equal)
    holding k > cap members emits k-1 star edges instead of k²/2 pair
    rows, exactly like the MinHash-band / SimHash-chunk / gram joins.
    ``key_pairs`` holds the bucket rows once, so the hyperplane kernel
    runs once. Star edges still get the exact cosine verification below,
    so every emitted pair is a true ≥-threshold near-dup; only candidate
    rows ship their embedding arrays for the rerank."""
    cand = (key_pairs(buckets, ["table_id", "bucket"], hot_bucket_cap,
                      id_col="vec_id")
            .select(F.col("doc_a").alias("id_a"),
                    F.col("doc_b").alias("id_b")))
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                        norm(F.col(vec_col)).alias("na"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                        norm(F.col(vec_col)).alias("nb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos_sim", F.round(cosine_with_norms(
            F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dups(vectors: DataFrame, threshold: float = 0.95,
                        n_planes: int = 8, n_tables: int = 8,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        hot_bucket_cap: int = DedupConfig.hot_bucket_cap
                        ) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (bucketed, then exact-verified).

    Output: (id_a, id_b, cos_sim). Gaussian multi-table buckets (Arrow
    matmul) — the scale path; recall vs the exact all-pairs form is
    tested in tests/test_knn_tfidf_metrics.py.
    """
    b = hyperplane_signs(vectors, n_planes, n_tables, id_col=id_col, vec_col=vec_col)
    return _verify_bucket_pairs(vectors, b, threshold, id_col, vec_col,
                                hot_bucket_cap=hot_bucket_cap)


def embedding_near_dups_portable(vectors: DataFrame, threshold: float = 0.95,
                                 n_planes: int = 4, n_tables: int = 4,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 hot_bucket_cap: int = DedupConfig.hot_bucket_cap
                                 ) -> DataFrame:
    """Same bucketed near-dup join shape, but candidates come from the
    DETERMINISTIC integer hyperplane family (``hyperplane_signs_portable``)
    so the whole operator — buckets, collision join, exact verify — is
    reproducible bit-for-bit in the DuckDB oracle (driver query
    ``embedding_near_dups``). This puts the scale operator's plan on the
    oracle surface; the Gaussian variant above shares the verify path.
    """
    b = hyperplane_signs_portable(vectors, n_planes, n_tables,
                                  id_col=id_col, vec_col=vec_col)
    return _verify_bucket_pairs(vectors, b, threshold, id_col, vec_col,
                                hot_bucket_cap=hot_bucket_cap)
