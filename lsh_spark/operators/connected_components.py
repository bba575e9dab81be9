"""Connected components via iterative hash-min label propagation.

The reference has no clustering stage (its retrieval returns ranked
candidate lists per query, ``lsh.py:459-473``); clustering duplicate groups
is the dedup-engine generalization mandated by BASELINE.json north_star
("clustered with an iterative connected-components (hash-min label
propagation) join loop").

Scale notes (SURVEY.md §7.4 item 2):
 * each iteration is one join (neighbour labels) + one groupBy min over
   them and each doc's own label row — two shuffles; the first reads both
   straight from the edges (every label starts as the doc's own id), so
   it is one groupBy and no label table is built before the loop;
 * lineage is truncated every iteration with ``materialize``
   (plans/checkpoint.py), otherwise the logical plan doubles per
   iteration and Catalyst re-optimization time explodes (the one place
   lazy plans actively hurt);
 * the edge and changed-label counts are ``Observation``s on frames the
   loop materializes anyway (an observed plan is never already held, so
   ``materialize`` always runs the job ``.get`` waits for): no count job;
 * iteration count is bounded by graph diameter; duplicate clusters are
   near-cliques so it converges in 2-4 rounds in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from lsh_spark.plans.checkpoint import materialize

# edge sets up to SMALL_GRAPH_EDGES run the loop on SMALL_GRAPH_PARTITIONS
SMALL_GRAPH_EDGES = 2_000_000
SMALL_GRAPH_PARTITIONS = 8
# store stages of the label state: f"{STAGE_PREFIX}_iter{n}"
STAGE_PREFIX = "cc"


def connected_components(pairs: DataFrame, max_iter: int = 100,
                         store=None) -> DataFrame:
    """(doc_a, doc_b) edges → (doc_id, cluster_id) with cluster_id = min
    member. Singletons are not emitted (docs absent from ``pairs`` are their
    own cluster by definition).

    Labels move one hop per iteration, so ``max_iter`` bounds the component
    diameter the loop can label. A loop that reaches ``max_iter`` without a
    fixed point raises ``RuntimeError``: its labels would break the
    cluster_id = component-min contract.

    Verified-duplicate edge sets are typically tiny relative to the corpus
    (clusters are near-cliques of 2-5 docs); when the edge count is below
    ``SMALL_GRAPH_EDGES`` the loop runs on ``SMALL_GRAPH_PARTITIONS``
    partitions so each iteration is a handful of tasks instead of
    shuffle_partitions-many — the per-iteration scheduling overhead is the
    serial term of the whole pipeline's Amdahl fraction. Above the cutoff
    the natural partitioning is kept (the 10^12-turn path).

    ``store`` (plans/checkpoint.CheckpointStore): when given, the LABEL
    STATE itself is committed per iteration as stage
    ``cc_iter{n}`` (north_rule: "component state to Iceberg
    for resumable runs") — a killed run resumes label propagation from the
    last committed iteration instead of restarting the loop. At 10^12
    turns an iteration is a multi-TB shuffle; re-running converged
    iterations is the single most expensive kind of lost work.
    """
    edge_count = Observation()
    edges = materialize(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct()
        .observe(edge_count, F.count("*").alias("n"))
    )
    if edge_count.get["n"] <= SMALL_GRAPH_EDGES:
        # a narrow re-read of the held edges, not a second checkpoint job
        edges = edges.coalesce(SMALL_GRAPH_PARTITIONS)
    labels = None
    start_iter = 0
    if store is not None:
        spark = pairs.sparkSession
        for i in range(max_iter, 0, -1):
            if store.exists(f"{STAGE_PREFIX}_iter{i}", spark):
                labels = store.read(spark, f"{STAGE_PREFIX}_iter{i}")
                start_iter = i
                break
    no_label = F.lit(None).cast(edges.schema["src"].dataType)
    # a resume re-checks the committed labels with one more iteration, even
    # when the committed run already used up max_iter
    for _it in range(start_iter, max(max_iter, start_iter + 1)):
        # every doc is a src (edges are symmetric), so its own row makes
        # min(cluster_id) = least(own label, neighbour labels), and _own
        # (null on neighbour rows) keeps the old label for the change count
        if labels is None:
            # first iteration: every label is the doc's own id, so the
            # neighbour and own rows are read straight from the edges
            nbr = edges.select("src", F.col("dst").alias("cluster_id"))
            own = edges.select("src", F.col("src").alias("cluster_id"))
        else:
            nbr = (edges.join(labels, edges.dst == labels.doc_id)
                   .select("src", "cluster_id"))
            own = labels.select(F.col("doc_id").alias("src"), "cluster_id")
        rows = (nbr.withColumn("_own", no_label)
                .unionByName(own.withColumn("_own", F.col("cluster_id"))))
        changed = Observation()
        labels = materialize(
            rows.groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("cluster_id").alias("cluster_id"),
                 F.max("_own").alias("_own"))
            .observe(changed, F.count_if(F.col("cluster_id") < F.col("_own"))
                     .alias("n"))
            .select("doc_id", "cluster_id")
        )
        if store is not None:
            labels = store.write(labels, f"{STAGE_PREFIX}_iter{_it + 1}")
        if changed.get["n"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not reach a fixed point within "
        f"max_iter={max_iter} (resumed at iteration {start_iter}); labels "
        f"move one hop per iteration, so a component wider than max_iter "
        f"hops would get wrong labels — raise max_iter or resume from the "
        f"committed '{STAGE_PREFIX}_iter*' state")


def clusters_with_members(labels: DataFrame) -> DataFrame:
    """(cluster_id, members array, size) summary."""
    return (
        labels.groupBy("cluster_id")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"),
             F.count("*").cast("long").alias("size"))
    )
