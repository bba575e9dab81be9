"""Hot-bucket skew: star-linking must preserve components and bound pairs."""

from __future__ import annotations

from lsh_spark.config import DedupConfig
from lsh_spark.operators import lsh_bands, minhash, shingle
from lsh_spark.operators.connected_components import connected_components


def _hot_corpus(spark, n_copies=300, n_noise=50):
    """n_copies identical docs (one mega-bucket) + unrelated noise docs."""
    rows = [(f"dup{i:04d}", "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(n_copies)]
    rows += [(f"n{i:04d}", " ".join(f"x{i}_{j}" for j in range(12)))
             for i in range(n_noise)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_star_linking_preserves_components(spark):
    cfg = DedupConfig(num_perms=8, hot_bucket_cap=20)
    docs = _hot_corpus(spark)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)

    full = lsh_bands.candidate_pairs(bands, cfg, all_pairs=True)
    star = lsh_bands.candidate_pairs(bands, cfg, all_pairs=False)

    n_full, n_star = full.count(), star.count()
    assert n_star < n_full  # pair explosion actually defused
    cc_full = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(full.select("doc_a", "doc_b")).collect()}
    cc_star = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(star.select("doc_a", "doc_b")).collect()}
    assert cc_full == cc_star


def test_star_pair_count_linear_in_bucket(spark):
    cfg = DedupConfig(num_perms=8, hot_bucket_cap=20)
    docs = _hot_corpus(spark, n_copies=300, n_noise=0)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)
    star = lsh_bands.candidate_pairs(bands, cfg)
    # 300 identical docs, every band hot → star edges only: 299 distinct
    assert star.count() == 299


def test_census_counts_match_groupby(spark):
    """The census must equal a plain groupBy count, mega-buckets
    included, and plan as a hash aggregate (no string min to force a
    sort aggregate)."""
    from lsh_spark.operators.skew import bucket_census
    cfg = DedupConfig(num_perms=8)
    docs = _hot_corpus(spark)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)
    census = bucket_census(bands, ["band_id", "band_hash"])
    plain = (bands.groupBy("band_id", "band_hash").count()
             .withColumnRenamed("count", "bucket_size"))
    assert census.exceptAll(plain).count() == 0
    assert plain.exceptAll(census).count() == 0
    plan = census._jdf.queryExecution().sparkPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_hot_key_rule_shared_at_cap_boundary(spark):
    """The pair path and the probe path share one hot-key rule: a key
    holding exactly ``cap`` rows is cold for both (all pairs; every row
    kept), one holding ``cap + 1`` is hot for both (star edges from its
    min; only its min's rows kept), duplicate (key, id) rows included."""
    from lsh_spark.operators.skew import capped_pair_rows, collapse_hot_keys
    cap = 4
    keyed = spark.createDataFrame(
        [("cold", d) for d in ("d1", "d2", "d3", "d3")]
        + [("hot", d) for d in ("d0", "d0", "d1", "d2", "d3")],
        "key string, doc_id string")
    pairs = sorted((r["key"], r["doc_a"], r["doc_b"])
                   for r in capped_pair_rows(keyed, ["key"], cap).collect())
    assert pairs == sorted(
        [("cold", "d1", "d2"), ("cold", "d1", "d3"), ("cold", "d1", "d3"),
         ("cold", "d2", "d3"), ("cold", "d2", "d3"),
         ("hot", "d0", "d1"), ("hot", "d0", "d2"), ("hot", "d0", "d3")])
    kept = sorted(tuple(r) for r in
                  collapse_hot_keys(keyed, ["key"], cap).collect())
    assert kept == sorted([("cold", "d1"), ("cold", "d2"), ("cold", "d3"),
                           ("cold", "d3"), ("hot", "d0"), ("hot", "d0")])


def test_pair_passes_run_no_census(spark, monkeypatch, t1_transcripts):
    """No pair pass of the cascade builds a bucket census: each tags its
    keyed rows with the window rule the probes use. Run in the benchmark's
    configuration (fast hashing, sampled substring grams, r=2 banding)."""
    from lsh_spark.operators import skew
    from lsh_spark.plans.pipeline import dedup_pipeline

    def no_census(*args, **kwargs):
        raise AssertionError("a pair pass called bucket_census")

    monkeypatch.setattr(skew, "bucket_census", no_census)
    cfg = DedupConfig(hash_mode="fast", substring_sample_mod=8, band_rows=2)
    assert dedup_pipeline(spark, t1_transcripts, cfg).count() == 74


from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 40)),
                min_size=2, max_size=60))
def test_capped_pairs_component_equivalence_random(spark, keyed_rows):
    """Property: for ANY (key, doc) membership multiset and a tiny cap,
    star-linked pair rows connect exactly the same components as the dense
    expansion, and never exceed it."""
    from lsh_spark.operators.skew import all_pair_rows, capped_pair_rows
    rows = [(f"k{k}", f"d{d:02d}") for k, d in keyed_rows]
    keyed = spark.createDataFrame(rows, "key string, doc_id string").distinct()
    dense = all_pair_rows(keyed, ["key"]).select("doc_a", "doc_b")
    capped = capped_pair_rows(keyed, ["key"], 3).select("doc_a", "doc_b")
    n_dense, n_capped = dense.count(), capped.count()
    assert n_capped <= n_dense
    if n_dense == 0:
        assert n_capped == 0
        return
    cc_d = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(dense).collect()}
    cc_c = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(capped).collect()}
    assert cc_d == cc_c
