"""Round-5 fixes: ANN hot-bucket defusal, index-geometry validation and
the atomic run manifest it is stored in."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators import knn
from lsh_spark.plans.checkpoint import CheckpointStore


def _components(pairs_df):
    """Frozenset-of-frozensets connected components of an (id_a, id_b)
    edge list — tiny fixture sizes only."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs_df.select("id_a", "id_b").collect():
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[ra] = rb
    groups: dict = {}
    for node in list(parent):
        groups.setdefault(find(node), set()).add(node)
    return frozenset(frozenset(g) for g in groups.values())


def test_embedding_near_dup_hot_bucket_capped(spark):
    # 1_000 identical embeddings: every hyperplane table puts them all in
    # ONE bucket (all sign bits equal) — the exact degenerate case the
    # skew module defends every other pass against. Uncapped this join
    # emits ~500k pair rows per table; capped it emits 999 star edges,
    # and because star edges are cosine-verified like any candidate, the
    # verified pairs connect exactly the same single component.
    n = 1_000
    vec = [1.0, 2.0, 3.0, 4.0] * 16  # dim 64 to match the portable family
    rows = [(i, vec) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    capped = knn.embedding_near_dups_portable(
        emb, threshold=0.95, n_planes=4, n_tables=2, hot_bucket_cap=50)
    n_capped = capped.count()
    # star defusal: k-1 edges per (table, bucket), deduped across tables
    assert n_capped == n - 1
    # all emitted pairs passed the exact verifier
    assert capped.filter(F.col("cos_sim") < 0.95).count() == 0

    uncapped = knn.embedding_near_dups_portable(
        emb, threshold=0.95, n_planes=4, n_tables=2, hot_bucket_cap=n + 1)
    assert _components(capped) == _components(uncapped)


def test_embedding_near_dup_cap_noop_below_threshold(spark):
    # distinct random-ish vectors, small buckets: cap must not change the
    # exact pair set (the sf0.01 oracle relies on this)
    import numpy as np
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = knn.embedding_near_dups_portable(emb, threshold=0.2, n_planes=4,
                                         n_tables=2, hot_bucket_cap=200)
    b = knn.embedding_near_dups_portable(emb, threshold=0.2, n_planes=4,
                                         n_tables=2, hot_bucket_cap=10_000)
    sa = {(r["id_a"], r["id_b"], r["cos_sim"]) for r in a.collect()}
    sb = {(r["id_a"], r["id_b"], r["cos_sim"]) for r in b.collect()}
    assert sa == sb


def test_geometry_manifest_roundtrip_and_mismatch(tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    cfg = DedupConfig(band_rows=1, num_perms=16)
    assert store.geometry() is None
    store.validate_geometry(cfg)  # no record yet: must not raise
    store.record_geometry(cfg)
    rec = store.geometry()
    assert rec["band_rows"] == 1 and rec["num_perms"] == 16
    store.validate_geometry(cfg)  # identical cfg: fine
    store.validate_geometry(DedupConfig(band_rows=1, num_perms=16,
                                        hot_bucket_cap=7))  # non-geometry
    with pytest.raises(ValueError, match="geometry mismatch"):
        store.validate_geometry(DedupConfig(band_rows=2, num_perms=16))
    with pytest.raises(ValueError, match="geometry mismatch"):
        store.validate_geometry(DedupConfig(band_rows=1, num_perms=16,
                                            shingle_k=9))
    # a manifest recorded while the config still had shingle_stride (1, the
    # only stride ever run): the dropped field is ignored, the rest checked
    legacy = CheckpointStore(str(tmp_path / "legacy"))
    (tmp_path / "legacy" / "_manifest.json").write_text(json.dumps([
        {"run_id": "r0", "stage": "_geometry", "geometry": {
            "num_perms": 16, "band_rows": 1, "shingle_k": 5,
            "shingle_stride": 1, "hash_mode": "portable",
            "granularity": "conv"}}]))
    legacy.validate_geometry(cfg)
    with pytest.raises(ValueError, match="geometry mismatch"):
        legacy.validate_geometry(DedupConfig(band_rows=2, num_perms=16))


def test_incremental_dedup_rejects_geometry_drift(spark, tmp_path):
    # the ADVICE r4 scenario: index built under r=1, probed with the
    # session default r=2 — must raise, not silently report zero dups
    from lsh_spark.operators import lsh_bands, minhash
    from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
    from lsh_spark.plans.pipeline import incremental_dedup

    old_cfg = DedupConfig(band_rows=1, num_perms=16)
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
         for i in range(8)], "doc_id string, text string")
    store = CheckpointStore(str(tmp_path / "geo_ckpt"))
    hashes = doc_shingle_hashes_arrow(docs, old_cfg)
    store.write(hashes, "shingle_hashes")
    store.write(lsh_bands.band_buckets(
        minhash.minhash_signatures(hashes, old_cfg), old_cfg), "band_buckets")
    store.record_geometry(old_cfg)

    delta = spark.createDataFrame(
        [("new0", "alpha beta gamma delta epsilon zeta eta theta doc 0")],
        "doc_id string, text string")
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_dedup(spark, delta, store,
                          DedupConfig(band_rows=2, num_perms=16),
                          bands_stage="band_buckets",
                          hashes_stage="shingle_hashes")
    # matching cfg still works end-to-end
    flags = incremental_dedup(spark, delta, store, old_cfg,
                              bands_stage="band_buckets",
                              hashes_stage="shingle_hashes")
    assert flags.filter(F.col("match_kind") == "index").count() >= 1


def test_manifest_survives_crash_mid_write(tmp_path, monkeypatch):
    """A _log call that dies partway through writing the manifest must
    leave the previous manifest intact and readable."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    cfg = DedupConfig(band_rows=1, num_perms=16)
    store.record_geometry(cfg)
    manifest = tmp_path / "ckpt" / "_manifest.json"
    before = manifest.read_text()

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj, **kw)[:20])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            store._log("edges_minhash")
    assert manifest.read_text() == before
    assert store.geometry() == {f: getattr(cfg, f)
                                for f in CheckpointStore.GEOMETRY_FIELDS}
