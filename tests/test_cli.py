"""CLI surface tests: the steady-state `ingest-delta` subcommand
(VERDICT r3 #6) and the crash-safe index fold-in ordering (ADVICE r3).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _split_fixture(spark, tmp_path):
    """Split the t1 fixture into base (index) and delta (new batch)
    transcripts: the delta is every conv that is a planted duplicate
    PARTNER, so every delta conv has a near-dup waiting in the index."""
    from lsh_spark import synth
    tr = spark.read.parquet(synth.generate_tier("t1"))
    labels = spark.read.parquet(synth.dup_labels_path("t1"))
    partners = {r["conv_id_b"] for r in labels.collect()}
    base_p, delta_p = str(tmp_path / "base"), str(tmp_path / "delta")
    tr.filter(~F.col("conv_id").isin(partners)).write.parquet(base_p)
    tr.filter(F.col("conv_id").isin(partners)).write.parquet(delta_p)
    return base_p, delta_p


@pytest.mark.slow
@pytest.mark.parametrize("bucketed", [False, True])
def test_cli_ingest_delta_flags_and_folds_index(spark, tmp_path, bucketed):
    base_p, delta_p = _split_fixture(spark, tmp_path)
    ck = str(tmp_path / "ck")
    extra = ['"--bucketed-index"'] if bucketed else []
    script = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {REPO!r})
        from lsh_spark import cli
        for argv in (
            ["index", "--transcripts", {base_p!r}, "--checkpoint-dir",
             {ck!r}, "--cores", "4", "--num-perms", "16",
             {', '.join(extra)}],
            ["ingest-delta", "--delta", {delta_p!r}, "--checkpoint-dir",
             {ck!r}, "--cores", "4", "--num-perms", "16"],
        ):
            cli.main([a for a in argv if a])
    """)
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    res = subprocess.run([sys.executable, "-c", script], text=True,
                         capture_output=True, timeout=600, env=env)
    assert res.returncode == 0, res.stderr[-4000:]
    lines = [json.loads(ln) for ln in res.stdout.splitlines()
             if ln.startswith("{")]
    index_out = next(ln for ln in lines if ln.get("stage") == "band_buckets")
    delta_out = next(ln for ln in lines if ln.get("stage") == "ingest_delta")
    assert delta_out["batch_docs"] > 0
    # every delta conv has a planted partner in the index; high-jaccard
    # mutations must flag against it
    assert delta_out["vs_index"] > 0
    assert delta_out["dup_flags"] >= delta_out["vs_index"]
    # the batch was folded back in: the band index grew
    assert delta_out["index_rows"] > index_out["rows"]


def test_incremental_dedup_commits_hashes_before_bands(spark, tmp_path,
                                                       monkeypatch):
    """ADVICE r3: a crash between the two index writes must leave extra
    hashes (harmless), never bands without hashes (silently dropped
    candidates on the next delta) — so hashes commit FIRST."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators import lsh_bands, minhash
    from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
    from lsh_spark.plans.checkpoint import CheckpointStore
    from lsh_spark.plans.pipeline import incremental_dedup

    cfg = DedupConfig(num_perms=8, shingle_k=2)
    store = CheckpointStore(str(tmp_path / "ck"))
    corpus = spark.createDataFrame(
        [("c1", "a b c d e f"), ("c2", "x y z w v u")],
        "doc_id string, text string")
    hashes = doc_shingle_hashes_arrow(corpus, cfg)
    store.write(hashes, "shingle_hashes")
    store.write(lsh_bands.band_buckets(
        minhash.minhash_signatures(hashes, cfg), cfg), "band_buckets")

    order: list[str] = []
    real_append = CheckpointStore.append

    def spy(self, df, stage):
        order.append(stage)
        return real_append(self, df, stage)

    monkeypatch.setattr(CheckpointStore, "append", spy)
    batch = spark.createDataFrame([("n1", "a b c d e g")],
                                  "doc_id string, text string")
    incremental_dedup(spark, batch, store, cfg,
                      bands_stage="band_buckets",
                      hashes_stage="shingle_hashes").collect()
    assert order == ["shingle_hashes", "band_buckets"]


def test_incremental_dedup_bucketed_index(spark, tmp_path):
    """100 TB index shape: with the index stages stored BUCKETED (bands
    on band_hash, hashes on doc_id), incremental_dedup auto-detects the
    bucketed store, produces identical flags to the plain-parquet path,
    folds the delta in as an O(delta) append (second delta sees the
    first), and the probe join needs fewer shuffles than the plain path."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators import lsh_bands, minhash
    from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
    from lsh_spark.plans.checkpoint import CheckpointStore
    from lsh_spark.plans.pipeline import incremental_dedup, \
        incremental_dedup_flags

    cfg = DedupConfig(num_perms=8, shingle_k=2)
    corpus = spark.createDataFrame(
        [(f"c{i}", f"tok{i} a b c d e f g h{i}") for i in range(20)],
        "doc_id string, text string")
    batch1 = spark.createDataFrame(
        [("n1", "tok3 a b c d e f g h3"),   # near-dup of c3
         ("n2", "zz yy xx ww vv uu")],
        "doc_id string, text string")
    batch2 = spark.createDataFrame(
        [("m1", "zz yy xx ww vv uu")],       # exact dup of n1-batch's n2
        "doc_id string, text string")

    hashes = doc_shingle_hashes_arrow(corpus, cfg)
    bands = lsh_bands.band_buckets(minhash.minhash_signatures(hashes, cfg),
                                   cfg)
    plain = CheckpointStore(str(tmp_path / "plain"))
    plain.write(hashes, "shingle_hashes")
    plain.write(bands, "band_buckets")
    bstore = CheckpointStore(str(tmp_path / "bucketed"))
    bstore.write_bucketed(hashes, "shingle_hashes", ("doc_id",), 4)
    bstore.write_bucketed(bands, "band_buckets", ("band_hash",), 4)

    def flag_set(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    got_plain = flag_set(incremental_dedup(
        spark, batch1, plain, cfg,
        bands_stage="band_buckets", hashes_stage="shingle_hashes"))
    got_bucket = flag_set(incremental_dedup(
        spark, batch1, bstore, cfg,
        bands_stage="band_buckets", hashes_stage="shingle_hashes"))
    assert got_plain == got_bucket and ("n1", "c3") in got_bucket

    # O(delta) fold-in: the second delta must flag against the FIRST
    # delta's doc, which only exists in the index via append_bucketed
    got2 = flag_set(incremental_dedup(
        spark, batch2, bstore, cfg,
        bands_stage="band_buckets", hashes_stage="shingle_hashes"))
    assert ("m1", "n2") in got2

    # shuffle accounting: the bucketed index side needs no Exchange, so
    # the probe plan carries strictly fewer shuffles than the plain path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def n_exchanges(bands_df, hashes_df):
            df = incremental_dedup_flags(batch1, bands_df, hashes_df, cfg)
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            import re
            names = re.findall(r"\(\d+\) (\w+)", buf.getvalue())
            assert names  # plan captured at all
            return sum(1 for n in names if n == "Exchange")
        nb = n_exchanges(bstore.read_bucketed(spark, "band_buckets"),
                         bstore.read_bucketed(spark, "shingle_hashes"))
        np_ = n_exchanges(plain.read(spark, "band_buckets"),
                          plain.read(spark, "shingle_hashes"))
        # the probe censuses only the index rows the delta's band keys
        # touch: a semi-join on band_hash and a window, both satisfied by
        # the bucketed layout's band_hash clustering; the plain path
        # shuffles the index there, so the bucketed plan has
        # equal-or-fewer…
        assert nb <= np_, (nb, np_)

        # …and a census by band key (the clustering the pair passes'
        # window needs too) must aggregate the bucketed band table WITHOUT
        # a shuffle (HashPartitioning(band_hash) satisfies the
        # (band_id, band_hash) clustering), while the plain path pays one
        from lsh_spark.operators.skew import bucket_census

        def census_exchanges(bands_df):
            df = bucket_census(bands_df, ["band_id", "band_hash"])
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            import re
            names = re.findall(r"\(\d+\) (\w+)", buf.getvalue())
            assert names
            return sum(1 for n in names if n == "Exchange")
        cb = census_exchanges(bstore.read_bucketed(spark, "band_buckets"))
        cp = census_exchanges(plain.read(spark, "band_buckets"))
        assert cb < cp, (cb, cp)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.slow
def test_cli_search_sees_ingested_delta_in_bucketed_index(spark, tmp_path):
    """`search` after `index --bucketed-index` and `ingest-delta` probes
    the committed bucketed index, delta included: a delta conv finds its
    planted partner in the base, and the search writes no stage."""
    from lsh_spark import synth
    base_p, delta_p = _split_fixture(spark, tmp_path)
    labels = spark.read.parquet(synth.dup_labels_path("t1")).collect()
    partners = {r["conv_id_b"] for r in labels}
    # the closest planted pair whose base side is in the index
    _, probe, partner = max(
        (r["jaccard_true"], r["conv_id_b"], r["conv_id_a"]) for r in labels
        if r["conv_id_a"] not in partners and r["mutation"] != "substring")
    ck = str(tmp_path / "ck")
    common = ["--checkpoint-dir", ck, "--cores", "4", "--num-perms", "16"]
    script = textwrap.dedent(f"""
        import json, os, sys; sys.path.insert(0, {REPO!r})
        from lsh_spark import cli

        def snapshot():
            return sorted((os.path.join(d, n), os.stat(os.path.join(d, n))
                           .st_mtime_ns) for d, _, ns in os.walk({ck!r})
                          for n in ns)
        cli.main(["index", "--transcripts", {base_p!r}, "--bucketed-index",
                  *{common!r}])
        cli.main(["ingest-delta", "--delta", {delta_p!r}, *{common!r}])
        before = snapshot()
        cli.main(["search", "--probe", {probe!r}, *{common!r}])
        print(json.dumps({{"store_unchanged": snapshot() == before}}))
    """)
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    res = subprocess.run([sys.executable, "-c", script], text=True,
                         capture_output=True, timeout=600, env=env)
    assert res.returncode == 0, res.stderr[-4000:]
    lines = [json.loads(ln) for ln in res.stdout.splitlines()
             if ln.startswith("{")]
    found = next(ln for ln in lines if ln.get("probe") == probe)
    assert partner in {r["neighbor_id"] for r in found["results"]}, found
    assert next(ln for ln in lines if "store_unchanged" in ln)[
        "store_unchanged"]
