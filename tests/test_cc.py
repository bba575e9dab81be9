"""Connected components: known graphs → known components."""

from __future__ import annotations

import pytest

from lsh_spark.operators.connected_components import (
    clusters_with_members, connected_components)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    return {r["doc_id"]: r["cluster_id"]
            for r in connected_components(df).collect()}


def test_two_components(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_chain_graph_converges(spark):
    """Worst-case diameter: a long path must still converge (hash-min
    propagates one hop per iteration through the min side, but the least
    label flows transitively via localCheckpoint'd iterations)."""
    n = 24
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n00"}
    assert len(got) == n + 1


def test_no_edges(spark):
    """An empty edge set labels nothing: the edge-count observation is
    filled by the empty materialization, so the loop never blocks on it."""
    assert _cc(spark, []) == {}


def test_cycle_and_duplicate_edges(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "a")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_cluster_summary(spark):
    df = spark.createDataFrame([("a", "b"), ("x", "y"), ("y", "z")],
                               "doc_a string, doc_b string")
    labels = connected_components(df)
    summary = {r["cluster_id"]: (r["members"], r["size"])
               for r in clusters_with_members(labels).collect()}
    assert summary["a"] == (["a", "b"], 2)
    assert summary["x"] == (["x", "y", "z"], 3)


def _path(n):
    return [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n - 1)]


def test_chain_raises_without_convergence(spark):
    """64-node path (diameter 63): labels move one hop per iteration, so
    max_iter=8 cannot reach the fixed point and must raise rather than
    return wrong labels; the default budget labels the whole path."""
    df = spark.createDataFrame(_path(64), "doc_a string, doc_b string")
    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components(df, max_iter=8)
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert set(got.values()) == {"n00"}
    assert len(got) == 64


def test_resume_from_converged_iteration(spark, tmp_path):
    """A resume whose last committed iteration is already the fixed point
    re-checks it and returns its labels, even when the committed run used
    up max_iter."""
    from lsh_spark.plans.checkpoint import CheckpointStore
    df = spark.createDataFrame(_path(4), "doc_a string, doc_b string")
    store = CheckpointStore(str(tmp_path / "ck"))
    first = {r["doc_id"]: r["cluster_id"]
             for r in connected_components(df, store=store).collect()}
    committed = sorted(int(d.name.removeprefix("cc_iter"))
                       for d in (tmp_path / "ck").iterdir()
                       if d.name.startswith("cc_iter"))
    resumed = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(
                   df, store=store, max_iter=committed[-1]).collect()}
    assert first == resumed == {f"n{i:02d}": "n00" for i in range(4)}
