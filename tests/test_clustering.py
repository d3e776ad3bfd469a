"""Distributed connected-components tests (replaces reference driver DFS,
src/clustering.py:6-54)."""

import random

import pytest

from pyspark_entity_resolution_spark.operators.clustering import (
    cluster_matched_pairs,
    connected_components,
)


def _components_as_partitions(rows):
    from collections import defaultdict

    groups = defaultdict(set)
    for r in rows:
        groups[r["component"]].add(r["node"])
    return {frozenset(g) for g in groups.values()}


def test_chain_and_fanout(spark):
    # chain a-b-c-d plus fan-out e-{f,g}, isolated pair h-i
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("e", "g"), ("h", "i")],
        ["src", "dst"],
    )
    got = _components_as_partitions(connected_components(edges).collect())
    assert got == {
        frozenset({"a", "b", "c", "d"}),
        frozenset({"e", "f", "g"}),
        frozenset({"h", "i"}),
    }


def test_long_chain_converges(spark):
    # a 40-node path: the worst case for label propagation (diameter 40);
    # the reference's recursive DFS would be fine here but crashes at
    # recursion depth ~1000 — ours is bounded by iterations, not depth.
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    rows = connected_components(edges, max_iterations=64).collect()
    comps = {r["component"] for r in rows}
    assert comps == {"n000"}  # min label wins
    assert len(rows) == n + 1


def test_cycle(spark):
    edges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x")], ["src", "dst"]
    )
    got = _components_as_partitions(connected_components(edges).collect())
    assert got == {frozenset({"x", "y", "z"})}


def test_cluster_matched_pairs_namespacing(spark):
    # same numeric id on both sides must NOT merge (distinct datasets)
    matches = spark.createDataFrame(
        [(1, 1), (2, 3)], ["a_id", "b_id"]
    )
    rows = cluster_matched_pairs(matches, "a_id", "b_id").collect()
    from collections import defaultdict

    groups = defaultdict(set)
    for r in rows:
        groups[r["cluster_id"]].add((r["df_name"], r["id"]))
    parts = {frozenset(g) for g in groups.values()}
    assert parts == {
        frozenset({("a", "1"), ("b", "1")}),
        frozenset({("a", "2"), ("b", "3")}),
    }


def test_explicit_checkpoint_storage_and_probes(spark):
    """checkpoint_storage overrides the memory-aware choice without
    changing results, and the storage probes the choice rests on return
    sane values on a materialized checkpoint (real footprint > 0, real
    heap > 0) — if either probe ever breaks, the demotion heuristic
    silently degrades to always-DISK_ONLY on huge graphs, a measured
    ~1.3x wall-clock loss on big heaps."""
    from pyspark import StorageLevel

    from pyspark_entity_resolution_spark.operators.clustering import (
        _checkpoint_bytes,
        _jvm_max_heap,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    got = _components_as_partitions(
        connected_components(
            edges, checkpoint_storage=StorageLevel.DISK_ONLY
        ).collect()
    )
    assert got == {frozenset({"a", "b", "c"}), frozenset({"x", "y"})}

    ck = edges.localCheckpoint()
    ck.count()
    assert (_checkpoint_bytes(ck) or 0) > 0
    ck.unpersist()
    assert (_jvm_max_heap(spark) or 0) > 0


def test_round_stats_diagnostic_records_every_round(spark):
    """LAST_RUN_ROUND_STATS (r9, feeding the century-cc probe's
    per-round decomposition): one entry per executed round, seconds
    positive, edge counts non-increasing after the first star pass
    settles, and the final round is the probed one that converged."""
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.operators import clustering

    edges = spark.range(2000).select(
        (F.abs(F.xxhash64("id")) % 600).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 600).alias("dst"),
    )
    clustering.connected_components(edges).count()
    stats = clustering.LAST_RUN_ROUND_STATS
    assert stats, "no rounds recorded"
    assert all(s["sec"] > 0 for s in stats)
    assert all(isinstance(s["edges"], int) for s in stats)
    assert stats[-1]["probed"] is True  # converged via the gated probe
    # a fresh call replaces the sink (last call wins)
    clustering.connected_components(
        spark.createDataFrame([(1, 2)], "src long, dst long")
    ).count()
    assert clustering.LAST_RUN_ROUND_STATS is not stats


def test_self_loop_only_nodes_label_as_singletons(spark):
    """r10: singleton recovery switched from an all-nodes anti-join to
    the self-loop-only set — nodes whose EVERY edge is a self-loop must
    still come back as their own component, nodes with both a self-loop
    and a real edge must not be double-labeled, and a pure
    no-self-loop input must cover every node (the empty-selfs fast
    path)."""
    from pyspark_entity_resolution_spark.operators.clustering import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (900, 900), (900, 900), (901, 901), (3, 3)],
        ["src", "dst"],
    )
    got = {(r.node, r.component)
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (900, 900), (901, 901)}
    # empty-selfs fast path: all nodes labeled, no singleton branch
    edges2 = spark.createDataFrame([(1, 2), (4, 5)], ["src", "dst"])
    got2 = {(r.node, r.component)
            for r in connected_components(edges2).collect()}
    assert got2 == {(1, 1), (2, 1), (4, 4), (5, 4)}


def _union_find_labels(rows):
    """Pure-Python oracle: {(node, min member of its component)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def _multigraph_loops_and_dups():
    rng = random.Random(99)
    rows = [(rng.randrange(300), rng.randrange(300)) for _ in range(700)]
    rows += [(5, 5), (7, 7), (10, 20), (10, 20), (20, 10)]
    return rows, "src long, dst long"


def _dup4_shuffled():
    rng = random.Random(7)
    distinct = [(rng.randrange(300), rng.randrange(300)) for _ in range(200)]
    rows = distinct * 4
    rng.shuffle(rows)
    return rows, "src long, dst long"


def _self_loop_heavy():
    rng = random.Random(3)
    rows = [(rng.randrange(150), rng.randrange(150)) for _ in range(60)]
    rows += [(n, n) for n in range(100, 260)] * 2
    rng.shuffle(rows)
    return rows, "src long, dst long"


def _chain_200():
    # alternate edge direction so neither star sees a uniform orientation
    rows = [(i, i + 1) if i % 2 else (i + 1, i) for i in range(199)]
    return rows, "src long, dst long"


def _string_namespaced():
    rng = random.Random(11)
    rows = [(f"a:{rng.randrange(40)}", f"b:{rng.randrange(40)}")
            for _ in range(50)]
    rows += [("a:1", "b:2"), ("b:2", "a:3"), ("a:9", "b:9"), ("a:10", "a:10")]
    return rows, "src string, dst string"


def _empty():
    return [], "src long, dst long"


@pytest.mark.parametrize(
    "graph",
    [_multigraph_loops_and_dups, _dup4_shuffled, _self_loop_heavy,
     _chain_200, _string_namespaced, _empty],
    ids=lambda g: g.__name__.lstrip("_"),
)
def test_labels_match_union_find_oracle(spark, graph):
    """Exact (node, component = min member) rows against union-find on
    adversarial graphs: duplicate edges in both directions, self-loops
    (including self-loop-only nodes), a long chain, string keys whose
    order is not numeric order, and no edges at all."""
    rows, schema = graph()
    edges = spark.createDataFrame(rows, schema)
    got = [(r.node, r.component)
           for r in connected_components(edges).collect()]
    assert len(got) == len(set(got)), "a node was labeled twice"
    assert set(got) == _union_find_labels(rows)


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_zero_iterations_releases_every_checkpoint(spark):
    """With max_iterations=0 no round ever materializes, so the raw edge
    checkpoint and the self-loop set must still be released on the way
    out; only the returned labeling stays persisted."""
    from pyspark_entity_resolution_spark.operators.clustering import (
        _release_checkpoint,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 4)], "src long, dst long"
    )
    before = _persisted_rdd_ids(spark)
    out = connected_components(edges, max_iterations=0)
    _release_checkpoint(out)
    assert _persisted_rdd_ids(spark) - before == set()


def test_failed_round_releases_every_checkpoint(spark, monkeypatch):
    """An exception inside the star rounds must not strand the raw edge
    checkpoint or the self-loop set."""
    from pyspark_entity_resolution_spark.operators import clustering as C

    def boom(*args, **kwargs):
        raise RuntimeError("round failed")

    monkeypatch.setattr(C, "_round_step", boom)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 4)], "src long, dst long"
    )
    before = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="round failed"):
        connected_components(edges)
    assert _persisted_rdd_ids(spark) - before == set()
