"""duplicate_clusters unit vectors: multi-hop chains must converge to one
component (the property the per-pair relation alone doesn't give you)."""

from __future__ import annotations

import pytest


# the one param keeps the ``[propagate]`` test ids of the cases
@pytest.fixture(params=["propagate"])
def duplicate_clusters(request):
    from rangebar_patterns_spark.operators import dedup

    return dedup.duplicate_clusters


def test_chain_and_island(spark, duplicate_clusters):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5), (9, 8)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: (r.cluster_rep, r.is_rep, r.cluster_size)
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {
        1: (1, True, 4),
        2: (1, False, 4),
        3: (1, False, 4),
        4: (1, False, 4),
        5: (5, True, 2),
        6: (5, False, 2),
        8: (8, True, 2),
        9: (8, False, 2),
    }


def test_deep_chain_multi_partition(spark, duplicate_clusters):
    """A 9-hop chain (diameter 9 > 3 rounds) must still converge to one
    component with a non-1 partition count — the scale configuration."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "doc_a long, doc_b long"
    )
    rows = duplicate_clusters(pairs, num_partitions=4).collect()
    assert {r.cluster_rep for r in rows} == {1}
    assert all(r.cluster_size == 10 for r in rows)
    assert sum(r.is_rep for r in rows) == 1


def test_non_convergence_raises(spark, duplicate_clusters):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=1)


def test_triangle_single_round(spark, duplicate_clusters):
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (10, 12)], "doc_a long, doc_b long"
    )
    rows = duplicate_clusters(pairs).collect()
    assert {r.cluster_rep for r in rows} == {10}
    assert all(r.cluster_size == 3 for r in rows)


def test_random_graphs_match_union_find(spark, duplicate_clusters):
    """Fuzz the distributed min-label propagation against a plain
    union-find over seeded random graphs (mixed densities: sparse
    forests through near-cliques).  One Spark call per graph, reference
    computed in-process — checks representative choice (component
    minimum), cluster sizes, and exactly one rep per cluster."""
    import numpy as np

    rng = np.random.default_rng(123)
    for n_nodes, n_edges in [(30, 15), (60, 80), (25, 200), (80, 40)]:
        a = rng.integers(0, n_nodes, size=n_edges)
        b = rng.integers(0, n_nodes, size=n_edges)
        edges = [(int(x) + 1, int(y) + 1) for x, y in zip(a, b) if x != y]
        if not edges:
            continue

        parent = list(range(n_nodes + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in edges:
            parent[find(x)] = find(y)
        comp: dict[int, list[int]] = {}
        for v in {v for e in edges for v in e}:
            comp.setdefault(find(v), []).append(v)
        want = {}
        for members in comp.values():
            rep = min(members)
            for v in members:
                want[v] = (rep, len(members), v == rep)

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: (r.cluster_rep, r.cluster_size, bool(r.is_rep))
            for r in duplicate_clusters(pairs).collect()
        }
        assert got == want, f"graph({n_nodes},{n_edges}) mismatch"
