"""Duplicate-cluster connected components: min-label propagation must
converge across multi-hop chains (not just star components) and leave
disjoint components separate."""

from ocr_intern_spark.operators.dedup import connected_components


def test_chain_ring_and_disjoint(spark):
    # chain d1-d2-d3-d4 (3 hops), ring d5-d6-d7-d5, pair d8-d9
    pairs = spark.createDataFrame(
        [("d2", "d3"), ("d1", "d2"), ("d3", "d4"),
         ("d5", "d6"), ("d6", "d7"), ("d5", "d7"),
         ("d8", "d9")],
        "a string, b string",
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {
        "d1": "d1", "d2": "d1", "d3": "d1", "d4": "d1",
        "d5": "d5", "d6": "d5", "d7": "d5",
        "d8": "d8", "d9": "d8",
    }


def test_nonconvergence_raises(spark):
    """A component whose diameter exceeds max_rounds must RAISE, not
    silently emit partial labels (round-1 ADVICE)."""
    import pytest

    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    pairs = spark.createDataFrame(chain, "a string, b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_rounds=2)
    # and with enough rounds the same graph converges to one cluster
    got = {r["cluster_id"] for r in connected_components(pairs, max_rounds=10).collect()}
    assert got == {"n0"}


def _union_find_min_labels(edges):
    """Reference labelling: each node maps to its component's minimum."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_propagation_matches_union_find_on_random_graph(spark):
    """Min-label propagation must produce the same cluster map as a
    union-find on a seeded random graph (60 nodes, chains + rings +
    isolates-in-pairs)."""
    import random

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(60)]
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(0, 18)]  # long chain
    edges += [(nodes[rng.randrange(20, 60)], nodes[rng.randrange(20, 60)])
              for _ in range(50)]
    edges = [e for e in edges if e[0] != e[1]]
    pairs = spark.createDataFrame(edges, "a string, b string")

    prop = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs, max_rounds=40).collect()}
    assert prop == _union_find_min_labels(edges)
    assert prop["n18"] == "n00"  # chain end reaches the component min
