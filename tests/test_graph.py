"""PageRank unit tests: hand-computed fixed point on a tiny graph, plus
the structural invariants (no dangling redistribution => mass < 1)."""

from __future__ import annotations

import pytest

from mongo_iceberg_lakehouse_spark.operators.graph import pagerank


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["pr"] for r in pagerank(df, **kw).collect()}


def test_pagerank_cycle_uniform(spark):
    # 3-cycle: every node has in/outdeg 1 -> uniform 1/3 is the fixed
    # point, and every iteration maps 1/3 -> 0.05 + 0.85*(1/3) ... which
    # converges toward 1/3; after any #iterations all nodes are EQUAL.
    r = _ranks(spark, [(1, 2), (2, 3), (3, 1)], iterations=4)
    vals = list(r.values())
    assert len(r) == 3
    assert max(vals) - min(vals) < 1e-12


def test_pagerank_star_hand_computed(spark):
    # 1->3, 2->3 with one iteration from uniform 1/3:
    #   r(1) = r(2) = 0.15/3                      (no in-edges)
    #   r(3) = 0.15/3 + 0.85*(1/3 + 1/3)
    r = _ranks(spark, [(1, 3), (2, 3)], iterations=1)
    assert r[1] == pytest.approx(0.15 / 3, abs=1e-12)
    assert r[2] == pytest.approx(0.15 / 3, abs=1e-12)
    assert r[3] == pytest.approx(0.15 / 3 + 0.85 * (2 / 3), abs=1e-12)


def test_pagerank_dangling_mass_leaks(spark):
    # 3 is a sink: its rank is never redistributed, total mass < 1.
    r = _ranks(spark, [(1, 3), (2, 3)], iterations=3)
    assert sum(r.values()) < 1.0


def test_pagerank_dedupes_and_drops_self_loops(spark):
    # Duplicate edge (1,3)x2 and self-loop (2,2) must not change outdeg
    # or contributions vs the clean graph.
    clean = _ranks(spark, [(1, 3), (2, 3)], iterations=2)
    dirty = _ranks(spark, [(1, 3), (1, 3), (2, 2), (2, 3)], iterations=2)
    assert clean == dirty


def _power_iteration(edges, iterations, damping=0.85):
    """Pure-Python twin of the documented recurrence
    r(v) = (1-d)/N + d * sum_{u->v} r(u)/outdeg(u), danglers leaking."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    r = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iterations):
        r = {
            v: (1 - damping) / len(nodes)
            + damping * sum(r[u] / outdeg[u] for u, w in edges if w == v)
            for v in nodes
        }
    return r


def test_pagerank_checkpointed_matches_power_iteration(spark):
    # 5 rounds cross both mid-loop lineage cuts (after rounds 2 and 4)
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    got = _ranks(spark, edges, iterations=5)
    want = _power_iteration(edges, iterations=5)
    assert got.keys() == want.keys()
    for n, pr in want.items():
        assert got[n] == pytest.approx(pr, abs=1e-12)


def test_triangle_count_k4(spark):
    from mongo_iceberg_lakehouse_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    df = spark.createDataFrame(k4, "src long, dst long")
    assert triangle_count(df).collect()[0]["triangles"] == 4


def test_triangle_count_square_no_diagonal(spark):
    from mongo_iceberg_lakehouse_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    assert triangle_count(df).collect()[0]["triangles"] == 0


def test_triangle_count_direction_and_dup_insensitive(spark):
    from mongo_iceberg_lakehouse_spark.operators.graph import triangle_count

    # Same triangle given with mixed directions, duplicates, a self-loop.
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2), (1, 3), (3, 3)], "src long, dst long"
    )
    assert triangle_count(df).collect()[0]["triangles"] == 1


def _communities(spark, edges, **kw):
    from mongo_iceberg_lakehouse_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["community"] for r in label_propagation(df, **kw).collect()}


def test_lpa_two_cliques_bridge(spark):
    # Two triangles joined by a single bridge 3-4: LPA separates them.
    # (Hand-traced through 4 synchronous rounds with min-label tie-break:
    # {1,2,3} -> 1 and {4,5,6} -> 3.)
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    c = _communities(spark, edges, iterations=4)
    assert c[1] == c[2] == c[3]
    assert c[4] == c[5] == c[6]
    assert c[1] != c[4]


def test_lpa_deterministic_and_direction_invariant(spark):
    # Edge direction must not matter (symmetrized internally), and two
    # runs must agree exactly (content-addressed tie-breaks, no RNG).
    e1 = [(1, 2), (2, 3), (3, 1), (4, 5)]
    e2 = [(2, 1), (3, 2), (1, 3), (5, 4)]
    assert _communities(spark, e1, iterations=3) == _communities(
        spark, e2, iterations=3
    )


def test_lpa_isolated_pair_oscillates_synchronously(spark):
    # Synchronous LPA on a bipartite pair oscillates (the textbook
    # property): one round swaps labels, two rounds restores them. The
    # operator is *fixed-iteration* by design, so this is deterministic
    # behavior, not a bug — callers pick an iteration count, and the
    # oracle unrolls the identical recurrence.
    assert _communities(spark, [(7, 9)], iterations=1) == {7: 9, 9: 7}
    assert _communities(spark, [(7, 9)], iterations=2) == {7: 7, 9: 9}


def test_bfs_frontier_levels_and_cap(spark):
    from mongo_iceberg_lakehouse_spark.operators.graph import bfs_levels

    # chain 1->2->3->4->5->6 with a shortcut 1->4
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_levels(e, seeds, max_hops=2).collect()}
    # shortcut wins for 4; 5 is reached via the shortcut at hop 2; 6 is
    # beyond the cap; 3 at hop 2.
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}


def test_bfs_seed_not_in_graph_is_dist_zero(spark):
    from mongo_iceberg_lakehouse_spark.operators.graph import bfs_levels

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,), (1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_levels(e, seeds, max_hops=3).collect()}
    assert got == {99: 0, 1: 0, 2: 1}


def test_connected_components_chain_and_islands(spark):
    # one 6-node chain (0-1-2-3-4-5), one triangle (10,11,12), one pair
    from mongo_iceberg_lakehouse_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (12, 10),
         (20, 21)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert {got[n] for n in (0, 1, 2, 3, 4, 5)} == {0}
    assert {got[n] for n in (10, 11, 12)} == {10}
    assert {got[n] for n in (20, 21)} == {20}


def test_connected_components_long_chain_log_rounds(spark):
    # a 200-node chain: pure hash-min needs ~200 rounds; pointer jumping
    # must close it inside the 30-round cap
    from mongo_iceberg_lakehouse_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    got = connected_components(edges, max_iter=30)
    comps = got.select("component").distinct().collect()
    assert [r["component"] for r in comps] == [0]
    assert got.count() == 201


def test_connected_components_direction_invariant(spark):
    from mongo_iceberg_lakehouse_spark.operators.graph import (
        connected_components,
    )

    fwd = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rev = spark.createDataFrame([(3, 2), (2, 1)], "src long, dst long")
    a = {(r["node"], r["component"]) for r in connected_components(fwd).collect()}
    b = {(r["node"], r["component"]) for r in connected_components(rev).collect()}
    assert a == b == {(1, 1), (2, 1), (3, 1)}
