"""Connected components + survivor selection over near-dup pairs."""

from __future__ import annotations

from mongo_iceberg_lakehouse_spark.operators.dedup import dedup_survivors
from mongo_iceberg_lakehouse_spark.operators.graph import connected_components


def _components(pairs):
    out = connected_components(pairs, src="id_a", dst="id_b").collect()
    return {r.node: r.component for r in out}


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    comp = _components(pairs)
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dedup_survivors_keeps_min_and_unpaired(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    out = sorted(r.doc_id for r in dedup_survivors(docs, pairs).collect())
    # one survivor per cluster (min id) + the unpaired doc 99
    assert out == [1, 10, 20, 99]


def test_components_converges_on_long_chain(spark):
    # a 40-node chain stresses the iteration count (min label must travel
    # the full diameter)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    comp = _components(pairs)
    assert set(comp.values()) == {0}
    assert len(comp) == 41


def test_survivors_by_quality_keeps_best_per_cluster(spark):
    from mongo_iceberg_lakehouse_spark.operators.dedup import (
        dedup_survivors_by_quality,
    )

    # cluster {1,2,3} (chain), cluster {10,11}, singleton 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    rows = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0), (10, 1.0), (11, 1.0), (99, 0.0)],
        "doc_id long, score double",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in dedup_survivors_by_quality(rows, pairs, "score").collect()
    }
    # best of {1,2,3} is 2; {10,11} ties on score -> min id 10; singleton kept
    assert got == {2: 9.0, 10: 1.0, 99: 0.0}


def test_empty_pairs_keep_every_row(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert _components(pairs) == {}
    out = sorted(r.doc_id for r in dedup_survivors(docs, pairs).collect())
    assert out == [1, 2, 3]
