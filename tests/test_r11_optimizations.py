"""Focused regression tests for the round-11 optimization changes.

1. Iterative graph loops pin a bounded number of blocks per run
   (VERDICT r10 item 7 / ADVICE r10): only their localCheckpoint frames
   (the stored edge tables and the mid-loop lineage cuts) may remain, and
   no operator leaves an entry in the session's cache manager.
2. _pair_value_join's broadcast path reunites on the SAME exchange it
   spreads on (hash(id_a,id_b), not round-robin + second shuffle).
3. The ann/maintenance parity booleans compute inside the returned plan
   (not as construction-time literals from eager exceptAll counts).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.operators.dedup import _pair_value_join
from mongo_iceberg_lakehouse_spark.operators.graph import (
    bfs_levels,
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from mongo_iceberg_lakehouse_spark.plans.medallion import (
    bronze_ingest,
    run_pipeline,
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _clear(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


@pytest.fixture()
def edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7)], "src long, dst long"
    )


def test_graph_loops_release_caches(spark, edges):
    # Per-run pinned-block budget: ONLY the localCheckpoint frames the
    # returned result needs (mid-loop + final) may remain. The old code
    # additionally leaked the persisted symmetric-edge / node / edge-table
    # caches (LPA +1, pagerank +2, bfs +1 per invocation).
    _clear(spark)
    label_propagation(edges, iterations=4).count()
    assert _n_persistent(spark) <= 2  # mid ckpt + final ckpt, no nbr

    _clear(spark)
    pagerank(edges, iterations=5).count()
    # lazy edge ckpt + 2 mid ckpts + final ckpt, no nodes/ee
    assert _n_persistent(spark) <= 4

    _clear(spark)
    seeds = spark.createDataFrame([(1,)], "node long")
    bfs_levels(edges, seeds, max_hops=4).count()
    assert _n_persistent(spark) <= 3  # mid dist/frontier + final, no e
    _clear(spark)


def test_shared_frames_leave_no_cache_entries(spark, edges, orders_json_path):
    # A frame is shared by localCheckpoint, never by persist/cache, so no
    # operator leaves a CacheManager entry behind in the caller's session.
    spark.catalog.clearCache()
    seeds = spark.createDataFrame([(1,)], "node long")
    runs = [
        pagerank(edges, iterations=3),
        triangle_count(edges),
        label_propagation(edges, iterations=3),
        connected_components(edges),
        bfs_levels(edges, seeds, max_hops=3),
        bronze_ingest(spark, orders_json_path),
        *run_pipeline(spark, orders_json_path).values(),
    ]
    for df in runs:
        df.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pair_value_join_reunites_on_spread_exchange(spark):
    src = spark.createDataFrame(
        [(i, f"text {i} {'x' * (i % 5)}") for i in range(20)],
        "id long, text string",
    )
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    df = _pair_value_join(
        src, "id", "text", cand, [lambda c: F.length(c)], par=4
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # the spread exchange IS the reunite exchange: hash(id_a, id_b), and
    # no round-robin (whose sort-before-repartition + second shuffle the
    # r11 rewrite removed)
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("Exchange hashpartitioning(id_a") == 1


def test_parity_booleans_compute_in_plan(spark):
    from mongo_iceberg_lakehouse_spark.queries import REGISTRY

    sf_dir = "/root/testdata/sf0.001"

    for name, col in (
        ("ann_ivf_pretrained", "pretrained_matches_inline"),
        ("maintenance_compact_small_files", "content_identical"),
    ):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # the boolean is an expression over the in-plan difference counts,
        # not a constant folded from construction-time actions
        assert "__d_ab" in plan and "__d_ba" in plan, name
        row = df.collect()[0]
        assert row[col] is True, name
