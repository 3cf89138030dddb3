"""Runtime Bloom-filter join pruning (Spark's injected semi-join filter).

When a selective filter sits on the build side of a shuffle join, Spark can
inject a ``bloom_filter_agg`` subquery on the filtered side and a
``might_contain`` predicate on the probe side — so the big fact table drops
non-joining rows *before* the shuffle instead of after it. At 100 TB this is
the difference between shuffling the whole fact table and shuffling only the
~selectivity fraction that can actually join.

The feature is config-driven, not plan-API-driven, so this module wraps the
conf dance: the thresholds default to cluster-scale values (creation side
< 10 MB, application side > 10 GB) that a local fixture never reaches;
``bloom_join_confs`` returns the overrides that make the optimizer treat the
fixture like a warehouse. Results are identical with or without the filter —
only the plan changes — which is what the test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf

BLOOM_CONFS = {
    # force a shuffle join: a broadcast join already prunes via the
    # broadcast-side hash table, so Spark (correctly) won't inject a bloom
    # filter under autoBroadcast — the feature targets SortMergeJoin
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # local fixtures are far below the 10 GB application-side default
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def bloom_join_confs(spark: SparkSession):
    """Temporarily apply the bloom-injection confs, restoring prior values
    (the engine session keeps broadcast joins on for everything else)."""
    return scoped_conf(spark, BLOOM_CONFS)


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_bloom_pruning(df: DataFrame) -> bool:
    """True when the physical plan probe side carries the injected
    ``might_contain(bloom_filter_agg(...))`` runtime filter."""
    plan = executed_plan(df)
    return "might_contain" in plan and "bloom_filter_agg" in plan
