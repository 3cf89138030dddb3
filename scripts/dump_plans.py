"""Dump .explain("formatted") for the headline queries into docs/PLANS.md —
the reviewed physical plans backing the scale claims (pushdown, broadcast,
partial aggregation, no cartesian products).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from mongo_iceberg_lakehouse_spark.queries import REGISTRY  # noqa: E402
from mongo_iceberg_lakehouse_spark.session import get_spark  # noqa: E402

SKIP = {"streaming_window_counts", "streaming_user_profiles"}  # streaming plans

# non-headline operators whose plan shape backs a specific scale claim
EXTRAS = [
    "user_longest_streak",
    "sequence_pattern_match",
    "sample_weighted_docs",
    "merge_on_read_orders",
    "snapshot_diff_orders",
    "incremental_gold_orders",
    "sketch_rollup_distinct",
    "dq_orders_report",
    "timeseries_gapfill_locf",
    "funnel_view_click_purchase",
    "docs_curation_decisions",
    "fuzzy_name_pairs_ed1",
    "market_basket_lift",
    "active_users_trailing_7d",
    "attribution_linear",
    "retention_cohort_weekly",
    "join_lateral_topk_orders",
    "spatial_radius_pairs",
    "text_bm25_topk",
    "ann_maxsim_multivector",
    "text_dup_ngram_spans",
    "governance_pseudonymized_rollup",
    "dedup_containment_pairs",
    "rag_context_assembly",
    "cohort_ltv_curve",
    "bitmap_week_overlap",
    "concurrency_by_hour",
    "embedding_covariance_matrix",
    "seq_training_examples",
    "governance_erasure_propagation",
    "quality_gopher_rules",
    "semdedup_embedding_prune",
    "tokenizer_bpe_pair_counts",
    "dedup_span_scrub",
    "dsir_importance_weights",
    "embedding_random_projection",
    "train_order_shards",
    "pack_sequences_chop",
    "feature_quantile_bins",
    "rank_fusion_rrf",
    "quality_fasttext_classifier",
    "embedding_outlier_filter",
    "quality_perplexity_buckets",
    "sample_cluster_balanced",
    "multimodal_image_ahash_dedup",
    "text_trigram_novelty",
    "tokenizer_fertility_by_lang",
    "embedding_drift_by_cohort",
    "pairs_hard_negatives",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-dump", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}` "
        "(Spark `explain('formatted')`, pre-AQE). Things to check per plan: "
        "`PushedFilters`/`ReadSchema` at the scans, `BroadcastHashJoin` for "
        "dims, partial+final `HashAggregate`, no `CartesianProduct`.",
        "",
    ]
    for name in [*HEADLINE, *EXTRAS]:
        if name in SKIP:
            continue
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    # Runtime bloom-filter pruning: same join, default plan vs injected filter
    from pyspark.sql import functions as F  # noqa: E402

    from mongo_iceberg_lakehouse_spark.plans.bloom import (  # noqa: E402
        bloom_join_confs,
        executed_plan,
    )

    def _bloom_join():
        part = spark.read.parquet(f"{sf_dir}/part.parquet").filter("p_size < 3")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_size")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    default_plan = executed_plan(_bloom_join())
    with bloom_join_confs(spark):
        bloom_plan = executed_plan(_bloom_join())
    out.append(
        "## bloom_filter_join_pruning (before/after)\n\n"
        "Selective dim filter (`p_size < 3`) on the build side; with the\n"
        "runtime bloom-filter confs the probe side gains a\n"
        "`might_contain(bloom_filter_agg(p_partkey))` predicate BELOW the\n"
        "shuffle — the fact table is pruned before the exchange, which at\n"
        "warehouse scale is the point.\n\n"
        f"Default (broadcast, no bloom):\n\n```\n{default_plan.strip()}\n```\n\n"
        f"With injection confs (shuffle join + bloom):\n\n```\n{bloom_plan.strip()}\n```\n"
    )
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote docs/PLANS.md with {len(out) - 4} plans")
    spark.stop()


if __name__ == "__main__":
    main()
