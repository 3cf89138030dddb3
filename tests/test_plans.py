"""Physical-plan shape assertions — the 100 TB posture, enforced in CI.

These tests pin the plan properties that matter at scale: filters and
projections reaching the parquet scan, small dims broadcast, top-k planned as
TakeOrderedAndProject, and whole-stage codegen covering the hot path.
"""

from __future__ import annotations

from mongo_iceberg_lakehouse_spark.queries import REGISTRY

from .conftest import SF_SMOKE


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_and_projection_pushed_to_scan(spark):
    plan = _plan(spark, "filter_scan_pushdown")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: only the 5 referenced columns are read
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in readschema
    assert "l_extendedprice" in readschema


def test_q1_scan_prunes_columns(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # 7 of 11 lineitem columns needed
    assert "l_orderkey" not in readschema and "l_suppkey" not in readschema
    assert "l_quantity" in readschema and "l_tax" in readschema
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "join_broadcast_region_revenue", mode="simple")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_q3_broadcasts_filtered_dim(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark):
    plan = _plan(spark, "topk_orders", mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_q1_uses_whole_stage_codegen_and_partial_agg(spark):
    codegen = _plan(spark, "tpch_q1_pricing_summary", mode="codegen")
    assert "WholeStageCodegen" in codegen
    plan = _plan(spark, "tpch_q1_pricing_summary", mode="simple")
    # partial + final hash aggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2


def test_semi_anti_join_operators(spark):
    semi = _plan(spark, "join_left_semi", mode="simple")
    anti = _plan(spark, "join_left_anti", mode="simple")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_asof_join_has_no_cartesian(spark):
    plan = _plan(spark, "asof_join_purchase_view", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union + single window pass per key, not a range join
    assert "Window" in plan and "Union" in plan


def test_minhash_candidates_are_equi_join(spark):
    plan = _plan(spark, "dedup_minhash_lsh", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_window_no_cartesian(spark):
    plan = _plan(spark, "session_window_counts", mode="simple")
    assert "CartesianProduct" not in plan


def test_window_dedup_single_shuffle(spark):
    plan = _plan(spark, "window_dedup_latest", mode="simple")
    # one exchange for the window partitioning, nothing else
    assert plan.count("Exchange hashpartitioning") == 1


def test_join_strategy_hints_steer_physical_plan(spark):
    """The full join-strategy matrix is reachable via hints: broadcast,
    shuffle-hash, and sort-merge on the same logical join."""
    from .conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    j_bc = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in physical(j_bc)

    j_shj = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in physical(j_shj)

    j_smj = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in physical(j_smj)

    # results identical regardless of strategy
    n = j_bc.count()
    assert j_shj.count() == n and j_smj.count() == n


def test_random_projection_is_pure_narrow_map(spark):
    # JL projection must not shuffle: literal sign matrix + posexplode,
    # no Exchange, no join anywhere in the plan
    plan = _plan(spark, "embedding_random_projection", mode="simple")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_span_scrub_no_cartesian_and_pruned_scan(spark):
    plan = _plan(spark, "dedup_span_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # only doc_id + text are read from the documents scan
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in readschema and "source" not in readschema


def test_dsir_bucket_dict_is_broadcast(spark):
    # the 256-row log-ratio dictionary joins the doc-bucket counts as a
    # broadcast, never a shuffle join
    plan = _plan(spark, "dsir_importance_weights", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_assignment_has_no_window_sort(spark):
    # argmax assignment is a max_by partial agg, not a row_number window:
    # no Window operator may appear anywhere (semdedup_prune puts the
    # assignment behind a lazy localCheckpoint, so probe the step itself)
    from mongo_iceberg_lakehouse_spark.operators.similarity import (
        _semdedup_assign,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = (
        _semdedup_assign(e, 4, "vec_id", "embedding")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    assert "Window" not in plan
    assert "max_by" in plan


def test_neardup_topk_partial_topk_before_shuffle(spark):
    # Spark 4 plans the row_number<=k filter as WindowGroupLimit both
    # BEFORE and after the doc_id exchange: each task pre-prunes its
    # candidates to k per doc, so the rank-merge shuffle carries at most
    # k rows per (doc, task) — the local-topk + merge design realized by
    # the optimizer itself.
    plan = _plan(spark, "embedding_neardup_topk", mode="simple")
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_pii_redaction_is_zero_shuffle(spark):
    # PII scrub must stay a map-only codegen projection: no Exchange, no
    # Python evaluation anywhere in the plan.
    plan = _plan(spark, "text_pii_redaction", mode="simple")
    assert "Exchange" not in plan
    assert not any(s in plan for s in ("Python", "InPandas", "InArrow"))
    # the '*' prefix marks whole-stage-codegen'd nodes in formatted plans
    assert "* Project" in _plan(spark, "text_pii_redaction")


def test_codec_stage_spread_across_cores(spark):
    # The Python codec pipelines must not inherit the source file's 1-2
    # input splits (PERF_NOTES §8): a round-robin repartition sits below
    # the synth mapInArrow.
    plan = _plan(spark, "multimodal_png_pixels", mode="simple")
    assert "Exchange RoundRobinPartitioning" in plan
    assert plan.count("MapInArrow") == 2  # synth + decode, nothing more


def test_fasttext_classifier_is_pure_narrow_map(spark):
    # The hashed linear classifier must be one map stage: the token array
    # never explodes, the 128-weight table is a plan literal, and nothing
    # shuffles — the cheapest shape for a 100 TB classifier pass.
    plan = _plan(spark, "quality_fasttext_classifier", mode="simple")
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert not any(s in plan for s in ("Python", "InPandas", "InArrow"))


def test_embedding_outlier_no_corpus_window_or_cartesian(spark):
    # Group stats must come from map-side-combinable aggregations and ride
    # back as broadcasts — never a window over the 10-value label key
    # (that would collapse the corpus onto 10 partitions at scale).
    plan = _plan(spark, "embedding_outlier_filter", mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_cluster_balanced_sample_partial_topk(spark):
    # The per-cluster quota must pre-prune inside each task before the
    # cluster-id exchange (WindowGroupLimit), and assignment must ride a
    # broadcast of the bounded centroid set — never a cartesian.
    plan = _plan(spark, "sample_cluster_balanced", mode="simple")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_and_partial_topk(spark):
    # bounded query sample rides as a broadcast; the per-query top-k is
    # pre-pruned by WindowGroupLimit before the query_id exchange; the
    # label-mismatch join must not plan as a cartesian product
    plan = _plan(spark, "pairs_hard_negatives", mode="simple")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_erasure_propagation_broadcasts_victims(spark):
    # GDPR cascade: the bounded victim set must ride to every fact scan as
    # a broadcast (anti/semi joins) — a shuffled existence join would
    # re-partition the 100 TB orders fact to delete 1/16 of customers.
    # The BroadcastNestedLoopJoin is the final 1-row scalar assembly, not
    # a data-sized product.
    plan = _plan(spark, "governance_erasure_propagation", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_twap_single_user_shuffle(spark):
    # Time-weighted average price: ONE hash exchange on user_id feeds both
    # the ordered interval window and the final per-user aggregate — the
    # agg must reuse the window's partitioning, never re-shuffle.
    plan = _plan(spark, "timeseries_twap_user", mode="simple")
    import re

    user_exchanges = len(re.findall(r"hashpartitioning\(user_id", plan))
    assert user_exchanges == 1, plan
    assert "CartesianProduct" not in plan


def test_drift_windows_only_on_bounded_aggregate(spark):
    # PSI/KS: the raw orders table must collapse through ONE map-side-
    # combinable aggregation to <=1000 bin rows; every Window/global sort
    # runs after that collapse. A Window keyed on the raw table would be
    # the single-partition scale-killer.
    for name in ("drift_psi_order_price", "drift_ks_order_price"):
        plan = _plan(spark, name, mode="formatted")
        # partial+final pair over the big scan
        assert plan.count("HashAggregate") >= 2, name
        # the Window operators sit above the aggregate (the formatted
        # plan lists children after parents: the first Window index must
        # come after the first HashAggregate index in tree order)
        assert "Window" in plan, name
        assert "CartesianProduct" not in plan, name


def test_rollup_tail_unions_sealed_and_raw(spark):
    # rollup + hot tail: the sealed side reads the materialized (bounded)
    # rollup, the raw side re-aggregates ONLY the tail scan — both sides
    # partial-aggregate before the union's final agg.
    plan = _plan(spark, "hypertable_rollup_tail", mode="simple")
    assert "Union" in plan
    assert "CartesianProduct" not in plan


def test_sentence_split_udtf_is_narrow(spark):
    # UDTF surface: the generator must run as a narrow per-partition op —
    # no exchange between the documents scan and the UDTF eval.
    plan = _plan(spark, "udtf_sentence_split", mode="simple")
    assert "CartesianProduct" not in plan


# --- round-10 window entrants: plan shapes pinned at rotation time ---------


def test_q18_all_joins_equi_no_nested_loop(spark):
    # customer x orders x lineitem with a sum-qty HAVING subquery: every
    # join must plan as an equi join (broadcast or sort-merge — AQE picks
    # by size); any nested-loop/cartesian here is quadratic at 100 TB
    plan = _plan(spark, "tpch_q18_large_orders", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cogroup_pairs_one_exchange_per_side(spark):
    # applyInArrow cogroup: exactly one hash-partitioning per input side
    # feeding a single FlatMapCoGroupsInArrow — the minimal-shuffle
    # shape for keyed pair assembly. Arrow, not pandas: per-group pandas
    # conversion dominated the operator at thousands-of-small-groups
    # shapes (r10 opt round A/B: trivial-kernel 4.6 s -> 0.6 s at sf0.1)
    plan = _plan(spark, "cogroup_view_click_pairs", mode="simple")
    assert plan.count("FlatMapCoGroupsInArrow") == 1
    assert plan.count("Exchange") == 2
    assert "CartesianProduct" not in plan


def test_decontaminate_is_equi_join(spark):
    # train/test n-gram overlap must be an equi join on the gram key,
    # never an all-pairs comparison
    plan = _plan(spark, "decontaminate_ngram_overlap", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_stratified_sample_single_shuffle(spark):
    # content-addressed md5 thresholds are a NARROW filter: the only
    # exchange is the final per-stratum aggregate
    plan = _plan(spark, "sample_stratified_events", mode="simple")
    assert plan.count("Exchange") == 1


def test_pack_batches_nested_loop_is_scalar_contract_only(spark):
    # the one nested-loop join is the 1-row x 1-row contract cross
    # (source totals x packed totals); the packing itself must stay
    # cartesian-free
    plan = _plan(spark, "pack_token_batches", mode="simple")
    assert plan.count("BroadcastNestedLoop") == 1
    assert "CartesianProduct" not in plan
