"""Guards for the two Catalyst evaluation pathologies fixed in round 3.

1. ``let_`` (functions/expr.py): lambda-interior references to a computed
   array re-evaluate it per element (no CSE inside HOF lambdas) — O(L^2)
   for shingling. let_ must be semantically transparent (same values,
   null-safe) while binding the value once.
2. ``InferFiltersFromGenerate``: a plain ``explode`` over a computed array
   adds a size()>0 predicate whose alias substitution INLINES the array
   expression into a Filter, evaluating the whole pipeline twice per row.
   The near-dup operators use ``explode_outer`` (semantics identical for
   non-empty-by-construction arrays); these tests pin that the optimized
   plans stay free of the re-inlined filter so a refactor back to plain
   explode fails CI instead of silently costing 2-20x.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.functions.expr import let_
from mongo_iceberg_lakehouse_spark.queries import REGISTRY

from .conftest import SF_SMOKE


def test_let_is_semantically_transparent(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("x y",), ("",), (None,)], "text string"
    )
    arr = F.filter(F.split("text", " "), lambda t: t != "")
    bound = df.select(
        let_(arr, lambda a: F.size(a) + F.size(a)).alias("v")
    ).collect()
    plain = df.select((F.size(arr) + F.size(arr)).alias("v")).collect()
    assert [r["v"] for r in bound] == [r["v"] for r in plain]


def test_let_binds_inside_nested_lambdas(spark):
    # the round-3 shingling shape: per-element F.get into a bound array
    df = spark.createDataFrame([("p q r s t",)], "text string")
    th = F.transform(
        F.filter(F.split("text", " "), lambda t: t != ""),
        lambda t: F.length(t),
    )

    def grams(a):
        return F.transform(
            F.sequence(F.lit(0), F.size(a) - 2),
            lambda i: F.get(a, i) + F.get(a, i + 1),
        )

    got = df.select(let_(th, grams).alias("g")).collect()[0]["g"]
    assert got == [2, 2, 2, 2]  # pairwise sums of [1,1,1,1,1]


def _optimized(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_generate_filter_reinline_in_neardup_plans(spark):
    """The optimized plans must not contain a Filter evaluating
    size(<full shingle/signature pipeline>) — the InferFiltersFromGenerate
    re-inline. Detector: no `Filter` line containing both size( and a
    token-hash call — xxhash64( for the engine-internal pipelines, md5(
    for dedup_simhash's portable-hash path (the inlined pipelines always
    hash; legitimate residual filters on these plans are size-free or
    hash-free)."""
    for name in (
        "dedup_containment_pairs",
        "dedup_jaccard_exact_pairs",
        "dedup_cross_corpus_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
    ):
        plan = _optimized(spark, name)
        bad = [
            ln
            for ln in plan.splitlines()
            if ln.lstrip().startswith(("Filter", "+- Filter"))
            and "size(" in ln
            and ("xxhash64(" in ln or "md5(" in ln)
        ]
        assert not bad, f"{name}: re-inlined generate filter: {bad[0][:200]}"
