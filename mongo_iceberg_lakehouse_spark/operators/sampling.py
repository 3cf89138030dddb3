"""Dataset splitting / sampling operators for training-data pipelines.

A training pipeline needs reproducible, *content-addressed* splits: the same
row must land in the same split on every run, on every engine, regardless of
partitioning, row order, or cluster size. Seeded `df.sample()` can't promise
that (it's tied to partition layout), so the canonical operator here hashes a
stable id column instead — a pure narrow map, no shuffle, no state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import spread


def hash_split_column(
    id_col: Column | str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
) -> Column:
    """Deterministic split label from md5(id): the first 4 hex chars of the
    digest partition [0, 65536) by cumulative fraction; the comparison is on
    the hex *string* (lexicographic == numeric for fixed-width lowercase
    hex), so any engine with a standard md5 reproduces the assignment
    bit-for-bit. Fractions are quantized to 1/65536.
    """
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    prefix = F.substring(F.md5(F.col(id_col).cast("string") if isinstance(id_col, str) else id_col.cast("string")), 1, 4)
    expr = None
    cum = 0.0
    for name, frac in splits[:-1]:
        cum += frac
        cut = format(min(int(cum * 65536), 65535), "04x")
        cond = prefix < F.lit(cut)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    return (F.lit(last) if expr is None else expr.otherwise(last)).alias("split")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum subsample (``sampleBy`` without its
    partition-layout dependence): a row is kept iff the first 4 hex chars of
    md5(id) sort below its stratum's fraction threshold. Content-addressed,
    so the kept set is identical across runs, engines, and repartitions —
    which seeded ``df.sample``/``sampleBy`` cannot promise. Pure narrow
    filter, no shuffle.

    ``fractions`` maps stratum value -> keep fraction (quantized to
    1/65536); strata not listed use ``default``. A fraction >= 1 keeps the
    whole stratum (threshold "g" sorts above every hex prefix).
    """

    def cut(frac: float) -> str:
        if frac >= 1.0:
            return "g"
        return format(max(int(frac * 65536), 0), "04x")

    expr = None
    for stratum, frac in fractions.items():
        cond = F.col(stratum_col) == stratum
        lit = F.lit(cut(frac))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    thresh = F.lit(cut(default)) if expr is None else expr.otherwise(F.lit(cut(default)))
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    return df.filter(prefix < thresh)


def weighted_sample_ares(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis-Spirakis
    A-Res): each row gets key = ln(u) / w with u a content-addressed uniform
    from md5(id), and the k largest keys win — inclusion probability is
    proportional to weight, the selection is reproducible across runs /
    engines / partitionings, and ``orderBy().limit(k)`` plans as
    TakeOrderedAndProject (per-partition heaps + one merge of k rows, no
    global sort shuffle). Narrow map + top-k: survives any scale.

    u = (int(md5[:13 hex]) + 1) / 2^52 in (0, 1] — 52 bits so the double is
    exact; ln(u) <= 0, so dividing by a larger weight pulls the key toward 0
    (the maximum). Ties (impossible in practice) break on id.
    """
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / float(1 << 52)
    key = F.log(u) / F.greatest(wcol.cast("double"), F.lit(1.0))
    return (
        df.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(k)
        .drop("__key")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
) -> DataFrame:
    """Attach a deterministic ``split`` column (see ``hash_split_column``).
    Narrow map only — safe at any scale, no shuffle."""
    return df.withColumn("split", hash_split_column(id_col, splits))


def take_to_budget(
    df: DataFrame,
    group: str,
    size_col: str,
    budgets: DataFrame,
    order_key: Column,
) -> DataFrame:
    """Per-group prefix selection to a size budget: order each group by
    ``order_key`` (content-addressed => layout-independent), keep rows
    while the group's cumulative ``size_col`` BEFORE the row is under its
    budget (so the boundary-crossing row is kept, never skipped — a
    budget is a floor, not a ceiling, for training-mix construction).

    ``budgets`` is a (group, budget) DataFrame — computed upstream, e.g.
    total_tokens * weight / sum(weights) — broadcast-joined here (one
    row per group). The selection itself is a single window cumsum over
    the group shuffle; no driver-side iteration, no second pass.
    """
    w = Window.partitionBy(group).orderBy(order_key)
    return (
        df.join(F.broadcast(budgets), group)
        .withColumn("__cum", F.sum(size_col).over(w))
        .where(F.col("__cum") - F.col(size_col) < F.col("budget"))
        .drop("__cum", "budget")
    )


def dsir_importance(
    df: DataFrame,
    target_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") over hashed n-gram
    features.

    Each document's weight is the log-likelihood ratio of its hashed
    unigram+bigram features under the *target* distribution (rows matching
    ``target_filter`` — e.g. a trusted domain) vs the *raw* corpus
    distribution, Laplace-smoothed. Docs whose feature mix looks like the
    target float up; selection is then top-k / thresholding downstream.

    Order-independent, and engine-portable up to one caveat:
      - the feature hash is md5-prefix mod ``n_buckets`` (any engine's md5
        reproduces the bucketing bit-for-bit — same trick as
        hash_split_column);
      - per-bucket log-ratios are quantized to integer MICRO-UNITS once
        (a ``n_buckets``-row table), and each doc's weight is
        sum(count x micro-ratio) in BIGINT — exact integer arithmetic, so
        partial-agg combine order can never move a .6g digit (the repo's
        knife-edge discipline).
      - CAVEAT: the quantization itself evaluates floor(1e6 * (log a -
        log b)). IEEE-754 ``log`` is not required to be correctly rounded,
        so two engines' libm may disagree by an ulp; a bucket ratio
        landing *within an ulp of a micro-unit boundary* could then flip
        one dictionary entry between engines. Downstream arithmetic is
        exact either way; cross-engine bit-stability holds only while no
        bucket sits on such a knife edge (``scripts/run.py --stress``
        checks the shipped fixtures; guaranteed bit-stability would need a
        log-free formulation, e.g. comparing scaled integer ratios).

    Plan: one explode pass builds (doc, bucket) counts (shuffle on the
    8-byte bucketed key, map-side combinable); the bucket dictionary is
    two tiny aggregates (n_buckets rows) broadcast back; the weight is one
    more groupBy(doc). Nothing driver-side, nothing all-pairs; at 100 TB
    every shuffle key is bounded (bucket ids) or the doc id.
    """
    # CPU-bound feature hashing: spread across cores even when the source
    # is one input split
    df = spread(df)
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")

    def _feats(w):
        bigrams = F.when(
            F.size(w) < 2, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.array_join(F.slice(w, i, 2), " "),
            )
        )
        return F.concat(w, bigrams)

    from ..functions.expr import let_

    bucket = (
        F.conv(F.substring(F.md5(F.col("__feat")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )
    occ = (
        df.select(
            F.col(id_col).alias("__id"),
            target_filter.alias("__tgt"),
            F.explode_outer(let_(ws, _feats)).alias("__feat"),
        )
        .filter(F.col("__feat").isNotNull())
        .select("__id", "__tgt", bucket.alias("__b"))
    )
    # Two consumers (the bucket dictionary + the final weight join) —
    # unchecked, the whole explode+md5 feature pipeline and its shuffle
    # execute twice per action (PERF_NOTES §7). Interleaved A/B at sf0.1:
    # 3.8 s -> 2.2 s min-of-3. Checkpointing the (tiny, 256-row) bstats
    # too was measured SLOWER (extra materialization job > two cheap
    # re-aggregations over the stored counts) and left alone.
    counts = occ.groupBy("__id", "__tgt", "__b").agg(
        F.count(F.lit(1)).alias("__cnt")
    ).localCheckpoint(eager=False)
    # bucket dictionary: raw = all docs, target = filtered subset
    bstats = counts.groupBy("__b").agg(
        F.sum("__cnt").alias("__raw"),
        F.sum(F.when(F.col("__tgt"), F.col("__cnt")).otherwise(F.lit(0))).alias(
            "__tgt_cnt"
        ),
    )
    totals = bstats.agg(
        F.sum("__raw").alias("__tot_raw"), F.sum("__tgt_cnt").alias("__tot_tgt")
    )
    ratio_micro = F.floor(
        (
            F.log(
                (F.col("__tgt_cnt") + 1).cast("double")
                / (F.col("__tot_tgt") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("__raw") + 1).cast("double")
                / (F.col("__tot_raw") + n_buckets).cast("double")
            )
        )
        * 1e6
    ).cast("long")
    ratios = bstats.crossJoin(F.broadcast(totals)).select(
        "__b", ratio_micro.alias("__lr_micro")
    )
    return (
        counts.join(F.broadcast(ratios), "__b")
        .groupBy("__id")
        .agg(
            F.sum(F.col("__cnt") * F.col("__lr_micro")).alias("weight_micro"),
            F.sum("__cnt").alias("n_features"),
        )
        .select(
            F.col("__id").alias(id_col), "weight_micro", "n_features"
        )
    )


def uniform_k_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exactly-k uniform sample, content-addressed: rank every row by
    ``md5(salt || id)`` and keep the k smallest. The hash order is a
    uniform random permutation independent of row order / partitioning,
    so this is the deterministic, engine-portable replacement for
    reservoir sampling — same k rows on every run, every engine, every
    cluster size (``hash_split_column`` carves fixed FRACTIONS; this
    carves a fixed COUNT, e.g. a 10k-doc eval set from a 10B-doc corpus).

    Scale shape: ``orderBy().limit()`` adjacency fuses to
    TakeOrderedAndProject — a per-partition k-item heap over one scan
    plus a k-row merge on the driver side of the exchange; the corpus is
    never globally sorted. Re-salting draws an independent sample.

    Returns the input columns plus ``sample_key`` (the md5 rank key).
    """
    key = F.md5(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    ).alias("sample_key")
    return df.select("*", key).orderBy("sample_key").limit(k)
