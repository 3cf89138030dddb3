"""Distributed heavy hitters: Misra-Gries candidates -> CMS prune -> exact.

The scale problem: ``GROUP BY token HAVING count >= T`` shuffles every
distinct token — at 100 TB with an open vocabulary that shuffle is the
bottleneck (and the driver can't hold the result). The classic sketch answer
is a three-phase pipeline where no phase's state grows with vocabulary size:

1. **Misra-Gries per partition** (``mapInArrow``, zero shuffle): each
   partition keeps at most ``k`` counters. The merged-summary guarantee
   [Misra & Gries 1982; Agarwal et al., "Mergeable Summaries", PODS'12] is
   that any token dropped from ALL partitions has true global count
   <= N/(k+1); with ``k = ceil(1/phi)`` and threshold ``T >= phi*N`` the
   union of partition summaries is a SUPERSET of the true heavy hitters.
2. **Count-min sketch prune** (one bounded shuffle): the CMS is built with
   ``explode(d seeds) -> groupBy(seed, bucket)`` — map-side partial
   aggregation caps the shuffle payload at ``d*w`` rows per input partition
   regardless of key cardinality, and the whole sketch (``d*w`` rows) is
   broadcastable. CMS estimates only over-count, so ``est >= T`` keeps every
   true heavy hitter while discarding most false MG candidates.
3. **Exact verification**: a broadcast semi-join restricts the real
   ``GROUP BY`` to the surviving candidates — a shuffle of just the heavy
   keys. The final counts are EXACT, which is why the oracle for this
   operator is plain ``GROUP BY ... HAVING``.

Reference parity: the reference's aggregations are exact groupBys
(spark_jobs/gold_reporting.py); this is charter phase-F scale infrastructure
for open-vocabulary n-gram statistics.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned: (token, lb).

    ``lb`` is the per-partition decremented counter summed across partitions
    — a lower bound on the true count. Any token with true global count
    > N/(k+1) appears in the output; memory is O(k) per partition and the
    only movement of data is the final union of <= k rows per partition.
    """

    def mg(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts: dict = {}
        for batch in batches:
            # a NULL token is never a candidate (the exact pass drops it too)
            vc = pc.value_counts(batch.column(0).drop_null())
            for tok, c in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                counts[tok] = counts.get(tok, 0) + c
            if len(counts) > k:
                vals = sorted(counts.values(), reverse=True)
                d = vals[k]  # (k+1)-th largest: batch Misra-Gries decrement
                counts = {t: c - d for t, c in counts.items() if c - d > 0}
        if counts:
            yield pa.record_batch(
                [list(counts), list(counts.values())], names=["token", "lb"]
            )

    out = df.select(F.col(col).alias("token")).mapInArrow(
        mg, "token string, lb long"
    )
    return out.groupBy("token").agg(F.sum("lb").alias("lb"))


def cms_build(df: DataFrame, col: str, depth: int, width: int) -> DataFrame:
    """Count-min sketch as a DataFrame: (seed, bucket, cnt), <= depth*width
    rows. Partial (map-side) aggregation bounds the shuffle at depth*width
    rows per input partition no matter how many distinct values exist.
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"),
                F.pmod(
                    F.xxhash64(F.col(col), F.lit(i)), F.lit(width)
                ).alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    # explode_outer: the inferred size()>0 filter would re-hash the value
    # depth times per row (array always has `depth` elements)
    return (
        df.select(F.explode_outer(pairs).alias("sb"))
        .select("sb.seed", "sb.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame, cms: DataFrame, depth: int, width: int
) -> DataFrame:
    """(token, est): min-over-rows CMS estimate for each probe token.

    The sketch side is broadcast (<= depth*width rows); estimates are
    one-sided: est >= true count, always.
    """
    seeded = probes.select("token").withColumn(
        "seed", F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    )
    seeded = seeded.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("token"), F.col("seed")), F.lit(width))
    )
    return (
        seeded.join(F.broadcast(cms), ["seed", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def heavy_hitters_exact(
    df: DataFrame,
    col: str,
    threshold: int,
    *,
    k: int,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Exact (token, cnt) for every token with count >= threshold.

    Correct whenever ``threshold > N/(k+1)`` (the Misra-Gries superset
    guarantee); callers should derive ``k = ceil(1/phi)`` from a relative
    threshold ``phi = threshold/N``. The CMS prune and the final exact pass
    never lose a true heavy hitter (both are one-sided), so the result is
    identical to the full GROUP BY — without ever shuffling the vocabulary.
    """
    cand = misra_gries_candidates(df, col, k)
    cms = cms_build(df, col, depth, width)
    survivors = cms_estimate(cand, cms, depth, width).filter(
        F.col("est") >= threshold
    )
    surv = survivors.select(F.col("token").alias("__hh_token"))
    return (
        df.join(
            F.broadcast(surv), F.col(col) == F.col("__hh_token"), "inner"
        )
        .drop("__hh_token")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )
