"""Similarity search over embedding columns (``array<float>``).

Charter extension (SURVEY.md §2.11). Two tiers:

- ``ann_topk_bruteforce``: exact cosine top-k. The query side is broadcast
  (queries are few), so the plan is a single pass over the embeddings table —
  a BroadcastNestedLoopJoin with no shuffle of the big side except the final
  per-query top-k, which shuffles only (query_id, sim, id) triples, not
  vectors. This is the correctness baseline and is also the right plan at
  100 TB when |queries| is small.
- ``lsh_signature`` / ``ann_topk_lsh``: random-hyperplane LSH. Each
  vector gets a b-bit signature (signs of dot products with fixed
  pseudo-random planes); candidates share a signature bucket. Bucketing turns
  the all-pairs problem into an equi-join on the bucket key — the scale path
  for neighbor search over the full corpus.

The expression tiers run every dot product/norm JVM-side via higher-order
functions (functions.vectors); the LSH planes are folded in as literal
arrays so signature computation also stays in codegen. The BLAS tiers
(``ann_topk_blocked``, the blocked and IVF near-dup searches, PQ encoding)
are Arrow-batched Python stages: each batch becomes one float64 matrix of
unit rows (functions.batches.unit_vectors) and one matmul.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.batches import rows_batch, unit_vectors, vectors
from ..functions.vectors import cosine_similarity, l2_norm
from ..session import spread

_TOPK_SCHEMA = "doc_id bigint, neighbor_id bigint, sim_micro bigint"


def ann_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_sim: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Deterministic: ties broken by ascending neighbor id. Self-matches (same
    id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q_vec")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_similarity(vec_col, "__q_vec").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    cols = ["query_id", "neighbor_id", "rank"] + (["sim"] if include_sim else [])
    return out.select(*cols)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine similarity >= threshold.

    Brute-force form (O(n^2) candidate space) — correct baseline; use
    ``ann_topk_lsh``/bucketed variants when n is large. The join condition
    ``id_a < id_b`` halves the work and dedups symmetrically.
    """
    from ..functions.vectors import dot, l2_norm

    # Precompute each vector's norm once (narrow projection) so the O(n^2)
    # pair stage only pays for the dot product, not two norm recomputations.
    normed = embeddings.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(vec_col).alias("__n"),
    )
    # The theta join plans as BroadcastNestedLoopJoin: its task count is the
    # STREAM side's partition count, and a small parquet corpus arrives as
    # 1-2 input splits — leaving 30 of 32 cores idle on an O(n^2) compute.
    # Spread the stream side across the session's parallelism first.
    normed = spread(normed)
    a = normed.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = normed.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot("__va", "__vb") / denom)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b")
    )


def ann_topk_blocked(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched BLAS: the query matrix is shipped
    to every task (small side), each Arrow batch of corpus vectors does one
    float64 matmul against it and emits its local top-k per query; a final
    per-query rank merges the partials.

    This is the throughput form of ``ann_topk_bruteforce``: same result, but
    the inner loop is numpy matmul instead of per-row expression evaluation,
    and the shuffle carries only ~(partitions * k) rows per query.
    """
    q = queries.select(id_col, vec_col).toArrow()  # small, intentional
    q_ids = q.column(0).to_numpy()
    Qn = unit_vectors(q.column(1))
    schema = StructType.fromDDL("query_id bigint, neighbor_id bigint, sim double")

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            sims = unit_vectors(batch.column(1)) @ Qn.T  # (batch, n_queries)
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            out = []
            for j, qid in enumerate(q_ids):
                cand = np.flatnonzero(ids != qid)
                top = cand[np.argsort(-sims[cand, j], kind="stable")[:k]]
                out += [(int(qid), int(ids[i]), float(sims[i, j])) for i in top]
            if out:
                yield rows_batch(out, schema)

    partials = embeddings.select(id_col, vec_col).mapInArrow(batches, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_neardup_blocked(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    target_rows_per_block: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine >= threshold via block-nested-loop + BLAS.

    Vectors are grouped into ``num_blocks`` hash blocks; each of the
    num_blocks*(num_blocks+1)/2 block pairs is one task doing a float64
    matmul. Work is O(n^2) (inherent for exact all-pairs) but the constant is
    BLAS, the parallelism is block-pair-wide, and no row is ever replicated
    more than num_blocks times. For sub-quadratic scaling switch to the LSH
    candidates (``lsh_signature``) and verify exactly on candidates only.

    Cost model: when ``num_blocks`` is None it is derived from a count of the
    input as ceil(n / target_rows_per_block), clamped to [2, 1024]. 4096 rows
    of 64-dim float64 is a ~2 MB block — two of them plus the sim matrix stay
    comfortably in task memory, and block count (hence task count) then grows
    with the corpus instead of being a fixed fan-out that under-splits big
    inputs or over-splits small ones. Pass an explicit value — or the
    ``n_rows`` statistic (parquet footer sum / Iceberg manifest count) —
    to skip the count job entirely.
    """
    pairs = _block_pairs(
        embeddings, id_col, vec_col, num_blocks, target_rows_per_block, n_rows
    )

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ba, ra, bb, rb = batch.columns
            for r, same in enumerate(pc.equal(ba, bb).to_pylist()):
                ia, An = _block(ra, r)
                ib, Bn = _block(rb, r)
                sims = An @ Bn.T
                if same:
                    # same block on both sides: ia < ib halves the square
                    ii, jj = np.nonzero(
                        (sims >= threshold) & (ia[:, None] < ib[None, :])
                    )
                    lo, hi = ia[ii], ib[jj]
                else:
                    # distinct blocks: every cross pair appears exactly once
                    # in this (ba < bb) task — emit it id-ordered regardless
                    # of which side holds the smaller id
                    ii, jj = np.nonzero(sims >= threshold)
                    lo = np.minimum(ia[ii], ib[jj])
                    hi = np.maximum(ia[ii], ib[jj])
                yield pa.record_batch(
                    [lo, hi, sims[ii, jj]], names=["id_a", "id_b", "sim"]
                )

    return pairs.mapInArrow(batches, "id_a bigint, id_b bigint, sim double")


def _block_pairs(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    num_blocks: int | None,
    target_rows_per_block: int,
    n_rows: int | None,
) -> DataFrame:
    """The block-nested-loop input shared by the blocked near-dup searches:
    one row ``(ba, rows_a, bb, rows_b)`` per hash-block pair ``ba <= bb``,
    each side the block's collected ``(id, vec)`` structs. A ``num_blocks``
    of None becomes ceil(n / target_rows_per_block) clamped to [2, 1024],
    with n from ``n_rows`` or else a count of the input."""
    if num_blocks is None:
        n = n_rows if n_rows is not None else embeddings.count()
        num_blocks = max(2, min(1024, math.ceil(n / target_rows_per_block)))
    blocked = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("block"),
    )
    grouped = blocked.groupBy("block").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    )
    a = grouped.select(F.col("block").alias("ba"), F.col("rows").alias("rows_a"))
    b = grouped.select(F.col("block").alias("bb"), F.col("rows").alias("rows_b"))
    return a.join(b, F.col("ba") <= F.col("bb"))


def _block(col: pa.Array, i: int) -> tuple[np.ndarray, np.ndarray]:
    """Row ``i`` of a collected ``array<struct<id, vec>>`` column as
    (ids, unit-row vector matrix)."""
    rows = col[i].values
    return (
        rows.field("id").to_numpy(zero_copy_only=False),
        unit_vectors(rows.field("vec")),
    )


def _local_topk(
    ids_l: np.ndarray, ids_r: np.ndarray, sm: np.ndarray, thr_micro: int, k: int
) -> Iterable[tuple[int, int, int]]:
    """Per left row of the micro-unit similarity matrix ``sm``: its right
    neighbors with ``sm >= thr_micro``, self excluded, ordered by
    (sim_micro desc, neighbor_id asc), first ``k``, as
    (doc_id, neighbor_id, sim_micro)."""
    for i in range(sm.shape[0]):
        row = sm[i]
        cand = np.flatnonzero((row >= thr_micro) & (ids_r != ids_l[i]))
        for j in cand[np.lexsort((ids_r[cand], -row[cand]))][:k]:
            yield (int(ids_l[i]), int(ids_r[j]), int(row[j]))


def cosine_neardup_topk(
    embeddings: DataFrame,
    threshold: float,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    target_rows_per_block: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """Emission-bounded near-duplicate search: each doc's top-``k`` most
    similar neighbors with cosine >= threshold, as
    ``(doc_id, neighbor_id, sim_micro, rank)``.

    The production variant of ``cosine_neardup_blocked``: that operator
    emits EVERY qualifying pair, which is output-quadratic per duplicate
    cluster (at sf1 a 0.4-threshold corpus already produced 262k pairs;
    at 100 TB a hot cluster alone would emit billions). Here output is
    <= n*k rows regardless of cluster shape — for dedup-style "find my
    nearest near-duplicates" consumers, per-doc top-k is the semantics
    they actually want. Use all-pairs emission only when the downstream
    genuinely consumes the full pair graph (e.g. connected-components
    clustering at moderate duplicate rates).

    Mechanics: same hash-blocked block-nested-loop BLAS (each block pair
    is one task's float64 matmul — exact, not approximate), but each task
    emits only its LOCAL top-k per doc (every (doc, neighbor) pair lives
    in exactly one task, so the union of local top-k's contains the global
    top-k); one groupBy(doc) rank merges partials. Shuffle volume is
    O(n * k * num_blocks) candidate rows instead of the full pair set.
    For sub-quadratic COMPUTE at extreme n, feed LSH/IVF candidates
    instead of all block pairs; the local-topk + merge shape is unchanged.

    Determinism / oracle exactness: ranking compares floor(sim * 1e6)
    micro-units with neighbor_id as tiebreak, so engine-vs-oracle rank
    agreement does not depend on sub-micro float noise (knife-edge
    discipline; only a sim within an ulp of a micro boundary could flip,
    which the fixture sweep checks).
    """
    pairs = _block_pairs(
        embeddings, id_col, vec_col, num_blocks, target_rows_per_block, n_rows
    )
    thr_micro = int(math.floor(threshold * 1e6))
    topk = StructType.fromDDL(_TOPK_SCHEMA)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ba, ra, bb, rb = batch.columns
            out: list[tuple[int, int, int]] = []
            for r, same in enumerate(pc.equal(ba, bb).to_pylist()):
                ia, An = _block(ra, r)
                ib, Bn = _block(rb, r)
                sm = np.floor((An @ Bn.T) * 1e6).astype(np.int64)
                out += _local_topk(ia, ib, sm, thr_micro, k)
                if not same:
                    out += _local_topk(ib, ia, sm.T, thr_micro, k)
            if out:
                yield rows_batch(out, topk)

    cand = pairs.mapInArrow(batches, topk)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_neardup_topk_ivf(
    embeddings: DataFrame,
    threshold: float,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SUB-QUADRATIC emission-bounded near-dup: per-doc approximate top-k
    neighbors (cosine >= threshold) through an IVF coarse quantizer — the
    100 TB production path where even the blocked-BLAS exact variant's
    O(n^2) compute is unpayable.

    Every doc lands in its ONE nearest-centroid home list; every doc
    PROBES its ``n_probe`` nearest lists. Candidate generation is an
    equi-join of the two assignments on list id, so compute is
    ~n * n_probe * (n / n_centroids) dot products instead of n^2 —
    with n_centroids grown ~sqrt(n) (the IVF standard), that is
    n^1.5-ish, and output stays <= n*k. ``n_centroids=None`` (default)
    applies that standard: ``max(32, ceil(sqrt(n/2)))`` from one cheap
    count — round 5's sf10 decade caught the fixed-32 config going
    97x/decade (list population grows linearly, so candidates grow
    quadratically; 316 lists at 200k vectors restores the n^1.5 curve
    and bounds each collected list row at ~n/sqrt(n) members).
    Approximate by construction
    (a true neighbor homed in an unprobed list is missed): recall is
    measured against the exact variant in tests/test_ann_quality.py
    rather than oracle-checked. Home lists are disjoint, so no
    (doc, neighbor) pair is scored twice and no dedup pass is needed;
    ranking uses the same floor(sim*1e6)+id-tiebreak total order as
    ``cosine_neardup_topk``.
    """
    if n_centroids is None:
        n = n_rows if n_rows is not None else embeddings.count()
        n_centroids = max(32, math.ceil(math.sqrt(n / 2)))
    Cn = _ivf_centroids(embeddings, n_centroids, id_col, vec_col, centroids)
    thr_micro = int(math.floor(threshold * 1e6))
    topk = StructType.fromDDL(_TOPK_SCHEMA)

    src = embeddings.select(id_col, vec_col)
    members = _ivf_assign(src, Cn, 1)
    probers = _ivf_assign(src, Cn, n_probe)
    gm = members.groupBy("list_id").agg(
        F.collect_list(F.struct("id", "vec")).alias("mem")
    )
    gp = probers.groupBy("list_id").agg(
        F.collect_list(F.struct("id", "vec")).alias("prb")
    )
    joined = gm.join(gp, "list_id")

    def score(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            _, mem, prb = batch.columns
            out: list[tuple[int, int, int]] = []
            for r in range(batch.num_rows):
                im, Mn = _block(mem, r)
                ip, Pn = _block(prb, r)
                sm = np.floor((Pn @ Mn.T) * 1e6).astype(np.int64)
                out += _local_topk(ip, im, sm, thr_micro, k)
            if out:
                yield rows_batch(out, topk)

    cand = joined.mapInArrow(score, topk)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("sim_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
    scale_col: str = "scale",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization.

    ``scale = max(|x|)/127``; ``code_i = floor(x_i/scale + 0.5)`` (half-up,
    spec'd as floor(+0.5) on both engine and oracle side so rounding is
    identical everywhere). Codes land in [-127, 127]; storing them instead of
    float32 cuts vector bytes 4x — which at 100 TB is 4x less shuffle and 4x
    more vectors per executor in the ANN candidate stage.

    All JVM-side higher-order functions — no Python in the path. The scale is
    materialized via withColumn so the array_max scan runs once, not once per
    code (expression re-inlining trap).
    """
    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    scaled = df.withColumn(
        scale_col,
        F.when(absmax == 0.0, F.lit(1.0)).otherwise(absmax / F.lit(127.0)),
    )
    codes = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") / F.col(scale_col) + F.lit(0.5)).cast(
            "int"
        ),
    )
    return scaled.withColumn(codes_col, codes)


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Integer dot product of two int-code arrays (zip_with + fold, all
    codegen). 64 dims of int8*int8 tops out ~1M — far inside int32 even with
    ANSI overflow checks on."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0), lambda acc, x: acc + x
    )


def signed_sq_cos(q: Column | str, n2: Column | str) -> Column:
    """Cosine-ordering key for a FIXED left vector: ``sign(q) * q^2 / n2``
    where ``q`` is the exact integer dot product and ``n2`` the candidate's
    exact squared norm. Monotone in cos for any fixed query, computed with
    a single correctly-rounded IEEE division of exact integers — so two
    engines order candidates identically (the SemDeDup discipline).
    Shared by semdedup assignment, cluster-balanced sampling, and
    hard-negative mining so NaN/zero-norm guards have one fix point:
    callers must exclude n2 = 0 rows (0/0 = NaN sorts above everything)."""
    q = F.col(q) if isinstance(q, str) else q
    n2 = F.col(n2) if isinstance(n2, str) else n2
    return F.when(q >= 0, (q * q).cast("double") / n2).otherwise(
        -(q * q).cast("double") / n2
    )


def ann_topk_int8(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: int8-quantized candidate generation + exact rerank.

    Stage 1 scores every (corpus, query) pair with the *quantized* cosine
    ``scale_e*scale_q*int_dot(codes) / (|e|*|q|)`` and keeps the top
    ``k*rerank_factor`` candidates per query — this stage shuffles only
    (query_id, neighbor_id, approx) triples, never vectors. Stage 2 joins the
    small candidate set back to the corpus (broadcast), computes exact float
    cosine, and re-ranks to top k. The 4x-smaller codes are what stage 1
    reads; at scale that's the difference between an in-cache scan and a
    spilling one.

    Deterministic: both stages break ties by ascending neighbor id.
    """
    ez = quantize_int8(embeddings, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("codes").alias("__ec"),
        F.col("scale").alias("__es"),
        l2_norm(vec_col).alias("__en"),
    )
    qz = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("codes").alias("__qc"),
        F.col("scale").alias("__qs"),
        l2_norm(vec_col).alias("__qn"),
        F.col(vec_col).alias("__qv"),
    )
    approx = (
        F.col("__es") * F.col("__qs") * int_dot("__ec", "__qc")
    ) / (F.col("__en") * F.col("__qn"))
    cand = (
        ez.crossJoin(F.broadcast(qz.drop("__qv")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", approx.alias("__approx"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__approx").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        cand.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    # Exact rerank: candidates are tiny (queries * k * factor rows) — fetch
    # the float vectors for both sides and score exactly.
    e_vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ev")
    )
    rer = (
        shortlist.join(e_vecs, "neighbor_id")
        .join(F.broadcast(qz.select("query_id", "__qv")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__ev", "__qv").alias("__sim"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ann_topk_grouped(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Segment-restricted exact top-k: each query searches only corpus
    vectors sharing its ``label_col`` (the 'same tenant / same shard /
    same language' ANN shape).

    The label equality turns the cross join into a broadcast HASH join on
    the label — the corpus is scanned once and each row is scored only
    against the queries of its own segment, so adding segments adds no work
    per row. At 100 TB with the corpus partitioned by label this plan reads
    only the probed partitions (partition pruning on the label predicate).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql"),
        F.col(vec_col).alias("__q_vec"),
    )
    scored = (
        embeddings.join(
            F.broadcast(q), on=F.col(label_col) == F.col("__ql")
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(label_col).alias("label"),
            F.col(id_col).alias("neighbor_id"),
            cosine_similarity(vec_col, "__q_vec").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "label", "neighbor_id", "rank")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Train real IVF centroids with distributed k-means (pyspark.ml,
    k-means|| init). Returns plain float lists so the caller can broadcast
    them as a literal matrix. At 100 TB you'd fit on a ~1% content-addressed
    sample (``sampling.stratified_sample``) — centroid quality converges long
    before full-corpus coverage."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feat)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ann_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the corpus
    into inverted lists; each query searches only its ``n_probe`` closest
    lists.

    By default centroids are a deterministic sample (first ``n_centroids``
    corpus vectors by id); pass ``centroids=kmeans_centroids(...)`` for
    trained lists. Either way the plan shape is identical: centroid
    assignment is a narrow map against a broadcast centroid matrix, the
    probe join is an equi-join on the list id, and exact ranking runs only
    within probed lists. Corpus scanned once; no cross join.
    """
    Cn = _ivf_centroids(embeddings, n_centroids, id_col, vec_col, centroids)
    corpus = _ivf_assign(embeddings.select(id_col, vec_col), Cn, 1)
    probes = _ivf_assign(queries.select(id_col, vec_col), Cn, n_probe)
    cand = corpus.join(
        F.broadcast(
            probes.select(
                F.col("id").alias("query_id"),
                F.col("vec").alias("__qv"),
                "list_id",
            )
        ),
        on="list_id",
    ).filter(F.col("id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_similarity("vec", "__qv").alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None,
) -> np.ndarray:
    """The IVF coarse quantizer as unit rows: ``centroids`` when given,
    else the first ``n_centroids`` corpus vectors by id."""
    if centroids is not None:
        return unit_vectors(pa.array(centroids, pa.list_(pa.float64())))
    first = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col))
        .limit(n_centroids)
        .toArrow()
    )
    return unit_vectors(first.column(1))


def _ivf_assign(src: DataFrame, Cn: np.ndarray, probe: int) -> DataFrame:
    """``(id, vec, list_id)``: each ``(id, vec)`` row of ``src`` once per
    one of its ``probe`` most-cosine-similar centroids (stable argsort, so
    ties go to the lower list id)."""

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            sims = unit_vectors(batch.column(1)) @ Cn.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :probe]
            rows = batch.take(
                np.repeat(np.arange(batch.num_rows), order.shape[1])
            )
            yield pa.record_batch(
                [
                    rows.column(0),
                    rows.column(1),
                    pa.array(order.reshape(-1), pa.int32()),
                ],
                names=["id", "vec", "list_id"],
            )

    return src.mapInArrow(batches, "id bigint, vec array<float>, list_id int")


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a simple
    LCG keyed by seed/bit/dim — stable across runs and platforms without
    numpy's RNG state)."""
    planes: list[list[float]] = []
    for b in range(bits):
        row = []
        for d in range(0, dim, 2):
            # splitmix-ish integer mix -> two uniforms -> one gaussian pair
            x = (seed * 0x9E3779B97F4A7C15 + b * 0xBF58476D1CE4E5B9 + d + 1) % (2**64)
            x ^= x >> 30
            x = (x * 0xBF58476D1CE4E5B9) % (2**64)
            x ^= x >> 27
            u1 = ((x >> 11) & ((1 << 26) - 1)) / float(1 << 26) or 1e-9
            u2 = ((x >> 37) & ((1 << 26) - 1)) / float(1 << 26)
            r = math.sqrt(-2.0 * math.log(u1))
            row.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                row.append(r * math.sin(2 * math.pi * u2))
        planes.append(row[:dim])
    return planes


def lsh_signature(vec_col: Column | str, dim: int, bits: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane signature as a bit-string column (JVM-side: the
    planes are literal arrays, the dot products are zip_with/aggregate).

    One transform over a literal array-of-planes rather than ``bits``
    unrolled aggregate columns — the unrolled form pays O(bits) deep
    lambda subtrees in driver-side Catalyst analysis (the
    minhash_signature planning pathology). The cast-to-double array is
    bound once via ``let_``: lambda-interior references are re-evaluated
    per plane (no CSE inside HOF lambdas), which would re-cast the vector
    ``bits`` times per row."""
    from ..functions.expr import let_

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    # One expr parse for the dim x bits literal plane matrix: building it
    # Column-by-Column was ~1000 py4j round-trips = 0.56 s of driver time
    # per query build. CAST('<repr>' AS DOUBLE) is bit-exact (Python repr
    # round-trips; both parsers are correctly rounded — asserted equal at
    # change time).
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST('{w!r}' AS DOUBLE)" for w in plane)
            + ")"
            for plane in _hyperplanes(dim, bits, seed)
        )
        + ")"
    )

    def body(vd: Column) -> Column:
        return F.array_join(
            F.transform(
                planes_lit,
                lambda p: F.when(
                    F.aggregate(
                        F.zip_with(vd, p, lambda x, y: x * y),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    >= 0,
                    F.lit("1"),
                ).otherwise(F.lit("0")),
            ),
            "",
        )

    return let_(F.transform(v, lambda x: x.cast("double")), body)


def ann_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH: ``tables``
    independent signatures per vector; candidates are corpus vectors that
    collide with the query in ANY table; exact cosine rank within the
    (deduped) candidate union.

    Multi-table is what makes hyperplane LSH usable: single-table recall for
    a neighbor at angle θ is (1-θ/π)^bits, which collapses for the moderate
    angles real nearest neighbors have; the union over L tables lifts it to
    1-(1-p^bits)^L. Plan shape: signature assignment is a narrow map, the
    candidate join is an equi-join on (table, signature) — no cross join;
    work scales with bucket occupancy, tuned by ``bits`` vs ``tables``.
    """
    def with_sigs(df: DataFrame, idn: str) -> DataFrame:
        sigs = F.array(
            *[
                lsh_signature(vec_col, dim, bits, seed=42 + 97 * t)
                for t in range(tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(idn),
            F.col(vec_col).alias(f"__v_{idn}"),
            # outer: explode's inferred filter would inline the whole
            # multi-table signature computation (always `tables` elements)
            F.posexplode_outer(sigs).alias("__tbl", "__sig"),
        )

    e = with_sigs(embeddings, "neighbor_id")
    q = with_sigs(queries, "query_id")
    cand = (
        e.join(F.broadcast(q), on=["__tbl", "__sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_similarity("__v_neighbor_id", "__v_query_id").alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_n: int = 256,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and Lloyd-iterate ``k`` centroids per subspace on a
    deterministic corpus sample (first ``sample_n`` ids, init = first
    ``k`` subvectors). The sample is bounded, so training cost is fixed
    regardless of corpus size — at 100 TB you still collect only
    ``sample_n`` rows; codebook quality converges long before full
    coverage (same posture as ``kmeans_centroids``)."""
    rows = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    )
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books: list[list[list[float]]] = []
    for i in range(m):
        S = X[:, i * sub : (i + 1) * sub]
        C = S[:k].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for c in range(k):
                pts = S[a == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` uint8-sized centroid ids (64 dims of
    float32 -> 8 bytes: a 32x compression of the candidate-scan state).
    Arrow-batched Python stage; the argmin per subspace is one numpy
    broadcast per batch — no per-row Python."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    Cs = [np.array(b, dtype=np.float64) for b in codebooks]

    def enc(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            # raw (not unit) vectors: codebooks live in the input space
            E = vectors(batch.column(1))
            codes = np.empty((n, m), dtype=np.int32)
            for i in range(m):
                Ssub = E[:, i * sub : (i + 1) * sub]
                d2 = ((Ssub[:, None, :] - Cs[i][None, :, :]) ** 2).sum(-1)
                codes[:, i] = d2.argmin(1)
            offsets = pa.array(np.arange(0, n * m + 1, m, dtype=np.int32))
            yield pa.record_batch(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(offsets, codes.reshape(-1)),
                ],
                names=[id_col, "codes"],
            )

    return embeddings.select(id_col, vec_col).mapInArrow(
        enc, f"{id_col} long, codes array<int>"
    )


def ann_topk_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_centroids: int = 16,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ + asymmetric-distance (ADC) approximate top-k with exact rerank.

    Each query precomputes an m x k table of squared distances from its
    subvectors to every codebook centroid (driver-side, O(m*k*sub) —
    queries are few). The table travels as a COLUMN on the broadcast
    query side, so the candidate scan is a single JVM-side pass over the
    8-byte codes — ``aggregate(sequence(0,m-1), acc + tab[i][code[i]])``
    in codegen, never touching the float vectors. Top ``k*rerank_factor``
    by ADC then rerank exactly with cosine on the shortlist only (the
    ``ann_topk_int8`` two-stage pattern; PQ compresses 4x harder).
    """
    if codebooks is None:
        codebooks = pq_codebooks(embeddings, m=m, k=n_centroids,
                                 id_col=id_col, vec_col=vec_col)
    sub = len(codebooks[0][0])
    enc = pq_encode(embeddings, codebooks, id_col=id_col, vec_col=vec_col)

    qrows = queries.select(id_col, vec_col).collect()
    spark = embeddings.sparkSession
    qtabs = []
    for r in qrows:
        qv = np.array(list(r[1]), dtype=np.float64)
        tab = [
            [
                float(((qv[i * sub : (i + 1) * sub] - np.array(c)) ** 2).sum())
                for c in codebooks[i]
            ]
            for i in range(len(codebooks))
        ]
        qtabs.append((int(r[0]), tab))
    qdf = spark.createDataFrame(
        qtabs, schema="query_id long, qtab array<array<double>>"
    )

    adist = F.aggregate(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.element_at(F.col("qtab"), i + F.lit(1)),
            F.element_at(F.col("codes"), i + F.lit(1)) + F.lit(1),
        ),
    )
    cand = (
        enc.withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adist.alias("__adist"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__adist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        cand.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    nvec = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    rer = (
        shortlist.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("__sim", cosine_similarity("__nv", "__qv"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def maxsim_multivector(
    corpus: DataFrame,
    queries: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """ColBERT-style late-interaction MaxSim scoring.

    A "document" is a GROUP of vectors (``group_col``) and the query is a
    small multi-vector set; relevance is sum over query vectors of the max
    cosine against any vector in the group — token-level matching that a
    single pooled vector loses. Plan: broadcast the query set against the
    corpus (|corpus| x |Q| narrow rows, never corpus x corpus), take the
    per-(group, query-vector) max in one partial-aggregated shuffle keyed by
    the group, then fold the handful of per-query maxima into the score —
    a second shuffle on the same key that AQE coalesces. All cosine math is
    JVM-side double HOFs (functions/vectors.py).
    """
    q = queries.select(F.col(qid_col), F.col(vec_col).alias("__qv"))
    per_q = (
        corpus.select(F.col(group_col), F.col(vec_col).alias("__cv"))
        .join(F.broadcast(q))
        .groupBy(group_col, qid_col)
        .agg(F.max(cosine_similarity("__cv", "__qv")).alias("__best"))
    )
    return per_q.groupBy(group_col).agg(
        F.sum("__best").alias("maxsim_score"),
        F.count(F.lit(1)).alias("n_query_vecs"),
    )


def _semdedup_assign(
    embeddings: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """SemDeDup's assignment step (see :func:`semdedup_prune`): every
    vector's argmax-cosine centroid among the ``k`` content-addressed ones.
    Returns (__id, __cid, __codes, __n2)."""
    # CPU-bound assignment (n x k integer dot products): spread across all
    # cores even when the source is one small parquet split — without this
    # the whole stage runs on the file's 1-2 input partitions while the
    # rest of the machine idles (profiled 28 s -> ~3 s at the sf1 decade).
    embeddings = spread(embeddings)
    z = quantize_int8(embeddings, id_col=id_col, vec_col=vec_col)
    z = z.select(
        F.col(id_col).alias("__id"),
        F.col("codes").alias("__codes"),
        int_dot("codes", "codes").cast("bigint").alias("__n2"),
    )
    # z feeds BOTH the centroid pick and the assignment join — without a
    # cut the quantize+dot pipeline executes twice per action, and the
    # centroid pool's n2 filter re-inlines it a third time (measured
    # 4.3 s -> 2.4 s at sf0.1 with the cut; PERF_NOTES §7).
    z = z.localCheckpoint(eager=False)
    # zero-norm centroids score NaN vs everything and NaN wins the
    # argmax — one degenerate centroid would swallow the corpus into a
    # single cluster; keep the pool norm-positive (oracle mirrors).
    cent = (
        z.filter(F.col("__n2") > 0)
        .orderBy(F.md5(F.col("__id").cast("string")).asc(), F.col("__id").asc())
        .limit(k)
        .select(
            F.col("__id").alias("__cid"),
            F.col("__codes").alias("__ccodes"),
            F.col("__n2").alias("__cn2"),
        )
    )
    scored = (
        z.join(F.broadcast(cent))
        .withColumn("__q", int_dot("__codes", "__ccodes").cast("bigint"))
        .withColumn("__score", signed_sq_cos("__q", "__cn2"))
    )
    # argmax via max_by on a UNIQUE ordering key (score, then -cid so
    # exact ties go to the SMALLEST centroid id — cid is unique, so the
    # key is total and the result deterministic; Spark's aggregate
    # ordering ranks NaN above any number, same as the oracle's window
    # ORDER BY score DESC). Unlike the previous row_number window this
    # is a map-side-combinable partial agg: the broadcast join emits a
    # vector's k candidate rows inside one partition, so they collapse
    # to 1 row BEFORE the shuffle — no n x k exchange, no per-vector
    # sort. (An all-HOF fold over a literal centroid array was tried and
    # is ~15x SLOWER: interpreted lambda evaluation per (vector,
    # centroid) element loses to the codegen'd join projection.)
    return scored.groupBy("__id").agg(
        F.max_by(
            F.struct("__cid", "__codes", "__n2"),
            F.struct(F.col("__score"), (-F.col("__cid")).alias("__nc")),
        ).alias("__best")
    ).select(
        "__id",
        F.col("__best.__cid").alias("__cid"),
        F.col("__best.__codes").alias("__codes"),
        F.col("__best.__n2").alias("__n2"),
    )


def semdedup_prune(
    embeddings: DataFrame,
    k: int = 8,
    threshold_num: int = 2,
    threshold_den: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus embeddings, then drop
    near-duplicates WITHIN each cluster — the clustering turns the all-pairs
    cosine problem into per-cluster quadratic work, the same trick the paper
    uses to run on LAION-scale corpora.

    Spark-first formulation, exact and engine-portable:

    - Vectors are int8-quantized first (``quantize_int8``), so every dot
      product and norm is an exact 64-bit integer — no float-sum ordering
      anywhere, which is what makes the oracle byte-stable.
    - Centroids are content-addressed: the ``k`` vectors with the smallest
      ``md5(id)`` (a deterministic, layout-independent sample — the same
      idiom as operators/sampling.py). TakeOrderedAndProject, then broadcast.
      At 100 TB you would raise ``k`` so ``n/k`` stays bounded (the paper
      uses ~100k clusters for 5B docs) or swap in ``kmeans_centroids``;
      either way the join shape below is unchanged.
    - Assignment is argmax cosine vs the broadcast centroids: cos is compared
      via the sign bucket + ``q^2/|c|^2`` (monotone in cos for fixed vector
      norm; single IEEE division of exact integers, so both engines order
      identically), ties to the lowest centroid id.
    - In-cluster near-dup pairs: equi-join on cluster id, ``id_a < id_b``,
      ``cos >= num/den`` decided in EXACT integer arithmetic:
      ``d >= 0 AND d^2 * den^2 >= num^2 * |a|^2 * |b|^2`` (all BIGINT;
      64-dim int8 keeps every term < 2^50).
    - Survivor rule: a vector is dropped iff some SMALLER id in its cluster
      is a near-dup — deterministic greedy-by-id, one anti-joinable set.

    Scale posture: one broadcast pass for assignment (narrow map), one
    shuffle on cluster id for the pair join. Per-cluster work is
    ``(n/k)^2`` — pick ``k ~ n / 10k`` to bound it; no stage is all-pairs.

    Returns (id, cluster_id, keep).
    """
    # `assigned` feeds three consumers (both pair-join sides + the final
    # keep join); without a cut Catalyst re-executes the full n x k
    # assignment three times per action (measured: 3x the dot-product
    # cost at sf1). Lazy local checkpoint = compute once, serve all
    # three subtrees — same bounded-state story as the graph operators.
    assigned = _semdedup_assign(embeddings, k, id_col, vec_col).localCheckpoint(
        eager=False
    )
    a = assigned.select(
        "__cid",
        F.col("__id").alias("__a_id"),
        F.col("__codes").alias("__a_codes"),
        F.col("__n2").alias("__a_n2"),
    )
    b = assigned.select(
        "__cid",
        F.col("__id").alias("__b_id"),
        F.col("__codes").alias("__b_codes"),
        F.col("__n2").alias("__b_n2"),
    )
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    dropped = (
        a.join(b, on="__cid")
        .filter(F.col("__a_id") < F.col("__b_id"))
        .withColumn("__d", int_dot("__a_codes", "__b_codes").cast("bigint"))
        # norm guards: a zero-norm vector makes both sides of the
        # cross-multiplied inequality 0 (d = 0, num2*a*b = 0), which
        # reads as cos >= threshold and would let one degenerate vector
        # drop its entire cluster — cosine to a zero vector is
        # undefined, never a near-dup (oracle mirrors)
        .filter(
            (F.col("__a_n2") > 0)
            & (F.col("__b_n2") > 0)
            & (F.col("__d") >= 0)
            & (
                F.col("__d") * F.col("__d") * F.lit(den2)
                >= F.lit(num2) * F.col("__a_n2") * F.col("__b_n2")
            )
        )
        .select(F.col("__b_id").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    out = assigned.join(dropped, on="__id", how="left")
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__cid").alias("cluster_id"),
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
    )


def _jl_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic +-1 JL sign matrix from md5('{k}_{i}') — any engine
    with a standard md5 reproduces it, so the SQL oracle regenerates the
    identical matrix instead of receiving it as a parameter."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{k}_{i}".encode()).hexdigest()[0] < "8"
            else -1
            for i in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas +-1 variant):
    project ``in_dim``-dim embeddings to ``out_dim`` dims against a
    deterministic md5-derived sign matrix. The workhorse of embedding-
    pipeline dim reduction ahead of ANN / clustering: pairwise distances
    are preserved within (1 +- eps) w.h.p. while index cost drops 4x.

    Exact and engine-portable: inputs are floor-quantized to integer
    micro-units ONCE, so each output coordinate is an exact BIGINT
    +-1-weighted sum — no float accumulation, no combine-order dependence
    (quantization error is bounded by in_dim micro-units, irrelevant at
    embedding magnitudes).

    Scale: a pure narrow map — the sign matrix is a one-parse literal
    (PERF_NOTES §5), each row computes out_dim zip_with/aggregate dot
    products inside codegen and posexplodes to long form. Zero shuffle,
    zero driver state, no join; 100 TB of embeddings stream through
    partition-local.
    """
    from ..functions.expr import let_

    signs = _jl_signs(in_dim, out_dim)
    signs_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(str(s) for s in row) + ")" for row in signs
        )
        + ")"
    )
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    micro = F.transform(v, lambda x: F.floor(x.cast("double") * 1e6).cast("long"))

    def _proj_q(q):
        return F.transform(
            signs_lit,
            lambda srow: F.aggregate(
                F.zip_with(q, srow, lambda m, s: m * s),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ),
        )

    return df.select(
        F.col(id_col),
        F.posexplode(let_(micro, _proj_q)).alias("k", "proj_micro"),
    )


def embedding_outlier_filter(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    k_num: int = 2,
    k_den: int = 1,
) -> DataFrame:
    """Embedding-space outlier filter: drop vectors far from their group
    centroid — the curation pass that catches mislabeled / corrupted /
    off-domain samples before they enter a training mix (the "remove
    embedding outliers" step in DataComp-style pipelines).

    Exact and engine-portable by the SemDeDup discipline: vectors are
    int8-quantized (``quantize_int8``), the per-group centroid is the
    HALF-UP-ROUNDED integer mean of the codes (one correctly-rounded
    IEEE division per dimension — both engines order identically), each
    vector's squared distance to it is an exact BIGINT fold, and the
    keep rule is the division-free mean-distance multiple test
    ``dist2 * n * k_den <= k_num * total_dist2`` — all-integer, so no
    float-sum ordering can flip a decision. Magnitudes stay tiny:
    dist2 <= dim * 254^2 (~4e6 at 64 dims) regardless of corpus size.

    Shape at scale: quantization is a narrow map; the per-dimension sums
    posexplode to (group, dim) keys — map-side combinable, so the
    shuffle carries only |groups| x dim rows; centroids and per-group
    totals ride back as broadcasts; scoring is a narrow map. Nothing
    shuffles corpus-sized data, and no window partitions by the (low-
    cardinality, skew-prone) group key. The quantized frame and the
    scored frame each feed multiple consumers, so both are cut with a
    lazy localCheckpoint (PERF_NOTES §7).

    Returns (id, group, dist2, keep).
    """
    embeddings = spread(embeddings)
    z = (
        quantize_int8(embeddings, id_col=id_col, vec_col=vec_col)
        .select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__g"),
            F.col("codes").alias("__codes"),
        )
        .localCheckpoint(eager=False)
    )
    counts = z.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    dim_sums = (
        z.select("__g", F.posexplode("__codes").alias("__pos", "__c"))
        .groupBy("__g", "__pos")
        .agg(F.sum("__c").cast("bigint").alias("__s"))
    )
    centroids = (
        dim_sums.join(counts, "__g")
        .withColumn(
            "__m",
            F.floor(
                F.col("__s").cast("double") / F.col("__n") + F.lit(0.5)
            ).cast("long"),
        )
        .groupBy("__g", "__n")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__m"))
                ),
                lambda p: p["__m"],
            ).alias("__mean")
        )
    )
    scored = (
        z.join(F.broadcast(centroids), "__g")
        .withColumn(
            "dist2",
            F.aggregate(
                F.zip_with(
                    "__codes",
                    "__mean",
                    lambda c, m: (c.cast("long") - m) * (c.cast("long") - m),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + t,
            ),
        )
        .localCheckpoint(eager=False)
    )
    totals = scored.groupBy("__g").agg(
        F.sum("dist2").cast("bigint").alias("__total")
    )
    return (
        scored.join(F.broadcast(totals), "__g")
        .select(
            F.col("__id").alias(id_col),
            F.col("__g").alias(group_col),
            F.col("dist2"),
            (
                F.col("dist2") * F.col("__n") * F.lit(k_den)
                <= F.lit(k_num) * F.col("__total")
            ).alias("keep"),
        )
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    k: int = 8,
    per_cluster: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced corpus subsampling: assign every vector to its
    nearest content-addressed centroid (the SemDeDup assignment — int8
    codes, exact-integer cosine ordering), then keep the ``per_cluster``
    members with the smallest salted md5 inside each cluster. The
    diversity-preserving downsampling step (DataComp / SemDeDup-family
    pipelines): a uniform sample over-represents dense regions; sampling
    a fixed quota per embedding cluster keeps coverage of the tails.

    Deterministic end-to-end (content-addressed centroids, exact integer
    score ordering, md5 sample keys), so the same corpus yields the same
    sample on any engine/partitioning. Per-cluster selection is a
    window top-k over the cluster id — cluster COUNT scales with the
    corpus (pass k ~ sqrt(n/2) like semdedup), and Spark 4 plans the
    rank filter as WindowGroupLimit, pruning each task's candidates to
    ``per_cluster`` BEFORE the exchange, so the shuffle carries at most
    per_cluster x tasks rows per cluster.

    Returns (id, cluster_id, sample_rank) — the kept rows only.
    """
    embeddings = spread(embeddings)
    z = quantize_int8(embeddings, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("__id"),
        F.col("codes").alias("__codes"),
        int_dot("codes", "codes").cast("bigint").alias("__n2"),
    )
    # two consumers (centroid pick + assignment join): cut so the
    # quantize+dot pipeline computes once (PERF_NOTES §7)
    z = z.localCheckpoint(eager=False)
    # a zero-norm centroid scores NaN against every vector; NaN wins the
    # argmax, so one degenerate centroid would swallow the whole corpus
    # into a single cluster — keep the centroid pool norm-positive
    # (oracle mirrors the filter before its row_number).
    cent = (
        z.filter(F.col("__n2") > 0)
        .orderBy(F.md5(F.col("__id").cast("string")).asc(), F.col("__id").asc())
        .limit(k)
        .select(
            F.col("__id").alias("__cid"),
            F.col("__codes").alias("__ccodes"),
            F.col("__n2").alias("__cn2"),
        )
    )
    scored = (
        z.join(F.broadcast(cent))
        .withColumn("__q", int_dot("__codes", "__ccodes").cast("bigint"))
        .withColumn("__score", signed_sq_cos("__q", "__cn2"))
    )
    assigned = scored.groupBy("__id").agg(
        F.max_by(
            F.col("__cid"),
            F.struct(F.col("__score"), (-F.col("__cid")).alias("__nc")),
        ).alias("__cid")
    )
    w = Window.partitionBy("__cid").orderBy(
        F.md5(F.concat(F.lit("s:"), F.col("__id").cast("string"))).asc(),
        F.col("__id").asc(),
    )
    return (
        assigned.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= per_cluster)
        .select(
            F.col("__id").alias(id_col),
            F.col("__cid").alias("cluster_id"),
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


def embedding_drift_by_cohort(
    embeddings: DataFrame,
    cohort: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ordered: bool = True,
) -> DataFrame:
    """Embedding-space drift monitor: per-dimension centroid shift between
    two cohorts (yesterday's snapshot vs today's, corpus A vs corpus B —
    any boolean ``cohort`` column). The embedding-space counterpart of
    the scalar PSI/KS drift checks: a retrained encoder, a source-mix
    change, or an ingestion bug shows up as a centroid shift long before
    downstream metrics move.

    Exact by the outlier-filter discipline: int8 codes, per-cohort
    per-dim BIGINT sums, HALF-UP integer means (one correctly-rounded
    IEEE division each), integer shift. Spark has no elementwise
    array-sum aggregate, and both built-in routes measured poorly at
    sf1: posexplode materializes corpus x dim rows through the shuffle
    (7.3 s) and a 2x(dim+1)-column conditional aggregate updates 130
    buffers per row (5.6 s) — so the partial sums are Arrow-batched
    numpy column sums per partition (integer, exact, order-free), and
    only the tiny (2 x batches) partial frame explodes to (dim) keys
    for the final combine. 1.7 s at sf1, and the corpus-sided work is
    one narrow BLAS pass at any scale.

    Returns (dim, n_a, n_b, mean_a, mean_b, shift) ordered by dim.
    """
    # NULL embeddings would crash the numpy partial (None is not a code
    # array) — a drift monitor must survive the ingestion bugs it
    # exists to detect, so drop them up front (oracle mirrors). Vectors
    # must share one dimension (the table contract; ragged input is a
    # schema violation upstream of this operator).
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    # CPU-bound quantize+md5 projection: spread across cores — profiled
    # 5.7 s on the sf1 file's 2 input splits vs ~1 s spread (§8).
    # (Streaming frames have no .rdd and micro-batches set their own
    # parallelism — the operator runs unchanged on a stream without it.)
    if not embeddings.isStreaming:
        embeddings = spread(embeddings)
    z = quantize_int8(embeddings, id_col=id_col, vec_col=vec_col).select(
        cohort.alias("__a"), F.col("codes").alias("__codes")
    )

    sums = StructType.fromDDL("__a boolean, __n bigint, __sums array<bigint>")

    def partials(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            # a NULL cohort flag counts as cohort B
            a = pc.fill_null(batch.column(0), False).to_numpy(zero_copy_only=False)
            A = vectors(batch.column(1)).astype(np.int64)
            out = [
                (flag, int(mask.sum()), A[mask].sum(axis=0).tolist())
                for flag, mask in ((True, a), (False, ~a))
                if mask.any()
            ]
            yield rows_batch(out, sums)

    partial = z.mapInArrow(partials, sums)
    rows = (
        partial.select(
            "__a", "__n", F.posexplode("__sums").alias("dim", "__s")
        )
        .groupBy("dim")
        .agg(
            F.sum(F.when(F.col("__a"), F.col("__n")).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(~F.col("__a"), F.col("__n")).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("__a"), F.col("__s")).otherwise(0))
            .cast("bigint")
            .alias("__s_a"),
            F.sum(F.when(~F.col("__a"), F.col("__s")).otherwise(0))
            .cast("bigint")
            .alias("__s_b"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n_a",
            "n_b",
            "__s_a",
            "__s_b",
        )
    )
    mean = lambda s, n: F.when(  # noqa: E731
        F.col(n) == 0, F.lit(0).cast("bigint")
    ).otherwise(
        F.floor(F.col(s).cast("double") / F.col(n) + F.lit(0.5)).cast("long")
    )
    out = (
        rows.withColumn("mean_a", mean("__s_a", "n_a"))
        .withColumn("mean_b", mean("__s_b", "n_b"))
        .select(
            "dim",
            "n_a",
            "n_b",
            "mean_a",
            "mean_b",
            F.abs(F.col("mean_a") - F.col("mean_b")).alias("shift"),
        )
    )
    if ordered:
        # dim rows only — the sort is free and honors the documented
        # by-dimension contract for consumers that zip against a
        # dim-indexed reference
        out = out.orderBy("dim")
    return out


def hard_negative_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most-cosine-similar corpus vectors with a
    DIFFERENT label — the examples a retrieval/embedding model must
    learn to push apart, and the standard second pass after random
    negatives stop improving (DPR / SimCSE-style pipelines).

    Exact and engine-portable by the SemDeDup discipline: int8 codes,
    candidate ordering by the signed ``(q.c)^2 / |c|^2`` score (one
    correctly-rounded IEEE division of exact BIGINTs — both engines
    order identically), ties to the smallest neighbor id. Queries are a
    bounded content-addressed sample (smallest md5(id) — deterministic
    on any engine/partitioning) broadcast against the corpus, so the
    corpus-sided work is one narrow scoring pass; the per-query top-k
    is a window Spark 4 pre-prunes with WindowGroupLimit before the
    exchange. Swap the sample for a real query set at production scale;
    the plan shape is unchanged.

    Returns (query_id, neighbor_id, rank, qdot, n2) — qdot/n2 are the
    exact integers behind the ranking, so the output is float-free.
    """
    embeddings = spread(embeddings)
    z = (
        quantize_int8(embeddings, id_col=id_col, vec_col=vec_col)
        .select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__lbl"),
            F.col("codes").alias("__codes"),
            int_dot("codes", "codes").cast("bigint").alias("__n2"),
        )
        # zero-norm vectors have no cosine: as candidates their score is
        # 0/0 = NaN, which sorts above every finite score and would
        # displace a real hard negative at rank 1; as queries they rank
        # everything at 0. Exclude them on both sides (oracle mirrors).
        # NULL-label vectors are ALSO excluded on both sides — not by
        # this filter but by the join predicate below (`__lbl != __qlbl`
        # is NULL when either side is NULL, matching the oracle's
        # `label <> qlbl`): a row with no label can't be a "different-
        # label" hard negative, and an unlabeled query has no negative
        # class. Documented here because the exclusion is implicit.
        .filter(F.col("__n2") > 0)
        # (two consumers — query pick + scoring join — but the §7 cut
        # A/B-measured neutral-to-negative here: the n_queries-row
        # TakeOrdered is cheap relative to the checkpoint write, unlike
        # semdedup's filtered centroid pool. Deliberately no checkpoint.)
    )
    q = (
        z.orderBy(F.md5(F.col("__id").cast("string")).asc(), F.col("__id").asc())
        .limit(n_queries)
        .select(
            F.col("__id").alias("query_id"),
            F.col("__lbl").alias("__qlbl"),
            F.col("__codes").alias("__qcodes"),
        )
    )
    scored = (
        z.join(F.broadcast(q), F.col("__lbl") != F.col("__qlbl"))
        .withColumn("qdot", int_dot("__codes", "__qcodes").cast("bigint"))
        .withColumn("__score", signed_sq_cos("qdot", "__n2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("__id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "qdot",
            F.col("__n2").alias("n2"),
        )
    )
