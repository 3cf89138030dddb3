"""Deduplication operators: exact, window-ranked, and near-duplicate.

The reference's only dedup is window-ranked keep-first by business key
(.ipynb_checkpoints/iceberg_bronze_to_silver-checkpoint.py:134-141) with a
degenerate ``orderBy(partition_key)`` — ties broken arbitrarily (SURVEY.md
§2.5). ``window_dedup`` generalizes it with an explicit, deterministic
tiebreaker, which is what a reproducible pipeline needs.

Near-duplicate operators (MinHash-LSH, SimHash, n-gram Jaccard) target the
LLM-data-pipeline charter. All of them are built from JVM-side higher-order
functions + shuffles on bounded keys:

- MinHash-LSH: shingle -> per-seed min of xxhash64 -> band -> bucket-join.
  The candidate join is an equi-join on (band_id, band_hash), so at 100 TB it
  is an ordinary shuffle join on a high-cardinality key — no cross join ever
  materializes. Band count trades recall vs candidate volume.
- SimHash: 60-bit signature via sign-aggregated md5-prefix token-hash bits;
  candidates via banded signature chunks (hamming-adjacent docs collide on
  some chunk).
- Survivors: pairs -> ``graph.connected_components`` -> one row per cluster.
- Exact: groupBy on content (or sha2(content)) keeping the minimum id —
  deterministic, map-side-combinable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expr import let_
from ..session import spread
from .graph import connected_components


def window_dedup(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per ``keys``, the first under ``order_by``.

    Generalizes reference W1 (row_number over partitionBy(key) -> rn == 1 ->
    drop rn) with a caller-supplied deterministic ordering.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(
    df: DataFrame,
    content_cols: Sequence[str],
    id_col: str | None = None,
) -> DataFrame:
    """Exact dedup on ``content_cols``.

    Without ``id_col``: distributed ``dropDuplicates`` (nondeterministic
    survivor, cheapest). With ``id_col``: deterministic keep-min-id via
    window, returning all original columns.
    """
    if id_col is None:
        return df.dropDuplicates(list(content_cols))
    return window_dedup(df, content_cols, [F.col(id_col).asc()])


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array, JVM-side.

    sequence(0, size-n) -> transform(i -> concat_ws(' ', slice(tokens, i+1, n)))

    The token array is bound once via ``let_`` so a computed input (e.g. a
    split) is not re-evaluated per shingle (O(L^2) per row otherwise).
    """

    def body(tk: Column) -> Column:
        count = F.greatest(F.size(tk) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(0), count - 1)
        return F.when(count == 0, F.array()).otherwise(
            F.array_distinct(
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n))
                )
            )
        )

    return let_(tokens, body)


def _tokenize(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def hashed_shingles(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word-n-gram shingle HASHES, without materializing shingle strings:
    one xxhash64 pass over tokens, then each shingle hash combines n
    consecutive token hashes with one more xxhash64. String concatenation was
    the hot spot of the string-shingle formulation (~3x the cost of the rest
    of the MinHash pipeline combined); 64-bit hash collisions are negligible
    for Jaccard estimation.

    ``distinct=False`` skips the array_distinct: MinHash signatures take a
    min over the array, so duplicates cannot change the result — only the
    exact-Jaccard verify (set semantics) needs the distinct pass.

    The token-hash array is bound ONCE via ``let_``: the gram lambda
    references it n+1 times, and unbound references re-evaluate the whole
    tokenize+hash subtree per gram — O(L^2) per document (measured 7.4 s
    -> 0.37 s, 20x, on the sf1 shingling stage)."""

    def body(th: Column) -> Column:
        count = F.greatest(F.size(th) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(0), count - 1)
        mk = lambda i: F.xxhash64(  # noqa: E731
            *[F.get(th, i + j) for j in range(n)]
        )
        arr = F.transform(idx, mk)
        if distinct:
            arr = F.array_distinct(arr)
        return F.when(count == 0, F.array().cast("array<bigint>")).otherwise(
            arr
        )

    return let_(F.transform(_tokenize(text), lambda t: F.xxhash64(t)), body)


_MERSENNE31 = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p, a_i odd, all < 2^31."""
    params = []
    x = seed
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = ((x >> 33) | 1) % _MERSENNE31
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (x >> 33) % _MERSENNE31
        params.append((a or 1, b))
    return params


def _bucket_pairs(
    banded: DataFrame,
    bucket_cols: Sequence[str],
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from LSH buckets, WITHOUT a self-join.

    groupBy(bucket) -> sorted id list -> explode all in-bucket combinations.
    Compared to the banded self-join this computes the signature pipeline
    once (the join duplicated it — one side becomes a BroadcastExchange with
    its own copy of the subtree) and shuffles once.

    Buckets larger than ``max_bucket`` are dropped: an LSH bucket that big
    means a degenerate band (near-constant content); its pairs are both
    quadratic and useless — the standard "too common" guard at corpus scale.
    """
    grouped = (
        banded.groupBy(*bucket_cols)
        .agg(F.collect_list("id").alias("ids0"))
        .filter((F.size("ids0") > 1) & (F.size("ids0") <= max_bucket))
        .select(F.array_sort("ids0").alias("ids"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # explode_outer: plain explode triggers InferFiltersFromGenerate, which
    # inlines the whole combination expression into a size()>0 filter and
    # evaluates it twice per bucket; >= 2 ids guarantee >= 1 pair, so outer
    # semantics are identical.
    return (
        grouped.select(F.explode_outer(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _pair_value_join(
    src: DataFrame,
    id_col: str,
    text_col: str,
    cand: DataFrame,
    value_steps: Sequence,
    par: int,
    use_broadcast: bool = True,
) -> DataFrame:
    """(id_a, id_b, val_a, val_b) for candidate pairs.

    ``use_broadcast=True`` (default): explode each pair into its two sides,
    broadcast the sides into ONE corpus scan, evaluate ``value_steps`` (a
    chain of Column->Column builders, each materialized in its own select so
    CollapseProject cannot inline a multi-referenced upstream into a lambda)
    only for surviving rows — redistributed across ``par`` cores first —
    and reunite the sides with a groupBy over ~2x|cand| rows. The candidate
    subtree is referenced exactly once (each broadcast() is its own
    exchange; referencing it twice would execute the whole candidate
    pipeline per reference), the corpus is scanned once, and per-document
    values never shuffle.

    ``use_broadcast=False``: plain shuffle joins of the pair list against a
    corpus-wide value table — for candidate volumes too large to broadcast.
    """
    if use_broadcast:
        sides = cand.select(
            "id_a",
            "id_b",
            F.explode_outer(  # outer: always 2 elements; skip inferred filter
                F.array(
                    F.struct(F.col("id_a").alias("id"), F.lit("a").alias("side")),
                    F.struct(F.col("id_b").alias("id"), F.lit("b").alias("side")),
                )
            ).alias("s"),
        ).select(
            "id_a", "id_b", F.col("s.id").alias("id"), F.col("s.side").alias("side")
        )
        # repartition on the PAIR KEY, not round-robin (r11, guide §2.4):
        # HashPartitioning(id_a, id_b) both spreads the CPU-bound value
        # computation across `par` cores AND satisfies the reunite
        # groupBy's required distribution, so the aggregation reuses this
        # exchange — one shuffle where round-robin + groupBy paid two
        # (and round-robin's mandatory sort-before-repartition besides).
        # Spread is equivalent: every pair contributes exactly 2 rows.
        joined = src.join(F.broadcast(sides), src[id_col] == sides["id"]).select(
            "id_a", "id_b", "side", F.col(text_col).alias("__v")
        )
        joined = joined.repartition(par, "id_a", "id_b")
        for step in value_steps:
            joined = joined.select(
                "id_a", "id_b", "side", step(F.col("__v")).alias("__v")
            )
        return joined.groupBy("id_a", "id_b").agg(
            F.first(
                F.when(F.col("side") == "a", F.col("__v")), ignorenulls=True
            ).alias("val_a"),
            F.first(
                F.when(F.col("side") == "b", F.col("__v")), ignorenulls=True
            ).alias("val_b"),
        )
    tbl = spread(
        src.select(F.col(id_col).alias("id"), F.col(text_col).alias("__v"))
    )
    for step in value_steps:
        tbl = tbl.select("id", step(F.col("__v")).alias("__v"))
    return cand.join(
        tbl.select(F.col("id").alias("id_a"), F.col("__v").alias("val_a")),
        on="id_a",
    ).join(
        tbl.select(F.col("id").alias("id_b"), F.col("__v").alias("val_b")),
        on="id_b",
    )


def shingle_hashes(sh: Column) -> Column:
    """Reduce hashed shingles mod 2^31-1 for the affine MinHash family.
    Materialize in its own projection before ``minhash_signature`` — the
    signature references it num_hashes times and must not re-inline the
    upstream hashing (CollapseProject keeps non-cheap multi-referenced
    aliases in their own project)."""
    return F.transform(sh, lambda s: F.pmod(s, F.lit(_MERSENNE31)))


def minhash_signature(base_hashes: Column, num_hashes: int = 64) -> Column:
    """MinHash signature via affine re-hash of pre-computed shingle hashes.

    The ``num_hashes`` signature slots use the universal family
    (a_i*h + b_i) mod 2^31-1 — cheap long arithmetic that stays well inside
    64-bit range (ANSI-overflow-safe), ~30x cheaper than re-hashing strings
    per seed. Empty shingle sets get a sentinel signature.

    Expressed as ONE transform over a literal (a, b) parameter array rather
    than ``num_hashes`` separate array_min(transform(...)) columns: the
    unrolled form built a 64-lambda expression tree that cost ~1.4 s of
    DRIVER-side Catalyst analysis per query build — about 40% of the whole
    operator's wall time at sf0.1. Same math, same slot order, O(1) plan
    nodes.

    The F.size guard is load-bearing twice over: it is the empty-set
    sentinel AND a second reference to ``base_hashes``, which stops
    CollapseProject from inlining the (expensive) upstream hash-array
    definition into the 64-iteration lambda — inlined, the upstream array
    is recomputed once per slot, a measured ~10x slowdown."""
    # One F.expr parse instead of ~200 py4j round-trips (64 x lit/lit/struct):
    # constructing this literal array Column-by-Column cost ~0.3 s of
    # driver time PER QUERY BUILD — a third of the operator's warm build.
    params = F.expr(
        "array("
        + ",".join(
            f"named_struct('a',{a}L,'b',{b}L)"
            for a, b in _affine_params(num_hashes)
        )
        + ")"
    )
    sentinel = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)
    return F.when(F.size(base_hashes) <= 0, sentinel).otherwise(
        F.transform(
            params,
            lambda p: F.coalesce(
                F.array_min(
                    F.transform(
                        base_hashes,
                        lambda h: F.pmod(h * p["a"] + p["b"], F.lit(_MERSENNE31)),
                    )
                ),
                F.lit(_MERSENNE31),
            ),
        )
    )


def band_hashes(sig: Column, num_hashes: int, bands: int) -> Column:
    """LSH band keys from a MinHash signature: one xxhash64 per band over
    that band's signature slots (band index salted in, so identical rows in
    different bands never collide)."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[
                    F.element_at(sig, b * rows_per_band + i + 1)
                    for i in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact shingle-Jaccard >= threshold).

    Plan shape (scale-first): signature computation is a narrow map (no
    array_distinct — min over the shingle array is duplicate-insensitive);
    candidate generation explodes ``bands`` rows per doc and equi-joins on
    (band, band_hash) — a shuffle join on a well-distributed key; the final
    exact-Jaccard verification computes DISTINCT shingles only for documents
    that appear in a candidate pair. No cross join at any stage.

    Verify stage: the candidate id set is broadcast into ONE semi-join scan
    of the corpus, shingles are hashed for just those documents, and the
    two sides of each pair meet in a groupBy over ~2x|candidates| rows —
    the corpus text is scanned once and full shingle arrays never shuffle.
    The broadcast is bounded by the candidate volume (itself bounded by the
    ``max_bucket`` degenerate-band guard).
    """
    # CPU-bound signature stage: spread across all cores even when the source
    # is a single small file (one input split). The shuffle moves only raw
    # text once; at real scale the source has many splits and this coalesces
    # to a no-op-ish even redistribution.
    # verify scans read straight from the source (no repartition exchange:
    # the broadcast-side verify join streams the scan, so the extra text
    # shuffle would be pure overhead there)
    src = df
    par = df.sparkSession.sparkContext.defaultParallelism
    df = spread(df)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            hashed_shingles(F.col(text_col), shingle_n, distinct=False).alias(
                "sh"
            ),
        )
        .withColumn("bh", shingle_hashes(F.col("sh")))
        .withColumn("sig", minhash_signature(F.col("bh"), num_hashes))
        .drop("bh")
    )

    # Band keys only — (id, band, band_hash) triples. The shingle arrays do
    # NOT travel through the x`bands` explode/shuffle (that would replicate
    # every document's shingles `bands` times); they are joined back for the
    # (tiny) verified candidate set instead.
    # posexplode_outer: explode's inferred size()>0 filter would inline the
    # full signature pipeline into a predicate (band_hashes always emits
    # `bands` rows, so outer changes nothing).
    banded = base.select(
        "id",
        F.posexplode_outer(band_hashes(F.col("sig"), num_hashes, bands)).alias(
            "band", "bh"
        ),
    )
    cand = _bucket_pairs(banded, ["band", "bh"])

    inter = F.size(F.array_intersect("val_a", "val_b"))
    union = F.size(F.array_union("val_a", "val_b"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)

    pairs = _pair_value_join(
        src,
        id_col,
        text_col,
        cand,
        [lambda t: hashed_shingles(t, shingle_n)],
        par,
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def token_hashes_portable(text: Column) -> Column:
    """60-bit md5-prefix token hashes (conv(substr(md5(t),1,15),16,10)) —
    bit-identical in any engine that has md5, which is what lets the
    SimHash registry query carry a FULL DuckDB oracle (the same hash as
    ``text.winnow_fingerprints``). Materialize in its own projection before
    ``simhash_signature_packed`` (same CollapseProject reasoning as
    ``shingle_hashes``)."""
    return F.transform(
        _tokenize(text),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )


def simhash_signature_packed(hashes: Column, bits: int) -> Column:
    """SimHash signature PACKED into one BIGINT: bit b is set iff at least
    half the token hashes have bit b set (majority-sign rule, deterministic
    ``2*cnt >= n`` tie convention).

    The packed form makes hamming distance a single
    ``bit_count(a XOR b)`` instead of a 64-element ``zip_with`` fold, and
    it is reproducible in DuckDB (``list_sum`` over per-bit masks +
    ``bit_count(xor(..))``), so pipelines built on it can be value-checked
    by a full SQL oracle. ``bits=64`` packs bit 63 via the negative
    two's-complement mask; ``bits<=63`` stays non-negative.

    Plan-build economics: ONE literal mask array parsed in a single
    ``F.expr`` + one aggregate lambda — ``bits`` unrolled filter columns
    cost ~8 s of driver-side Catalyst analysis per query build (90% of
    dedup_simhash's wall time at sf0.1, the same pathology
    minhash_signature had). ``(h & mask) != 0`` is the column-friendly
    form of ``shiftright(h, b) & 1 == 1``; ``hashes`` is referenced
    twice (filter + size), which keeps its projection from being inlined
    into the per-bit lambda (CollapseProject keeps multi-referenced
    non-cheap aliases)."""
    masks = F.expr(
        "array("
        + ",".join(
            str((1 << b) if b < 63 else -(1 << 63)) + "L" for b in range(bits)
        )
        + ")"
    )
    n = F.size(hashes)
    return F.aggregate(
        masks,
        F.lit(0).cast("bigint"),
        lambda acc, m: acc
        + F.when(
            F.size(F.filter(hashes, lambda h: h.bitwiseAND(m) != 0)) * 2 >= n,
            m,
        ).otherwise(F.lit(0).cast("bigint")),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    chunks: int = 6,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the signature into ``chunks`` pieces,
    candidates collide on >=1 piece (guaranteed to catch hamming distance
    < chunks), then verify exact hamming distance <= max_hamming.

    Signatures are PACKED BIGINTs (:func:`simhash_signature_packed`), so
    the verify is one ``bit_count(XOR)`` per candidate pair instead of a
    ``bits``-element fold.

    Exactness: whenever ``max_hamming < chunks``, the banding is
    recall-COMPLETE by pigeonhole (<= max_hamming differing bits cannot
    touch every chunk), so the emitted set is exactly
    ``{(a, b) : hamming(sig_a, sig_b) <= max_hamming}`` — a closed-form
    answer a SQL oracle can verify without reproducing the banding.
    (A spurious xxhash64 bucket collision can only ADD a candidate that
    the hamming filter re-checks, never drop one; the ``_bucket_pairs``
    degenerate-bucket guard never binds below ``max_bucket`` documents
    per band value.)

    Token hashes are the 60-bit md5-prefix integers of
    :func:`token_hashes_portable`, so the ENTIRE pipeline — tokenize, hash,
    majority-sign signature, hamming — is engine-reproducible and the
    registry query carries a full DuckDB oracle. ``bits`` defaults to the
    hash width: signature bits above it would always be zero.
    """
    src = df
    par = df.sparkSession.sparkContext.defaultParallelism
    df = spread(df)
    base = df.select(
        F.col(id_col).alias("id"),
        token_hashes_portable(F.col(text_col)).alias("__th"),
    ).select("id", simhash_signature_packed(F.col("__th"), bits).alias("sig"))
    per = bits // chunks
    # (id, chunk, chunk-hash) only; signatures join back onto the deduped
    # candidate set (same no-replication shape as minhash_lsh_pairs).
    chunk_mask = (1 << per) - 1
    chunk_hashes = F.array(
        *[
            F.xxhash64(
                F.lit(c),
                F.shiftrightunsigned(F.col("sig"), c * per).bitwiseAND(
                    F.lit(chunk_mask)
                ),
            )
            for c in range(chunks)
        ]
    )
    banded = base.select(
        "id", F.posexplode_outer(chunk_hashes).alias("chunk", "ch")
    )  # outer: skip the inferred-filter re-inline; always `chunks` elements
    cand = _bucket_pairs(banded, ["chunk", "ch"])
    # shuffle-join verify (use_broadcast=False), NOT the broadcast-sides
    # plan minhash uses: the 8-chunk collision guarantee makes simhash
    # candidate graphs DENSE on template-heavy corpora, and the
    # per-pair-side value computation would evaluate the 64-pass signature
    # once per side row (measured 40x slower at sf0.1) — per-document
    # signatures joined by id are the right shape here
    pairs = _pair_value_join(
        src,
        id_col,
        text_col,
        cand,
        [token_hashes_portable, lambda th: simhash_signature_packed(th, bits)],
        par,
        use_broadcast=False,
    )
    hamming = F.bit_count(
        F.col("val_a").bitwiseXOR(F.col("val_b"))
    ).cast("int")
    # coalesce keeps the threshold filter non-null-rejecting: a bare
    # `hamming <= max` lets InferFiltersFromConstraints derive
    # isnotnull(val) and push the ENTIRE 60-mask signature aggregate into
    # a Filter below the value projection — every signature evaluated
    # twice per corpus row (caught by test_expr_binding's re-inline
    # detector). vals are never null by construction, so the sentinel
    # branch never fires.
    return (
        pairs.withColumn("hamming", hamming)
        .filter(
            F.coalesce(F.col("hamming"), F.lit(max_hamming + 1))
            <= max_hamming
        )
        .select("id_a", "id_b", "hamming")
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per near-dup cluster (the min-id member) plus all rows
    that appear in no pair. The end-to-end dedup output: pairs -> connected
    components -> survivors."""
    # reserved-name aliases: a caller whose id_col is literally "id" must
    # not have its column swallowed by drop-by-name (which removes ALL
    # occurrences of a name after a join)
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("__cc_id"), F.col("component").alias("__cc_comp")
    )
    tagged = df.join(comp, df[id_col] == comp["__cc_id"], "left")
    return (
        tagged.filter(
            F.col("__cc_comp").isNull() | (F.col(id_col) == F.col("__cc_comp"))
        )
        .drop("__cc_id", "__cc_comp")
    )


def dedup_survivors_by_quality(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the HIGHEST-QUALITY row per near-dup cluster (id as tiebreak)
    plus all unpaired rows — the production survivor policy: when a cluster
    mixes a clean page and its boilerplate-ridden mirror, min-id keeps
    whichever crawled first; quality-argmax keeps the one you want to train
    on. One ranking window per component after the components join."""
    # reserved-name aliases (see dedup_survivors): drop-by-name after the
    # join must never match the caller's own id column
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("__cc_id"), F.col("component").alias("__cc_comp")
    )
    tagged = df.join(comp, df[id_col] == comp["__cc_id"], "left").drop("__cc_id")
    # unpaired rows form singleton clusters keyed by their own id
    clustered = tagged.withColumn(
        "__cluster", F.coalesce(F.col("__cc_comp"), F.col(id_col))
    )
    w = Window.partitionBy("__cluster").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        clustered.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__cc_comp", "__cluster", "__rk")
    )


def _rarest_first_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
    eval_pred: Column | None = None,
) -> tuple[DataFrame, DataFrame, Column]:
    """Shared front half of the prefix-filtered set-similarity joins
    (All-Pairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) behind
    ``containment_join``, ``jaccard_join`` and ``jaccard_cross_best_match``.

    Returns ``(base, ordered, prefix_len)``:

    - ``base``: ``(__id, [__ev,] __tk)`` — each document's DISTINCT hashed
      word-n-gram shingles (xxhash64 over ``shingle_n`` consecutive token
      hashes), documents shorter than ``shingle_n`` words dropped;
    - ``ordered``: ``(__id, [__ev,] __srt)`` — the same shingles sorted by
      ascending global document frequency, ties by hash (rarest first);
    - ``prefix_len``: ``|X| - ceil(t|X|) + 1`` over ``__srt``, the prefix
      that must hold the first shared shingle of any pair reaching ``t``.

    ``eval_pred`` (optional) is carried through both frames as the boolean
    ``__ev`` side tag. Candidate generation and verification stay with the
    callers: their predicates and outputs differ.
    """
    # CPU-bound shingling: spread across cores even when the source is one
    # input split.
    df = spread(df)
    ev = [] if eval_pred is None else ["__ev"]
    # NOTE: split on a literal single space, NOT _tokenize — the oracle
    # (and the reference's notion of a "word") is a raw space split with
    # empties removed, no lowercasing.
    #
    # __th MUST be its own projection: the gram lambda references it
    # shingle_n+1 times, and inlining would re-run tokenize+hash per
    # reference per element — O(L^2) per document (same CollapseProject
    # discipline as ``shingle_hashes``; a non-cheap multi-referenced alias
    # is kept materialized, so downstream F.get reads a bound array).
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    # Short-doc guard as a PRE-filter on the word count, not a post-filter
    # on size(__tk): filtering the computed gram column gets pushed below
    # the projection by Catalyst, which INLINES the whole gram expression
    # into the predicate and evaluates it twice per row (measured 5.5 s ->
    # 0.23 s for this stage at sf0.1). "size(words) >= n" is equivalent to
    # "grams non-empty" and keeps the guard a cheap scalar predicate.
    hashed = df.filter(F.size(words) >= shingle_n).select(
        F.col(id_col).alias("__id"),
        *[eval_pred.alias(c) for c in ev],
        F.transform(words, lambda t: F.xxhash64(t)).alias("__th"),
    )
    th = F.col("__th")
    mk = lambda i: F.xxhash64(  # noqa: E731
        *[F.get(th, i + j) for j in range(shingle_n)]
    )
    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size(th) - shingle_n), mk)
    )
    base = hashed.select("__id", *ev, grams.alias("__tk"))
    # base feeds three or four consumers (toks below + both verify sides)
    # and Spark does NOT dedupe multi-consumer subtrees (0 ReusedExchange
    # in the executed plan — PERF_NOTES §7). Recompute still beats store:
    # the r5 A/B measured an EAGER store of the gram arrays slower (7.8 vs
    # 7.0 s at sf1), and the r11 re-run with a LAZY checkpoint of the slim
    # hashed rows lost again at both decades (sf1 containment 5.08 vs
    # 6.88 s; OPTIMIZATION_r11.md item 3). Recompute is a narrow codegen
    # map pipelined into each consumer; a checkpoint adds a
    # materialization barrier plus serialize+reread of the gram arrays.
    #
    # explode_outer, NOT explode: plain explode makes InferFiltersFromGenerate
    # add "size(__tk) > 0 AND isnotnull(__tk)", which alias-substitutes the
    # ENTIRE gram pipeline into a Filter below the projection — the array is
    # then computed twice per row, once with the token hashes re-inlined
    # O(L^2) (measured 5.6 s -> 0.76 s for this stage at sf0.1). The
    # pre-filter already guarantees every row has >= 1 gram, so outer
    # semantics are identical.
    toks = base.select("__id", *ev, F.explode_outer("__tk").alias("__tok"))
    # document frequency over EVERY row (both sides, for the cross-corpus
    # join): the rarest-first prefix order must be one global order or the
    # shared-prefix-shingle guarantee fails
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    # rarest-first order per doc: sort (df, tok) structs, keep the tok
    ordered = (
        toks.join(freq, "__tok")
        .groupBy("__id")
        .agg(
            *[F.first(c).alias(c) for c in ev],
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__tok"))),
                lambda s: s["__tok"],
            ).alias("__srt"),
        )
    )
    prefix_len = (
        F.size("__srt")
        - F.ceil(F.lit(threshold) * F.size("__srt")).cast("int")
        + 1
    )
    return base, ordered, prefix_len


def containment_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Directional set-containment join with PREFIX FILTERING (SSJoin):
    pairs (a, b) where |shingles(a) ∩ shingles(b)| / |shingles(a)| >= t —
    the "a is mostly contained in b" signal that catches quote-inclusion
    and boilerplate wrapping, which symmetric Jaccard under-scores.

    Prefix filter: order every doc's shingles by ascending global document
    frequency (rarest first); if containment >= t then a and b must share
    at least one of a's first |A| - ceil(t*|A|) + 1 shingles. Only that
    prefix is exploded on the probe side (the index side posts full lists),
    so the candidate join is |prefix| x df(token) instead of all-pairs —
    the classic similarity-join pruning that keeps this off the O(n^2)
    cliff at corpus scale. Exact verification via array_intersect on the
    candidate set only.

    Shingles are HASHED (xxhash64 over n consecutive token hashes, same
    trick as ``hashed_shingles``) so the freq/order/candidate shuffles and
    the verify arrays carry 8-byte longs, not ~30-byte strings — at sf1
    this stage was 7x the sf0.1 cost, nearly all of it candidate-side
    string traffic (docs/SCALING.md). Completeness is order-independent
    (any fixed total order works for the prefix bound), so ordering by
    (df, hash) instead of (df, string) changes nothing; |A∩B| is exact
    modulo 64-bit collisions (~2^-65 per shingle pair, far below the
    oracle's comparison grid). A length filter (|B| >= ceil(t*|A|), a
    necessary condition for containment) prunes candidates before the
    distinct shuffle.
    """
    base, ordered, prefix_len = _rarest_first_grams(
        df, id_col, text_col, shingle_n, threshold
    )
    # Both candidate sides come from `ordered` and carry the token's
    # POSITION in the doc's rarest-first order, enabling the PPJoin
    # positional bound below.
    probe = ordered.select(
        F.col("__id").alias("id_a"),
        F.size("__srt").alias("__sza"),
        # posexplode_outer for the same InferFiltersFromGenerate reason as
        # toks (prefix_len >= 1 on every row, so no rows are lost)
        F.posexplode_outer(F.slice(F.col("__srt"), 1, prefix_len)).alias(
            "__pa", "__tok"
        ),
    )
    index = ordered.select(
        F.col("__id").alias("id_b"),
        F.size("__srt").alias("__szb"),
        F.posexplode_outer("__srt").alias("__pb", "__tok"),
    )
    need = F.ceil(F.lit(threshold) * F.col("__sza")).cast("int")
    # PPJoin positional upper bound on |A∩B| for a pair meeting at
    # positions (pa, pb) of their shared global order: at A's (and B's)
    # FIRST shared token every shared token sits at position >= pa (>= pb),
    # so overlap <= 1 + min(|A|-1-pa, |B|-1-pb). Complete: when overlap >=
    # need, the first shared token is inside A's prefix (prefix-filter
    # guarantee) and its row passes this bound; later shared tokens may be
    # pruned, which only removes duplicate (id_a, id_b) rows the distinct
    # would have dropped anyway.
    ub = F.lit(1) + F.least(
        F.col("__sza") - 1 - F.col("__pa"),
        F.col("__szb") - 1 - F.col("__pb"),
    )
    cand = (
        probe.join(index, "__tok")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            # |A∩B| >= ceil(t*|A|) forces |B| >= ceil(t*|A|): prune before
            # the distinct shuffle and the array-verify join
            & (F.col("__szb") >= need)
            & (ub >= need)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = base.select(F.col("__id").alias("id_a"), F.col("__tk").alias("__tka"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__tk").alias("__tkb"))
    cont = F.size(F.array_intersect("__tka", "__tkb")) / F.size("__tka")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def jaccard_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT Jaccard similarity join: pairs (a < b) with
    |A∩B| / |A∪B| >= t over distinct word-n-gram shingles — the
    deterministic alternative to MinHash-LSH (no recall loss, no hash
    tuning), viable at scale because of DOUBLE prefix filtering:

    J(A,B) >= t implies overlap o >= t|A| and o >= t|B| (from
    o/(|A|+|B|-o) >= t and |B| >= o), so the FIRST shared shingle in the
    global rarest-first order lies within BOTH documents' prefixes of
    length |X| - ceil(t|X|) + 1 — the candidate join is prefix x prefix
    (the All-Pairs/PPJoin bound), quadratically smaller than prefix x
    full-index. Additional prunes before the distinct: length ratio
    (t|A| <= |B| <= |A|/t) and the positional bound
    1 + min(|A|-1-pa, |B|-1-pb) >= ceil(t(|A|+|B|)/(1+t)). Exact
    verification via array_intersect on candidates only. Shingling and
    the global order come from ``_rarest_first_grams``; oracle is the full
    quadratic join.
    """
    base, ordered, prefix_len = _rarest_first_grams(
        df, id_col, text_col, shingle_n, threshold
    )

    def side(idn: str, szn: str, pn: str) -> DataFrame:
        return ordered.select(
            F.col("__id").alias(idn),
            F.size("__srt").alias(szn),
            F.posexplode_outer(F.slice(F.col("__srt"), 1, prefix_len)).alias(
                pn, "__tok"
            ),
        )

    sa, sb = F.col("__sza"), F.col("__szb")
    o_need = F.ceil(
        F.lit(threshold) * (sa + sb) / F.lit(1.0 + threshold)
    ).cast("int")
    ub = F.lit(1) + F.least(
        sa - 1 - F.col("__pa"), sb - 1 - F.col("__pb")
    )
    cand = (
        side("id_a", "__sza", "__pa")
        .join(side("id_b", "__szb", "__pb"), "__tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (sb >= F.ceil(F.lit(threshold) * sa).cast("int"))
            & (sa >= F.ceil(F.lit(threshold) * sb).cast("int"))
            & (ub >= o_need)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = base.select(F.col("__id").alias("id_a"), F.col("__tk").alias("__tka"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__tk").alias("__tkb"))
    inter = F.size(F.array_intersect("__tka", "__tkb"))
    union = F.size("__tka") + F.size("__tkb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def span_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Remove cross-document duplicated spans and REBUILD the documents.

    Word-level analog of suffix-array training-set dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``span_n``-word window that appears in >= ``min_docs`` distinct
    documents is scrubbed from every document EXCEPT the canonical one
    (min id containing the span), and the surviving words are re-joined
    into text. Unlike doc-level dedup (exact/MinHash) this is sub-document
    surgery — boilerplate shared by otherwise-distinct docs is deleted
    while both docs survive.

    Plan shape (all JVM HOFs + two shuffles on bounded keys):
      1. per-doc span windows with 1-based start positions — sequence +
         slice inside one let_-bound split (no O(L^2) re-split);
      2. groupBy(span hash) -> (distinct-doc count, min doc) — the
         duplicated-span dictionary; an ordinary shuffle agg, map-side
         combinable. The key is xxhash64 OF the window, computed inside
         the narrow span projection, so the shuffle carries 8-byte keys
         instead of ~40-byte span strings — the string itself is never
         needed downstream (the rebuild uses positions). The round-6
         sf100 decade forced this: the string-keyed occurrence shuffle
         (~1B spans x ~50 B) overran a 56 GB /tmp; hashed keys cut the
         occurrence row to (id, pos, hash, len) = 24 B. The key is the
         PAIR (xxhash64, span byte length): a false scrub needs both to
         collide, pushing the odds orders below hash-alone (~1e-2 over
         1e9 distinct spans) at +4 B/row — the standard content-dedup
         tradeoff (MinHash et al.); the fixtures' DuckDB oracle compares
         REBUILT TEXT and stays green at every gate scale;
      3. occurrences join the dictionary on the span hash (equi-join),
         non-canonical hits explode to covered word positions;
      4. covered positions collect_set back to ONE array row per doc,
         then an equi-join on id into the source (join strategy left to
         AQE: the removal table is one row per *touched* doc, usually
         tiny -> broadcast, but heavily-boilerplated corpora can make it
         big, so broadcast is not forced); the rebuild itself is a
         narrow filter-by-index lambda over the original split.

    Docs shorter than ``span_n`` words have no windows and pass through
    unchanged (explode_outer + null filter, same guard discipline as
    containment_join).
    """
    # CPU-bound span building: spread across cores even when the source is
    # one input split
    df = spread(df)
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")

    def _spans(w):
        n_sp = F.greatest(F.size(w) - (span_n - 1), F.lit(0))
        return F.when(
            n_sp == 0,
            F.array().cast("array<struct<s:int,h:bigint,l:int>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_sp),
                # bind the joined window once (let_), emit (pos, 64-bit
                # hash, byte length): the length is a 4-byte secondary
                # discriminator so a dictionary collision needs BOTH the
                # same xxhash64 AND the same span byte-length — far lower
                # odds than hash-alone at +4 B/row of shuffle width
                lambda i: let_(
                    F.array_join(F.slice(w, i, span_n), " "),
                    lambda j: F.struct(
                        i.cast("int").alias("s"),
                        F.xxhash64(j).alias("h"),
                        F.length(j).alias("l"),
                    ),
                ),
            )
        )

    # the span-array build is consumed twice (dup dictionary + removal
    # join) and Spark re-executes multi-consumer subtrees (PERF_NOTES
    # §7) — cut BEFORE the explode so the stored rows are one-per-doc,
    # and the (cheap) explode replays per consumer
    spanned = df.select(
        F.col(id_col).alias("__id"), let_(ws, _spans).alias("__sp")
    ).localCheckpoint(eager=False)
    occ = (
        spanned.select("__id", F.explode_outer("__sp").alias("__o"))
        .filter(F.col("__o").isNotNull())
        .select(
            "__id",
            F.col("__o.s").alias("__s"),
            F.col("__o.h").alias("__h"),
            F.col("__o.l").alias("__l"),
        )
    )
    dup = (
        occ.groupBy("__h", "__l")
        .agg(
            F.countDistinct("__id").alias("__nd"),
            F.min("__id").alias("__canon"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("__h", "__l", "__canon")
    )
    removed = (
        occ.join(dup, ["__h", "__l"])
        .filter(F.col("__id") != F.col("__canon"))
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("__s"), F.col("__s") + (span_n - 1))
            ).alias("__p"),
        )
        .groupBy("__id")
        .agg(F.collect_set("__p").alias("__rm"))
    )
    # untouched docs re-join the filtered words too (not the raw text), so
    # whitespace is normalized identically on every path / engine
    kept = F.when(
        F.col("__rm").isNull(), F.array_join(ws, " ")
    ).otherwise(
        F.array_join(
            F.filter(ws, lambda w, i: ~F.array_contains(F.col("__rm"), i + 1)),
            " ",
        )
    )
    return (
        df.join(removed, df[id_col] == removed["__id"], "left")
        .select(
            F.col(id_col),
            F.size(ws).alias("n_words"),
            F.coalesce(F.size("__rm"), F.lit(0)).alias("n_removed"),
            kept.alias("kept_text"),
        )
    )


def jaccard_cross_best_match(
    df: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-corpus decontamination join: for every CORPUS document whose
    exact trigram-shingle Jaccard against some EVAL document (rows where
    ``eval_pred`` holds) reaches ``threshold``, emit its single best eval
    match — (doc_id, match_id, jaccard_micros), at most one row per
    contaminated corpus doc.

    The "did my training set leak the benchmark" pass (GPT-3 appendix C /
    PaLM-style n-gram decontamination, upgraded from overlap counts to
    similarity): ``decontaminate_ngram_overlap`` reports shared-gram
    volume; this reports WHICH eval doc and HOW similar, emission-bounded
    so output is O(|corpus|) regardless of duplication structure.

    Same double-prefix + positional PPJoin machinery as ``jaccard_join``
    (see its docstring for the bound derivations), asymmetric: shingle
    document-frequencies and the rarest-first order are computed over the
    UNION of both sides (a prefix order computed per side would break the
    shared-prefix guarantee), prefixes are exploded per side, and the
    candidate join is corpus-prefix x eval-prefix — no corpus-corpus or
    eval-eval pairs ever form. At 100 TB: the eval side is tiny (a
    benchmark suite), so the candidate equi-join on rare shingle hashes is
    effectively a broadcast-sized probe against the corpus prefix stream;
    per-pair verification touches only candidates; the final argmax is a
    map-side-combinable max_by groupBy on the corpus id, not a window sort.

    Jaccard is emitted in exact micro-units — floor(1e6 * inter / union)
    with inter/union exact BIGINTs, quotient exactly representable and
    >= 1000 micro-units from any boundary (denominator <= shingle count),
    so the value and the argmax tiebreak (max jaccard, then min match_id)
    are engine-portable bit-for-bit.
    """
    base, ordered, prefix_len = _rarest_first_grams(
        df, id_col, text_col, shingle_n, threshold, eval_pred
    )

    def side(ev: bool, idn: str, szn: str, pn: str) -> DataFrame:
        return ordered.filter(F.col("__ev") == ev).select(
            F.col("__id").alias(idn),
            F.size("__srt").alias(szn),
            F.posexplode_outer(F.slice(F.col("__srt"), 1, prefix_len)).alias(
                pn, "__tok"
            ),
        )

    sa, sb = F.col("__sza"), F.col("__szb")
    o_need = F.ceil(
        F.lit(threshold) * (sa + sb) / F.lit(1.0 + threshold)
    ).cast("int")
    ub = F.lit(1) + F.least(
        sa - 1 - F.col("__pa"), sb - 1 - F.col("__pb")
    )
    cand = (
        side(False, "doc_id_c", "__sza", "__pa")
        .join(side(True, "match_id", "__szb", "__pb"), "__tok")
        .filter(
            (sb >= F.ceil(F.lit(threshold) * sa).cast("int"))
            & (sa >= F.ceil(F.lit(threshold) * sb).cast("int"))
            & (ub >= o_need)
        )
        .select("doc_id_c", "match_id")
        .distinct()
    )
    a = base.filter(~F.col("__ev")).select(
        F.col("__id").alias("doc_id_c"), F.col("__tk").alias("__tka")
    )
    b = base.filter(F.col("__ev")).select(
        F.col("__id").alias("match_id"), F.col("__tk").alias("__tkb")
    )
    inter = F.size(F.array_intersect("__tka", "__tkb")).cast("long")
    union = (
        F.size("__tka").cast("long") + F.size("__tkb").cast("long") - inter
    )
    jac_micros = F.floor(F.lit(1000000) * inter / union).cast("long")
    verified = (
        cand.join(a, "doc_id_c")
        .join(b, "match_id")
        .select("doc_id_c", "match_id", jac_micros.alias("jaccard_micros"))
        .filter(F.col("jaccard_micros") >= int(threshold * 1000000))
    )
    best = F.max(
        F.struct(F.col("jaccard_micros"), (-F.col("match_id")).alias("__nm"))
    ).alias("__best")
    return (
        verified.groupBy("doc_id_c")
        .agg(best)
        .select(
            F.col("doc_id_c").alias("doc_id"),
            (-F.col("__best.__nm")).alias("match_id"),
            F.col("__best.jaccard_micros").alias("jaccard_micros"),
        )
    )
