"""Distributed BPE tokenizer training (Sennrich et al. 2016).

Charter extension: a large-scale training-data pipeline trains its tokenizer
on the corpus it just curated. BPE's merge loop is inherently sequential
(merge r+1 depends on merge r), but each ROUND is pure data-parallel
aggregation — which is exactly the split this module uses:

- The corpus is collapsed to its weighted VOCABULARY first
  (``vocab_counts``: distinct word -> occurrence count). This is the
  classic BPE-on-vocab optimization and the whole scale story: pair
  statistics over 100 TB of text reduce to a groupBy over |vocab| rows
  (millions, not trillions), after one corpus-wide word-count shuffle
  that is map-side combinable.
- Each round, adjacent-pair counts are a JVM-side transform + explode +
  groupBy (``pair_counts``); the argmax pair is a 1-row
  TakeOrderedAndProject collect (bounded, deterministic ties:
  count desc, then pair lexicographic).
- The winning pair is folded into the vocab symbol arrays with a
  left-to-right greedy ``F.aggregate`` (non-overlapping, leftmost-first —
  matching the reference algorithm), and the vocab is cut with a lazy
  ``localCheckpoint`` (materialized by the next round's argmax collect) so
  lineage doesn't grow with merge rounds.

No Python touches per-row data; the driver sees only (pair, count)
singletons and the merge table itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import tokens

END_OF_WORD = "</w>"


def vocab_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> weighted vocabulary (word, cnt). One shuffle, map-side
    combinable; the only stage that ever sees corpus-sized data."""
    ws = tokens(F.col(text_col))
    return (
        df.select(F.explode_outer(ws).alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def initial_symbols(word: Column | str) -> Column:
    """Word -> its character symbols + the end-of-word marker."""
    w = F.col(word) if isinstance(word, str) else word
    return F.concat(F.split(w, ""), F.array(F.lit(END_OF_WORD)))


def pair_counts(vocab: DataFrame, syms_col: str = "syms") -> DataFrame:
    """Adjacent-symbol pair counts over the weighted vocab.

    transform(sequence) -> explode_outer (the repo's
    InferFiltersFromGenerate guard) -> groupBy (a, b). Symbol arrays always
    have >= 2 elements (char + end marker), but the sequence is still
    guarded so a degenerate input can't produce a descending sequence
    (ADVICE r2 crash class).
    """
    s = F.col(syms_col)
    idx = F.when(
        F.size(s) >= 2, F.sequence(F.lit(0), F.size(s) - 2)
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.get(s, i).alias("a"), F.get(s, i + 1).alias("b")
        ),
    )
    return (
        vocab.select(F.col("cnt"), F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("pair_cnt"))
    )


def merge_pair(syms: Column | str, a: str, b: str) -> Column:
    """Apply one merge (a, b) -> "ab" to a symbol array: left-to-right
    greedy, non-overlapping (after a merge, the new token — not its right
    half — is what the next symbol is compared against, so "aaa" under
    (a, a) becomes ["aa", "a"], matching the reference algorithm)."""
    s = F.col(syms) if isinstance(syms, str) else syms
    merged = a + b
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Train the first ``n_merges`` BPE merges on a corpus.

    Returns the merge table (rank, left, right, pair_cnt) — ``n_merges``
    rows, built on the driver from 1-row argmax collects (bounded by
    construction; the data path stays distributed).
    """
    vocab = (
        vocab_counts(df, text_col)
        .withColumn("syms", initial_symbols("w"))
        .select("cnt", "syms")
        .localCheckpoint(eager=False)  # every round's pair count reads it
    )
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        top = (
            pair_counts(vocab)
            .orderBy(
                F.col("pair_cnt").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["pair_cnt"]
        merges.append((r + 1, a, b, int(cnt)))
        vocab = vocab.withColumn(
            "syms", merge_pair("syms", a, b)
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_cnt bigint"
    )


def apply_merges(
    vocab: DataFrame,
    merges: list[tuple[str, str]],
    syms_col: str = "syms",
) -> DataFrame:
    """Apply a trained merge table to vocab symbol arrays, in rank order
    (the ORDER is the tokenizer: each merge folds over the output of the
    previous one — a chain of ``n_merges`` JVM folds, still one narrow
    projection, no shuffle)."""
    out = vocab
    for a, b in merges:
        out = out.withColumn(syms_col, merge_pair(syms_col, a, b))
    return out


def encode_token_stats(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Train BPE, then ENCODE the corpus with it — the token-budget view a
    training pipeline actually needs (how many subword tokens is this
    corpus under tokenizer T?).

    Scale shape: encoding happens once per DISTINCT word (the weighted
    vocab), then the per-word subtoken count joins back to the corpus via
    one word-keyed equi-join — the corpus-sized side only ever carries
    (doc_id, word) pairs, never symbol arrays. Returns per-source totals:
    (source, docs, words, subword_tokens).
    """
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(spark, df, text_col, n_merges).collect()
    ]
    vocab = (
        vocab_counts(df, text_col)
        .withColumn("syms", initial_symbols("w"))
        .select("w", "syms")
    )
    encoded = apply_merges(vocab, merges).select(
        "w", F.size("syms").alias("__n_sub")
    )
    ws = tokens(F.col(text_col))
    corpus = (
        df.select("source", F.col("doc_id"), F.explode_outer(ws).alias("w"))
        .filter(F.col("w").isNotNull())
    )
    return (
        corpus.join(encoded, on="w")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("docs"),
            F.count(F.lit(1)).alias("words"),
            F.sum("__n_sub").alias("subword_tokens"),
        )
    )


def reference_bpe(
    vocab: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Plain-Python reference BPE on a weighted vocab (Sennrich et al.
    2016): per round, count adjacent symbol pairs, take the
    (count desc, pair asc) argmax, merge greedily left-to-right
    non-overlapping. The ground truth the distributed ``bpe_train`` must
    reproduce exactly — used by tests/test_bpe.py and by the
    tokenizer_bpe_train_merges contract query on a bounded
    content-addressed document sample (driver cost stays O(sample
    vocab) at every corpus scale)."""
    import collections

    syms = {w: [*w, END_OF_WORD] for w in vocab}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: collections.Counter = collections.Counter()
        for w, cnt in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += cnt
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, cnt))
        for w in vocab:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return merges


def reference_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply a trained merge table to one word, in rank order, greedy
    leftmost non-overlapping — the plain-Python mirror of
    ``apply_merges``'s JVM fold (one anchor for both implementations)."""
    s: list[str] = [*word, END_OF_WORD]
    for a, b in merges:
        out: list[str] = []
        for x in s:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        s = out
    return s
