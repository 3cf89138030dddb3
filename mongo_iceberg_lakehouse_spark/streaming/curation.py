"""Streaming corpus curation: quality-filter documents as they land.

The batch curation operators (SURVEY.md §2.11) compose with Structured
Streaming wherever they are stateless projections — the Gopher quality
rules are exactly that (one zero-shuffle JVM projection per document), so
the same operator runs unchanged on a document STREAM: each micro-batch of
landing files is scored and the keep/drop funnel rolls up continuously.
This is the ingest-time shape of a 100 TB curation pipeline: score at
arrival, never re-scan the corpus for a filter decision.

Harness (same as the other streaming entry points): availableNow over the
parquet fixture + memory sink => batch-equivalent, so the plain batch
aggregate is the SQL oracle. The global aggregate runs in complete mode —
a bounded 1-row state, no watermark needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import gopher_quality_rules
from .events import collect_available_now, read_table_stream, run_available_now


def quality_funnel(docs: DataFrame) -> DataFrame:
    """One-row curation funnel from the Gopher rule columns: how many docs
    pass, and which rule kills the rest. Works identically on a static or
    streaming frame (stateless projection + global agg)."""
    scored = gopher_quality_rules(docs)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(F.col("passes_gopher")).alias("n_pass"),
        cnt(~F.col("wc_ok")).alias("n_fail_wordcount"),
        cnt(~F.col("mwl_ok")).alias("n_fail_mwl"),
        cnt(~F.col("stop_ok")).alias("n_fail_stopwords"),
        cnt(~F.col("rep_ok")).alias("n_fail_repetition"),
        F.sum(
            F.when(F.col("passes_gopher"), F.col("n_words")).otherwise(0)
        ).cast("long").alias("tokens_kept"),
    )


def run_stream_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_stream(spark, sf_dir, "documents")
    return collect_available_now(quality_funnel(docs), "complete")


def pii_funnel(docs: DataFrame) -> DataFrame:
    """One-row PII rollup from the redaction pass: how many landing docs
    carried emails/phones, total hits scrubbed, and bytes delta. Stateless
    projection + bounded global agg — identical on static or streaming
    frames, the ingest-time shape of a scrub-at-arrival pipeline."""
    from ..operators.text import pii_scrub, plant_synthetic_pii

    scrubbed = pii_scrub(plant_synthetic_pii(docs.select("doc_id", "text")))
    return scrubbed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when((F.col("n_emails") > 0) | (F.col("n_phones") > 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_docs_with_pii"),
        F.sum("n_emails").cast("long").alias("total_emails"),
        F.sum("n_phones").cast("long").alias("total_phones"),
        F.sum("redacted_len").cast("long").alias("total_redacted_len"),
    )


def run_stream_pii_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_stream(spark, sf_dir, "documents")
    return collect_available_now(pii_funnel(docs), "complete")


def classifier_funnel(docs: DataFrame) -> DataFrame:
    """One-row ingest funnel from the fastText-style classifier: how many
    landing docs the model keeps and the token volume that survives.
    Stateless projection + global agg — identical on static or streaming
    frames, exact BIGINT arithmetic throughout."""
    from ..operators.text import hashed_linear_classifier

    scored = hashed_linear_classifier(docs)
    keep = F.col("keep")
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_keep"),
        F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_drop"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.sum("score_micros").cast("long").alias("score_sum_micros"),
    )


def run_stream_classifier_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table_stream(spark, sf_dir, "documents")
    return collect_available_now(classifier_funnel(docs), "complete")


def _drift_cohort() -> Column:
    """Deterministic two-way cohort split of the embeddings by vec_id."""
    return (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 0
    )


def run_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift, live: the batch drift monitor
    (operators/similarity.py::embedding_drift_by_cohort) runs UNCHANGED
    on an embedding STREAM — the numpy partial sums are a stateless
    per-batch map, and the per-dimension combine is a complete-mode
    aggregate whose state is bounded at dim rows regardless of how many
    vectors ever arrive. This is the ingest-time shape: centroid shift
    between cohorts updates continuously as batches land, no corpus
    re-scan."""
    from ..operators.similarity import embedding_drift_by_cohort

    vecs = read_table_stream(spark, sf_dir, "embeddings")
    drift = embedding_drift_by_cohort(vecs, _drift_cohort())
    return collect_available_now(drift, "complete")


def run_stream_embedding_drift_incremental(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
) -> DataFrame:
    """UPDATE-mode drift monitor (round-5 verdict #6): the 100 TB shape.

    ``run_stream_embedding_drift`` proves the operator composes with a
    stream, but complete mode re-EMITS the whole dim-table every batch.
    Here the per-dim running sums live in Spark's streaming state store
    — each micro-batch folds its bounded numpy partials into the stored
    (n_a, n_b, s_a, s_b) per dim (exactly plans/ivm.py's
    aggregate_state/merge_state split, with the derived means computed
    on top of state), and update mode emits only the dims a batch
    touched. State is dim-bounded forever; nothing re-scans history.

    Harness: the fixture is hash-sliced into ``n_batches`` groups of
    scale-proportional file counts (one deterministic xxhash64 slot per
    vec_id split into (batch, file) — union of slices == fixture),
    written in ONE partitionBy pass (the round-5 sf10 decade measured
    ~80% of the row in the old per-slice coalesce(1) writes: n_batches
    full scans, each landing on a single task). All files of a slice
    share an mtime strictly below the next slice's, so
    maxFilesPerTrigger = files-per-slice yields exactly one micro-batch
    per slice at every scale; foreachBatch records each update delta
    with its batch id. The final state (last update per dim) must equal
    the one-shot batch result — the availableNow == batch oracle across
    >= 2 real micro-batches. Each per-batch delta is dim rows (64), so
    the recorded updates are bounded by dim x n_batches regardless of
    corpus size.
    """
    import glob
    import os
    import shutil
    import tempfile

    from ..operators.similarity import embedding_drift_by_cohort
    from ..sources.tables import load_table, table_rowcount

    vecs = load_table(spark, sf_dir, "embeddings")
    par = spark.sparkContext.defaultParallelism
    k = max(1, min(par, table_rowcount(sf_dir, "embeddings") // 50_000))
    # one hash slot per row, split into (slice, file): uniform over the
    # product, both derived from a single xxhash64 (div/mod decorrelate)
    slot = F.pmod(F.xxhash64("vec_id"), F.lit(n_batches * k))
    batched = vecs.withColumn(
        "__b", (slot % n_batches).cast("int")
    ).withColumn("__f", (slot / n_batches).cast("int"))
    updates: list[tuple[int, list]] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # dim-bounded collect (<= 64 rows per batch): the update DELTA,
        # not the corpus
        updates.append((batch_id, batch_df.collect()))

    # the result is built on the driver, so the root goes with the block
    with tempfile.TemporaryDirectory(
        prefix="drift_incr_", ignore_cleanup_errors=True
    ) as root:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        slices = os.path.join(root, "slices")
        # one scan, one shuffle, parallel writers; partitionBy keeps
        # exactly one file per (slice, file) pair and drops the helpers
        batched.repartition(n_batches * k, "__b", "__f").write.partitionBy(
            "__b", "__f"
        ).parquet(slices)
        per_slice: list[int] = []
        for b in range(n_batches):
            fs = sorted(
                glob.glob(os.path.join(slices, f"__b={b}", "*", "*.parquet"))
            )
            per_slice.append(len(fs))
            for i, src in enumerate(fs):
                dst = os.path.join(in_dir, f"batch_{b:04d}_{i:02d}.parquet")
                shutil.move(src, dst)
                os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
        # equal counts -> one trigger per slice; a rare empty (b, f) pair
        # falls back to per-file triggers (SPLITS a slice, never merges two)
        mft = k if all(c == k for c in per_slice) else 1
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", mft)
            .option("latestFirst", "false")
            .parquet(in_dir)
        )
        # ordered=False: sorting an update-mode streaming agg is illegal;
        # the final state is sorted on the driver below (dim-bounded)
        drift = embedding_drift_by_cohort(
            stream, _drift_cohort(), ordered=False
        )
        run_available_now(
            spark,
            drift.writeStream.foreachBatch(process)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(root, "ckpt")),
        )

    n_nonempty = sum(1 for _, rows in updates if rows)
    if n_nonempty < 2:
        raise AssertionError(
            f"incremental drift harness expected >= 2 micro-batches with "
            f"updates, saw {n_nonempty}"
        )
    final: dict[int, tuple] = {}
    for _, rows in sorted(updates, key=lambda u: u[0]):
        for r in rows:
            final[r["dim"]] = tuple(r)
    out = [final[k] for k in sorted(final)]
    return spark.createDataFrame(out, schema=drift.schema)
