"""Regression tests for the round-2/round-3 advisor findings (ADVICE.md):

1. containment_join crashed on any document shorter than shingle_n words
   (sequence(1, 0) -> [1, 0] -> slice(ws, 0, n) throws).
2. text_dup_ngram_spans had the same unguarded gram expression, diverging
   from its oracle (empty generate_series) on short docs.
3. wap_publish staged into a deterministic v=N path: a crash between stage
   and audit left an orphan dir that wedged every later publish of that
   table with path-already-exists.
4. dedup_survivors(_by_quality) with id_col='id' dropped the caller's own
   id column (drop-by-name removes all occurrences after a join).
5. as_of_join filled each right payload column independently with
   last(ignorenulls): a NULL field in the winning right row silently
   backfilled from an OLDER right row, stitching together a row that
   never existed.
6. The hand-kept PRIORITY list held duplicate names (round-3 tail
   re-added first-50 entries), so the ordered query names disagreed in
   length with the dict consumers that silently deduped. Query sets are
   now declared by register(..., tags=...) alone.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.operators.dedup import (
    containment_join,
    dedup_survivors,
    dedup_survivors_by_quality,
)
from mongo_iceberg_lakehouse_spark.operators.quality import Check
from mongo_iceberg_lakehouse_spark.plans.wap import wap_publish
from mongo_iceberg_lakehouse_spark.queries import REGISTRY
from mongo_iceberg_lakehouse_spark.sources.snapshots import (
    _data_dir,
    read_snapshot,
    snapshot_versions,
)

from .compare import compare_spark_duckdb


def test_containment_join_short_docs(spark):
    # docs with 0 / 1 / 2 words alongside real ones: must run, short docs
    # must simply contribute no shingles (previously: INVALID_PARAMETER_VALUE)
    df = spark.createDataFrame(
        [
            (1, "a"),
            (2, "a b"),
            (3, ""),
            (4, "one two three four five six seven"),
            (5, "zero one two three four five six seven eight"),
        ],
        "doc_id int, text string",
    )
    out = containment_join(df, "doc_id", "text", threshold=0.5, shingle_n=3)
    rows = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # doc 4's 5 trigrams are all inside doc 5's 7 -> containment 1.0
    assert (4, 5) in rows
    assert all(a not in (1, 2, 3) and b not in (1, 2, 3) for a, b in rows)


def test_text_dup_ngram_spans_short_docs(spark, tmp_path):
    # corpus containing sub-3-word docs: engine must agree with the DuckDB
    # oracle (which yields zero grams for them) instead of erroring
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [
            (1, "x"),
            (2, "x y"),
            (3, "common span here indeed"),
            (4, "common span here again"),
        ],
        "doc_id int, text string",
    ).coalesce(1).write.parquet(sf + "/documents.parquet")
    q = REGISTRY["text_dup_ngram_spans"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    ok, msg = compare_spark_duckdb(q.fn(spark, sf), con, q.oracle)
    con.close()
    assert ok, msg


def test_wap_publish_survives_orphan_staged_dir(spark, tmp_path):
    base = str(tmp_path / "wh")
    df = spark.createDataFrame([(1,), (2,)], "id int")
    # simulate a writer that crashed after staging version 1, before commit
    orphan = _data_dir(base, "t", 1)
    df.write.parquet(orphan)
    checks = [Check("has_rows", F.count(F.lit(1)).cast("double"), 1.0)]
    ok, ver, _ = wap_publish(df, base, "t", checks)
    assert ok and ver == 1
    assert snapshot_versions(spark, base, "t") == [1]
    assert {r["id"] for r in read_snapshot(spark, base, "t").collect()} == {1, 2}
    # and again: a second publish claims version 2 cleanly
    ok2, ver2, _ = wap_publish(df, base, "t", checks)
    assert ok2 and ver2 == 2


def test_dedup_survivors_id_col_named_id(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "z")], "id int, payload string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b int")
    out = dedup_survivors(df, pairs, id_col="id")
    assert "id" in out.columns
    assert {r["id"] for r in out.collect()} == {1, 9}


def test_asof_join_picks_winning_right_row_atomically(spark):
    # The winning (latest <= left_time, max-tiebreak) right row has v=NULL.
    # The whole row must be attached as-is: v must come out NULL, NOT be
    # backfilled from the older right row whose v=10.
    from mongo_iceberg_lakehouse_spark.operators.relational import as_of_join

    left = spark.createDataFrame([(1, 100)], "k int, lt int")
    right = spark.createDataFrame(
        [(1, 50, 1, 10), (1, 60, 2, None)],
        "k int, rt int, rid int, v int",
    )
    out = as_of_join(
        left, right, on="k", left_time="lt", right_time="rt",
        right_tiebreak="rid",
    ).collect()
    assert len(out) == 1
    assert out[0]["rid"] == 2 and out[0]["v"] is None

    # tie on rt itself: tiebreak max (rid=4) wins and its NULL field holds
    right2 = spark.createDataFrame(
        [(1, 60, 3, 30), (1, 60, 4, None)],
        "k int, rt int, rid int, v int",
    )
    out2 = as_of_join(
        left, right2, on="k", left_time="lt", right_time="rt",
        right_tiebreak="rid",
    ).collect()
    assert out2[0]["rid"] == 4 and out2[0]["v"] is None


def test_register_tags_and_query_order():
    from mongo_iceberg_lakehouse_spark.queries import (
        REGISTRY,
        queries,
        register,
        tagged,
    )

    with pytest.raises(ValueError, match="unknown query tags"):
        register("never_registered", None, tags=("graded", "bnech"))
    assert "never_registered" not in REGISTRY
    assert len(tagged("graded")) == 50
    names = list(queries())
    assert names[:50] == tagged("graded")
    assert len(names) == len(set(names)) and set(names) == set(REGISTRY)


def test_dedup_survivors_by_quality_id_col_named_id(spark):
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.5), (9, 0.2)], "id int, q double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b int")
    out = dedup_survivors_by_quality(df, pairs, quality_col="q", id_col="id")
    assert set(out.columns) == {"id", "q"}
    assert {r["id"] for r in out.collect()} == {2, 9}


def test_hashed_linear_classifier_rejects_wrong_length_weights(spark):
    # ADVICE r4: a bare assert is stripped under `python -O`; the length
    # check must be a real ValueError so a wrong-length table fails fast
    # instead of silently mis-scoring via element_at wraparound/NULLs.
    import pytest

    from mongo_iceberg_lakehouse_spark.operators.text import (
        hashed_linear_classifier,
    )

    df = spark.createDataFrame([(1, "hello world")], "id int, text string")
    with pytest.raises(ValueError, match="weights_micros"):
        hashed_linear_classifier(df, n_buckets=128, weights_micros=[1, 2, 3])


# ---- round-5 ADVICE items ------------------------------------------------


def test_canonical_url_keeps_semantic_params_containing_ref(spark):
    # ADVICE r5 item 1: the old unanchored tracking regex matched mid-token
    # ('?href=x' contains 'ref='), mangling semantic params. Tracking keys
    # must only match immediately after a '?'/'&' separator, and a RUN of
    # adjacent tracking params must be fully consumed.
    from mongo_iceberg_lakehouse_spark.operators.web import (
        TRACKING_KEY_RE,
        TRACKING_PARAM_PREFIXES,
        canonical_url,
    )

    cases = [
        # semantic params that CONTAIN a tracking key survive intact
        ("https://ex.com/p?href=x", "ex.com/p?href=x"),
        ("https://ex.com/p?xref=y", "ex.com/p?xref=y"),
        ("https://ex.com/p?preference=1", "ex.com/p?preference=1"),
        # adjacent tracking params all go (Java/RE2 resume after match end,
        # so a non-run regex would skip the second one)
        ("https://ex.com/p?utm_a=1&utm_b=2", "ex.com/p"),
        ("https://ex.com/p?utm_a=1&id=2&utm_b=3", "ex.com/p?id=2"),
        # tracking key mid-query, semantic neighbors kept either side
        ("https://ex.com/p?id=1&fbclid=x&keep=2", "ex.com/p?id=1&keep=2"),
        # lone tracking param: empty '?' is tidied away
        ("https://ex.com/p?ref=abc", "ex.com/p"),
        # 'ref' is an exact key: 'refid' is NOT a tracking param
        ("https://ex.com/p?refid=5", "ex.com/p?refid=5"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    out = df.select("want", canonical_url(F.col("url")).alias("got"))
    bad = [(r["want"], r["got"]) for r in out.collect() if r["want"] != r["got"]]
    assert not bad, bad
    # the alternation is BUILT from the constant (no drift)
    for p in TRACKING_PARAM_PREFIXES:
        assert p.rstrip("_") in TRACKING_KEY_RE


def test_canonical_url_spark_matches_duckdb_on_semantic_refs(spark):
    # the DuckDB mirror shares the anchored pattern via TRACKING_KEY_RE
    from mongo_iceberg_lakehouse_spark.operators.web import (
        CANONICAL_URL_SQL_STEPS,
        canonical_url,
    )

    urls = [
        "https://ex.com/p?href=x",
        "https://ex.com/p?utm_a=1&utm_b=2",
        "https://ex.com/p?utm_a=1&id=2&utm_b=3",
        "https://ex.com/p?id=1&fbclid=x&keep=2#frag",
        "http://www.ex.co.uk:443/art/3/?ref=r",
        "https://ex.com/p?refid=5",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c"))
        .orderBy("c")
        .collect()
    ]
    con = duckdb.connect()
    expr = CANONICAL_URL_SQL_STEPS.format(url="url")
    vals = ", ".join(f"('{u}')" for u in urls)
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {expr} AS c FROM (VALUES {vals}) t(url) ORDER BY c"
        ).fetchall()
    ]
    con.close()
    assert got == want


def test_registrable_domain_short_hosts(spark):
    # ADVICE r5 item 2: hosts with <= take labels crashed (slice start 0)
    # or wrapped (negative start). Clamp: the whole host IS the domain.
    from mongo_iceberg_lakehouse_spark.operators.web import registrable_domain

    cases = [
        ("localhost", "localhost"),
        ("co.uk", "co.uk"),          # bare multi-label suffix (take=3, n=2)
        ("a.co.uk", "a.co.uk"),
        ("www.a.co.uk", "a.co.uk"),
        ("sub.ex.com", "ex.com"),
        ("ex.com", "ex.com"),
    ]
    df = spark.createDataFrame(cases, "host string, want string")
    out = df.select("want", registrable_domain(F.col("host")).alias("got"))
    bad = [(r["want"], r["got"]) for r in out.collect() if r["want"] != r["got"]]
    assert not bad, bad


def test_ffd_oversized_bin_rejects_zero_token_docs(spark):
    # ADVICE r5 item 3: a zero-token doc "fits" a cap-0 bin, so an
    # oversized doc's bin could become a multi-doc over-budget batch.
    # Oversized bins now carry negative capacity: nothing joins them.
    from mongo_iceberg_lakehouse_spark.operators.packing import (
        batch_summary,
        pack_batches,
    )

    rows = [(i, t) for i, t in enumerate([900, 0, 0, 100, 100, 0, 50])]
    df = spark.createDataFrame(rows, "id int, tokens int")
    packed = pack_batches(df, "id", "tokens", budget=512, n_shards=1)
    summary = batch_summary(packed, budget=512).collect()
    for b in summary:
        if b["n_docs"] > 1:
            assert b["n_tokens"] <= 512, summary
    # conservation still holds
    assert sum(b["n_tokens"] for b in summary) == 1150
    assert sum(b["n_docs"] for b in summary) == 7
    # a bin filled EXACTLY to budget may still absorb a t=0 doc (sum stays
    # == budget); only the over-budget bin is sealed
    over = [b for b in summary if b["n_tokens"] > 512]
    assert len(over) == 1 and over[0]["n_docs"] == 1


def test_scaling_curve_validates_only_names(capsys):
    # ADVICE r5 item 5: --only typos must fail fast with the names (exit 2,
    # before any Spark session starts), not KeyError mid-sweep.
    from scripts import run

    rc = run.main(["--time", "--only", "tpch_q1_pricing_summary,nope_q"])
    assert rc == 2
    assert "nope_q" in capsys.readouterr().out


def test_registrable_domain_short_host_parity(spark):
    # ADVICE r6: web.py's short-host clamp existed only on the Spark side;
    # the DuckDB mirror _DOMAIN_SQL sliced from a non-positive start for
    # hosts with <= take labels. Both definitions must agree on every
    # shape: 1-label, exactly-2-label, bare multi-label suffix, and the
    # normal >2-label cases.
    from mongo_iceberg_lakehouse_spark.operators.web import registrable_domain
    from mongo_iceberg_lakehouse_spark.queries import _DOMAIN_SQL

    hosts = [
        "localhost",
        "co.uk",
        "example.com",
        "www.example.com",
        "a.b.example.co.uk",
        "example.co.uk",
        "deep.sub.example.com.au",
        "x.co.jp",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["domain"]
        for r in df.select(
            "host", registrable_domain(F.col("host")).alias("domain")
        ).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(f"('{h}')" for h in hosts)
    want = dict(
        con.execute(
            f"SELECT host, {_DOMAIN_SQL} AS domain "
            f"FROM (VALUES {vals}) AS t(host)"
        ).fetchall()
    )
    con.close()
    assert got == want
    assert got["localhost"] == "localhost"
    assert got["co.uk"] == "co.uk"


def test_ann_ivf_pretrained_cleans_tmp(spark):
    # ADVICE r6: the persisted-centroid artifact dir leaked a snapshot
    # tree into /tmp per invocation — the filesystem the sf100 sweep
    # already bottlenecks on. The query must remove its own artifacts.
    import glob

    before = set(glob.glob("/tmp/ann_index_*"))
    REGISTRY["ann_ivf_pretrained"].fn(spark, "/root/testdata/sf0.001").collect()
    after = set(glob.glob("/tmp/ann_index_*"))
    assert after - before == set()


@pytest.mark.parametrize(
    "qname,prefix",
    [
        ("hypertable_rollup_tail", "rollup_"),
        ("layout_partition_pruning", "part_prune_"),
        ("layout_zorder_pruning", "layout_q_"),
        ("wap_audit_publish", "wap_"),
        ("join_bucketed_colocated", "bucketed_"),
        ("catalog_time_travel", "snapshots_"),
    ],
)
def test_snapshotting_queries_clean_tmp(spark, qname, prefix):
    # r7 verdict #2: the ann_ivf fix landed but the same mkdtemp-without-
    # cleanup pattern lived on at these sites — repeated bench/gate runs
    # leaked one snapshot dir per invocation into the /tmp the sf100
    # gate exhausts. Each query must collect/checkpoint eagerly and
    # remove its own store before returning.
    import glob

    before = set(glob.glob(f"/tmp/{prefix}*"))
    df = REGISTRY[qname].fn(spark, "/root/testdata/sf0.001")
    after = set(glob.glob(f"/tmp/{prefix}*"))
    assert after - before == set()
    # the returned frame must still be collectable AFTER its backing
    # store is gone (eager materialization is part of the contract)
    assert df.count() >= 0


def test_vec_anchor_threshold_sql_matches_python():
    # r8 advice (medium): the SQL side rounded (CAST AS BIGINT) where the
    # engine floor-divides — at any embeddings count with fraction >= .5
    # (e.g. n=65537) the two sides selected DIFFERENT anchor sets. The
    # SQL must integer-divide to match Python's // exactly.
    from mongo_iceberg_lakehouse_spark.queries import _SQL_ANCHOR_VEC

    con = duckdb.connect()
    # extract the threshold expression by substituting a literal count
    for n in (65537, 65535, 3, 100000, 131073, 2_000_000):
        expr = _SQL_ANCHOR_VEC.split("< ", 1)[1].replace(
            "(SELECT count(*) FROM embeddings)", str(n)
        )
        sql_t = con.execute(f"SELECT {expr}").fetchone()[0]
        py_t = max(1, min(2048, (65536 * 2048) // n))
        assert sql_t == py_t, (n, sql_t, py_t)
    con.close()


def test_text_corpus_rejects_unmarked_published_dir(spark):
    # r8 advice (low): a pre-existing output dir was trusted blindly —
    # a crashed pre-atomic-rename writer (or a manually damaged dir)
    # would be reused forever. Only a dir carrying Spark's _SUCCESS
    # marker may be reused; anything else is rebuilt via staging.
    import os
    import shutil

    from mongo_iceberg_lakehouse_spark.sources.files import (
        _stable_dir,
        write_text_corpus,
    )

    sf_key = "/root/testdata/sf0.001"
    out = _stable_dir("textcorpus", f"v2:{sf_key}")
    shutil.rmtree(out, ignore_errors=True)
    # plant a partial (unmarked) dir at the published path
    os.makedirs(out)
    with open(os.path.join(out, "part-00000"), "w") as f:
        f.write("stale\tgarbage\n")
    df = spark.read.parquet(f"{sf_key}/documents.parquet")
    path = write_text_corpus(df, sf_key, "doc_id", "text")
    assert path == out
    assert os.path.isfile(os.path.join(out, "_SUCCESS"))  # rebuilt
    lines = spark.read.text(path).count()
    assert lines == df.count()  # stale garbage is gone
    # second call now reuses the marked dir (idempotent fast path)
    assert write_text_corpus(df, sf_key, "doc_id", "text") == out
