"""Round-9 scale-aware probes (queries.SCALE_PROBES additions).

Four queries' FULL oracles are linear but their sf100 verification
artifacts outgrow one box (round-8 gate log): window_running_sum /
scd2_customer_priority collect ~150M rows, dedup_span_scrub's global
dictionary + rebuild wants ~160 GB, text_collocations_lift's string-keyed
count table spilled >58 GB. Each probe dispatches on the driving table's
rowcount: below the threshold it IS the full query + full oracle, above it
both sides cut to the same deterministic md5 slice. These tests pin

1. the probes exist and the threshold constants match the proven gate
   scales (sf10 full compares in docs/SF10_GATE_r05.log);
2. the small arm is a true passthrough (probe fn == registry fn rows) so
   the sf1/sf10 gates lose nothing;
3. probe-vs-oracle value parity at smoke scale through the exact gate
   compare path;
4. the big arm of each probe (thresholds forced to 0) also matches its
   big-arm oracle — the slice logic itself, engine vs SQL.

The non-vacuous big-arm evidence lives one decade up: at sf1 the anchored
span-scrub slice contains docs with real removals (verified green in the
round-9 session), which is what catches an engine that wrongly prunes the
span DICTIONARY to anchored docs (a span duplicated between an anchored
and a non-anchored doc would vanish).

Round-10 additions:
5. the SemDeDup two-arm probe (assign arm full-scale-exact vs
   full-corpus centroids; subset arm = complete operator on the same md5
   1/16 on both engines) — small-arm passthrough, small-arm oracle
   parity, forced big arms with non-emptiness asserted;
6. knife-edge dispatch tests (VERDICT r9 #6): fixtures with exactly
   N = threshold and N + 1 driving-table rows prove the engine's
   table_rowcount dispatch and the oracle's count(*) scalar-subquery
   dispatch pick the same arm AT the boundary, with '00'-anchored keys
   injected so the big arm compares real rows;
7. the round-9-vacuous window/scd2 big-arm tests now use a 1/16
   test-only anchor on BOTH sides and assert non-emptiness (ADVICE r9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.queries import (
    _DOCS_FULL_MAX,
    _ORDERS_FULL_MAX,
    REGISTRY,
    SCALE_PROBES,
    _anchor_doc,
    _anchor_key,
)
from mongo_iceberg_lakehouse_spark.sources.tables import FIXTURE_TABLES
from tests.compare import compare_spark_duckdb, duck_views

SF = "/root/testdata/sf0.001"
NEW_PROBES = (
    "window_running_sum",
    "scd2_customer_priority",
    "dedup_span_scrub",
    "text_collocations_lift",
)


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF)
    yield con
    con.close()


def test_probes_registered_with_thresholds_in_sql():
    for name in NEW_PROBES:
        assert name in SCALE_PROBES
    # sf10 orders = 15M / documents = 500k both passed FULL compares
    # (docs/SF10_GATE_r05.log) — the thresholds must keep those gates on
    # the full arm
    assert _ORDERS_FULL_MAX >= 15_000_000
    assert _DOCS_FULL_MAX >= 500_000
    # the dispatch constant must be baked into the oracle SQL itself so
    # engine fn and oracle can never disagree about which arm runs
    for name in ("window_running_sum", "scd2_customer_priority"):
        assert f"<= {_ORDERS_FULL_MAX}" in SCALE_PROBES[name].oracle
    for name in ("dedup_span_scrub", "text_collocations_lift"):
        assert f"<= {_DOCS_FULL_MAX}" in SCALE_PROBES[name].oracle


@pytest.mark.parametrize(
    "name", ["window_running_sum", "scd2_customer_priority", "dedup_span_scrub"]
)
def test_small_arm_is_full_passthrough(spark, name):
    # below the threshold the probe must return the registry query's rows
    # EXACTLY — the lower gates keep full-fidelity verification
    probe = SCALE_PROBES[name].fn(spark, SF)
    full = REGISTRY[name].fn(spark, SF)
    assert probe.columns == full.columns
    assert probe.exceptAll(full).count() == 0
    assert full.exceptAll(probe).count() == 0


@pytest.mark.parametrize("name", list(NEW_PROBES))
def test_small_arm_probe_vs_oracle(spark, duck, name):
    ok, msg = compare_spark_duckdb(
        SCALE_PROBES[name].fn(spark, SF), duck, SCALE_PROBES[name].oracle
    )
    assert ok, f"{name}: {msg}"


def _big_oracle(name: str) -> str:
    # force the anchored/bucketed arm at smoke scale
    return (
        SCALE_PROBES[name]
        .oracle.replace(f"<= {_ORDERS_FULL_MAX}", "<= 0")
        .replace(f"<= {_DOCS_FULL_MAX}", "<= 0")
    )


# The production 1/256 custkey anchor selects ZERO custkeys at smoke scale
# (md5-prefix '00' has no hits among sf0.001's ~1000 custkeys), which made
# these two big-arm compares vacuous (ADVICE r9): widen BOTH sides to a
# 1/16 test-only anchor so the slice logic is exercised on real rows, and
# assert non-emptiness so a future fixture change can't silently re-vacate
# the test. The knife-edge tests below cover the production-anchor path on
# fixtures that contain genuine '00' custkeys.
_WIDE_CUST = "substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) = '0'"


def _wide_cust_col(col: str):
    return F.substring(F.md5(F.col(col).cast("string")), 1, 1) == "0"


def test_big_arm_window_running_sum(spark, duck):
    df = REGISTRY["window_running_sum"].fn(spark, SF).filter(
        _wide_cust_col("o_custkey")
    )
    assert df.count() > 0, "test anchor selects no rows — compare is vacuous"
    oracle = _big_oracle("window_running_sum").replace(
        "substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2) = '00'", _WIDE_CUST
    )
    ok, msg = compare_spark_duckdb(df, duck, oracle)
    assert ok, msg


def test_big_arm_scd2(spark, duck):
    df = REGISTRY["scd2_customer_priority"].fn(spark, SF).filter(
        _wide_cust_col("custkey")
    )
    assert df.count() > 0, "test anchor selects no rows — compare is vacuous"
    oracle = _big_oracle("scd2_customer_priority").replace(
        "substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2) = '00'", _WIDE_CUST
    )
    ok, msg = compare_spark_duckdb(df, duck, oracle)
    assert ok, msg


def test_big_arm_span_scrub(spark, duck):
    df = REGISTRY["dedup_span_scrub"].fn(spark, SF).filter(
        _anchor_doc("doc_id")
    )
    ok, msg = compare_spark_duckdb(df, duck, _big_oracle("dedup_span_scrub"))
    assert ok, msg


def test_big_arm_collocations(spark, duck):
    from mongo_iceberg_lakehouse_spark.operators import text as T
    from mongo_iceberg_lakehouse_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    df = T.bigram_lift_topk_hashed(
        d, "doc_id", "text", min_count=5, k=None
    ).filter(F.substring(F.md5(F.col("bigram")), 1, 1) == "0")
    ok, msg = compare_spark_duckdb(
        df, duck, _big_oracle("text_collocations_lift")
    )
    assert ok, msg


def test_collocations_k_none_matches_topk_head(spark):
    # the probe's k=None full table, ranked the same way, must agree with
    # the production top-k cut — the probe verifies the numbers the
    # registry query merely orders
    from mongo_iceberg_lakehouse_spark.operators import text as T
    from mongo_iceberg_lakehouse_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    full = T.bigram_lift_topk_hashed(d, "doc_id", "text", min_count=5, k=None)
    top = T.bigram_lift_topk_hashed(d, "doc_id", "text", min_count=5, k=5)
    head = full.orderBy(F.col("lift_micros").desc(), "bigram").limit(5)
    assert [tuple(r) for r in head.collect()] == [
        tuple(r) for r in top.collect()
    ]


def test_big_arm_bigram_perplexity(spark, duck):
    df = REGISTRY["text_bigram_perplexity"].fn(spark, SF).filter(
        _anchor_doc("doc_id")
    )
    ok, msg = compare_spark_duckdb(
        df, duck, _big_oracle("text_bigram_perplexity")
    )
    assert ok, msg


def test_small_arm_bigram_perplexity(spark, duck):
    probe = SCALE_PROBES["text_bigram_perplexity"].fn(spark, SF)
    full = REGISTRY["text_bigram_perplexity"].fn(spark, SF)
    assert probe.exceptAll(full).count() == 0
    assert full.exceptAll(probe).count() == 0
    ok, msg = compare_spark_duckdb(
        probe, duck, SCALE_PROBES["text_bigram_perplexity"].oracle
    )
    assert ok, msg


# --- round-10: SemDeDup two-arm probe --------------------------------------


def test_semdedup_probe_registered():
    from mongo_iceberg_lakehouse_spark.queries import _EMB_FULL_MAX

    probe = SCALE_PROBES["semdedup_embedding_prune"]
    # sf10 embeddings = 200k passed a FULL compare (docs/SF10_GATE_r05.log)
    # — the threshold must keep that gate on the full arm
    assert _EMB_FULL_MAX >= 200_000
    # dispatch constant baked into the SQL so the arms can't drift
    assert f"<= {_EMB_FULL_MAX}" in probe.oracle
    assert f"> {_EMB_FULL_MAX}" in probe.oracle
    # the full and subset arms must reuse the REGISTERED oracle text
    assert REGISTRY["semdedup_embedding_prune"].oracle.strip()[:50] in probe.oracle


def test_semdedup_small_arm_is_full_passthrough(spark):
    probe = SCALE_PROBES["semdedup_embedding_prune"].fn(spark, SF)
    full = REGISTRY["semdedup_embedding_prune"].fn(spark, SF)
    assert probe.columns == ["arm", "vec_id", "cluster_id", "keep"]
    assert probe.filter(F.col("arm") != "full").count() == 0
    bare = probe.drop("arm")
    assert bare.exceptAll(full).count() == 0
    assert full.exceptAll(bare).count() == 0


def test_semdedup_small_arm_vs_oracle(spark, duck):
    probe = SCALE_PROBES["semdedup_embedding_prune"]
    ok, msg = compare_spark_duckdb(probe.fn(spark, SF), duck, probe.oracle)
    assert ok, msg


def test_semdedup_big_arms_forced(spark, duck, monkeypatch):
    # force the two big arms at smoke scale: threshold -> 0 on both sides
    from mongo_iceberg_lakehouse_spark import queries as Qmod

    probe = SCALE_PROBES["semdedup_embedding_prune"]
    monkeypatch.setattr(Qmod, "_EMB_FULL_MAX", 0)
    big_oracle = probe.oracle.replace(
        f"<= {Qmod._EMB_FULL_MAX or 250000}", "<= 0"
    ).replace("> 250000", "> 0")
    df = Qmod._probe_semdedup(spark, SF)
    arms = {r["arm"]: r["count"] for r in df.groupBy("arm").count().collect()}
    # both big arms must carry real rows — a vacuous compare can't catch
    # slice-logic bugs (ADVICE r9 on the window/scd2 big-arm tests)
    assert arms.get("assign", 0) > 0
    assert arms.get("subset", 0) > 0
    assert "full" not in arms
    ok, msg = compare_spark_duckdb(df, duck, big_oracle)
    assert ok, msg


# --- round-10: knife-edge dispatch tests (VERDICT r9 #6) -------------------
# The scale-aware probes dispatch engine-side on table_rowcount and
# oracle-side on a scalar count(*) subquery against the SAME constant.
# These tests prove both sides pick the same arm AT the boundary: a
# fixture with exactly N = threshold rows (small arm) and N + 1 rows (big
# arm), with '00'-md5-anchored keys injected so the big arm is
# non-vacuous. The constants are monkeypatched engine-side and rewritten
# oracle-side — the same rewrite the forced-big-arm tests above use.

import os  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# md5('168') and md5('363') start with '00' — verified anchored keys
_ANCHORED_KEYS = [168, 363]


def _edge_fixture(tmp_path_factory, table: str, edit_col: str):
    """Two fixture dirs: `table` with exactly N rows and N+1 rows (N =
    sf0.001 rowcount - 1), first rows' key column rewritten to anchored
    values; every other table symlinked from sf0.001."""
    src = pq.read_table(f"{SF}/{table}.parquet")
    n = src.num_rows
    if edit_col is not None:
        keys = src[edit_col].to_pylist()
        for i in range(40):
            keys[i] = _ANCHORED_KEYS[i % len(_ANCHORED_KEYS)]
        idx = src.schema.get_field_index(edit_col)
        src = src.set_column(
            idx, src.schema.field(edit_col),
            pa.array(keys, src.schema.field(edit_col).type),
        )
    dirs = {}
    for label, rows in (("at", n - 1), ("above", n)):
        d = tmp_path_factory.mktemp(f"edge_{table}_{label}")
        for t in FIXTURE_TABLES:
            if t != table:
                os.symlink(f"{SF}/{t}.parquet", d / f"{t}.parquet")
        pq.write_table(src.slice(0, rows), d / f"{table}.parquet")
        dirs[label] = str(d)
    return n - 1, dirs


@pytest.mark.parametrize(
    "name,const_attr,engine_anchor_col",
    [
        ("window_running_sum", "_ORDERS_FULL_MAX", "o_custkey"),
        ("scd2_customer_priority", "_ORDERS_FULL_MAX", "custkey"),
    ],
)
def test_knife_edge_orders_dispatch(
    spark, monkeypatch, tmp_path_factory, name, const_attr, engine_anchor_col
):
    from mongo_iceberg_lakehouse_spark import queries as Qmod

    threshold, dirs = _edge_fixture(tmp_path_factory, "orders", "o_custkey")
    old = getattr(Qmod, const_attr)
    monkeypatch.setattr(Qmod, const_attr, threshold)
    oracle = SCALE_PROBES[name].oracle.replace(f"<= {old}", f"<= {threshold}")

    # AT the threshold (n == max): both sides must run the FULL arm
    at = dirs["at"]
    probe_at = SCALE_PROBES[name].fn(spark, at)
    full_at = REGISTRY[name].fn(spark, at)
    assert probe_at.count() == full_at.count()
    con = duck_views(at)
    ok, msg = compare_spark_duckdb(probe_at, con, oracle)
    con.close()
    assert ok, f"{name} at-threshold: {msg}"

    # ONE row above: both sides must cut to the anchored slice
    above = dirs["above"]
    probe_ab = SCALE_PROBES[name].fn(spark, above)
    full_ab = REGISTRY[name].fn(spark, above)
    n_probe, n_full = probe_ab.count(), full_ab.count()
    assert 0 < n_probe < n_full, (
        f"big arm should be a real anchored slice: {n_probe} vs {n_full}"
    )
    anchored = full_ab.filter(_anchor_key(engine_anchor_col)).count()
    assert n_probe == anchored
    con = duck_views(above)
    ok, msg = compare_spark_duckdb(probe_ab, con, oracle)
    con.close()
    assert ok, f"{name} above-threshold: {msg}"


def test_knife_edge_embeddings_dispatch(spark, monkeypatch, tmp_path_factory):
    from mongo_iceberg_lakehouse_spark import queries as Qmod

    threshold, dirs = _edge_fixture(tmp_path_factory, "embeddings", None)
    old = Qmod._EMB_FULL_MAX
    monkeypatch.setattr(Qmod, "_EMB_FULL_MAX", threshold)
    oracle = (
        SCALE_PROBES["semdedup_embedding_prune"]
        .oracle.replace(f"<= {old}", f"<= {threshold}")
        .replace(f"> {old}", f"> {threshold}")
    )

    at = dirs["at"]
    probe_at = Qmod._probe_semdedup(spark, at)
    arms = {r["arm"] for r in probe_at.select("arm").distinct().collect()}
    assert arms == {"full"}
    con = duck_views(at)
    ok, msg = compare_spark_duckdb(probe_at, con, oracle)
    con.close()
    assert ok, f"semdedup at-threshold: {msg}"

    above = dirs["above"]
    probe_ab = Qmod._probe_semdedup(spark, above)
    counts = {
        r["arm"]: r["count"]
        for r in probe_ab.groupBy("arm").count().collect()
    }
    assert "full" not in counts
    assert counts.get("assign", 0) > 0 and counts.get("subset", 0) > 0
    con = duck_views(above)
    ok, msg = compare_spark_duckdb(probe_ab, con, oracle)
    con.close()
    assert ok, f"semdedup above-threshold: {msg}"


def test_knife_edge_documents_dispatch(spark, monkeypatch, tmp_path_factory):
    # the third dispatch constant (_DOCS_FULL_MAX): span-scrub probes the
    # boundary; doc_ids 168/363/381 in the sf0.001 fixture already carry
    # '00' md5 prefixes, so the big arm is naturally non-vacuous
    from mongo_iceberg_lakehouse_spark import queries as Qmod

    name = "dedup_span_scrub"
    threshold, dirs = _edge_fixture(tmp_path_factory, "documents", None)
    old = Qmod._DOCS_FULL_MAX
    monkeypatch.setattr(Qmod, "_DOCS_FULL_MAX", threshold)
    oracle = SCALE_PROBES[name].oracle.replace(f"<= {old}", f"<= {threshold}")

    at = dirs["at"]
    probe_at = SCALE_PROBES[name].fn(spark, at)
    assert probe_at.count() == REGISTRY[name].fn(spark, at).count()
    con = duck_views(at)
    ok, msg = compare_spark_duckdb(probe_at, con, oracle)
    con.close()
    assert ok, f"{name} at-threshold: {msg}"

    above = dirs["above"]
    probe_ab = SCALE_PROBES[name].fn(spark, above)
    full_ab = REGISTRY[name].fn(spark, above)
    n_probe, n_full = probe_ab.count(), full_ab.count()
    assert 0 < n_probe < n_full
    assert n_probe == full_ab.filter(_anchor_doc("doc_id")).count()
    con = duck_views(above)
    ok, msg = compare_spark_duckdb(probe_ab, con, oracle)
    con.close()
    assert ok, f"{name} above-threshold: {msg}"
