"""Workload definitions: op pools, the seeded op order, and one op each of
the two kinds — a registry read query and a lakehouse batch commit cycle.

Every op calls the package's public functions. A read op is
``REGISTRY[q].fn(spark, sf_dir)`` (the build phase, which may already run
Spark jobs) followed by a noop-sink write (the run phase). A commit op is
one landing -> bronze -> silver -> gold cycle over a ``sources.snapshots``
table, published through ``plans.wap``."""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

OLAP_POOL = [
    "gold_sales_report", "medallion_orders_pipeline", "dq_orders_report",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "tpch_q12_shipmode", "tpch_q18_large_orders",
    "join_customer_orders", "join_broadcast_region_revenue", "agg_rollup",
    "window_dedup_latest", "window_running_sum", "session_window_counts",
    "pivot_event_values",
]
LLM_POOL = [  # longest cold run first, for the multi-threaded first pass
    "dedup_minhash_lsh", "web_curation_pipeline", "graph_label_propagation",
    "semdedup_embedding_prune", "text_tfidf_top_terms",
    "embedding_neardup_blocked", "ann_topk_blocked",
    "multimodal_image_text_alignment", "multimodal_png_pixels",
    "quality_gopher_rules",
]
COMMIT = "commit"
# generated tables: sf0.01 star schema, 500 documents, 500 embeddings
SF, N_DOCS, N_VECS = 0.01, 500, 500
MAINT_EVERY = 3  # time travel and maintenance on every 3rd commit cycle


@dataclass(frozen=True)
class Workload:
    name: str
    pool: list[str]
    round_s: float  # nominal seconds of one round, sizes the window
    commit_sizes: tuple[int, ...] = ()  # batch sizes of one round's commits
    commit_rejected: tuple[bool, ...] = ()  # which of them carry a bad amount


WORKLOADS = {
    w.name: w
    for w in (
        Workload("olap_adhoc", OLAP_POOL, 23.0,
                 commit_sizes=(200, 2000, 500),
                 commit_rejected=(False, False, True)),
        Workload("llm_curation", LLM_POOL, 15.0),
    )
}


def rounds(w: Workload, seconds: float) -> int:
    """Rounds in the timed window: a function of --seconds only, so the
    work done (and hence wall time) never depends on the seed."""
    return max(1, round(seconds / w.round_s))


def op_sequence(w: Workload, seed: int, seconds: float) -> list[str]:
    """A seeded permutation of the fixed op multiset: every pool query and
    every commit cycle of a round, ``rounds`` times."""
    ops = (list(w.pool) + [COMMIT] * len(w.commit_sizes)) * rounds(w, seconds)
    random.Random(seed).shuffle(ops)
    return ops


def commit_plan(w: Workload, seed: int, n_rounds: int) -> tuple[list[int], list[bool]]:
    """Batch sizes and rejection flags of the window's commit cycles: the
    fixed per-round multiset, pairs shuffled by the seed."""
    pairs = list(zip(w.commit_sizes, w.commit_rejected)) * n_rounds
    random.Random(seed + 1).shuffle(pairs)
    return [p[0] for p in pairs], [p[1] for p in pairs]


def drop_blocks(spark) -> None:
    """Release cached and checkpointed blocks so no op runs on another op's
    resident blocks (the same drop ``bench.py`` makes between queries)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


class Tracer:
    """Tags Spark jobs with ``<workload>:<op>:<phase>`` job groups when
    tracing; a no-op otherwise, so untraced runs pay nothing."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc, self.workload, self.enabled = spark.sparkContext, workload, enabled

    def phase(self, op: str, phase: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(f"{self.workload}:{op}:{phase}", phase)


def run_read(spark, tracer: Tracer, q: str, op_id: str, sf_dir: str, collect: bool = False):
    """One read op. Returns (build_s, run_s, arrow table or None)."""
    from mongo_iceberg_lakehouse_spark.queries import REGISTRY

    tracer.phase(op_id, "build")
    t0 = time.perf_counter()
    df = REGISTRY[q].fn(spark, sf_dir)
    t1 = time.perf_counter()
    tracer.phase(op_id, "run")
    out = None
    if collect:
        out = df.toArrow()
    else:
        df.write.mode("overwrite").format("noop").save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, out


@dataclass
class Lake:
    """A snapshot table fed by batch commits, plus the Python model of what
    every committed version must hold."""

    base: str
    table: str = "orders_silver"
    gold: str = "lakehouse.city_sales_report"
    accepted: list[dict] = field(default_factory=list)
    versions: dict[int, tuple[int, float]] = field(default_factory=dict)  # live
    history: dict[int, tuple[int, float]] = field(default_factory=dict)  # ever published
    time_travel: list[tuple[int, int, float]] = field(default_factory=list)
    input_bytes: int = 0
    files_added: list[int] = field(default_factory=list)

    def commit(self, version: int, content: tuple[int, float]) -> None:
        self.versions[version] = self.history[version] = content

    def latest_dir(self) -> str:
        """Data directory the newest manifest names (min path on a tie)."""
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(self.base, self.table, "_manifests")).to_pylist()
        top = max(r["version"] for r in rows)
        return min(r["path"] for r in rows if r["version"] == top)

    def files(self) -> set[str]:
        root = os.path.join(self.base, self.table)
        return {
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")
        }


def _checks():
    from pyspark.sql import functions as F

    from mongo_iceberg_lakehouse_spark.operators.quality import (
        Check, not_null_rate, predicate_rate,
    )

    return [
        Check("order_id_present", not_null_rate("order_id"), 1.0),
        Check("amount_non_negative", predicate_rate(F.col("total_amount") >= 0), 1.0),
    ]


def run_commit(spark, tracer: Tracer, lake: Lake, op_id: str, batch_path: str,
               docs: list[dict], rejected: bool, maintain: bool) -> dict:
    """One batch cycle: bronze ingest, WAP publish of silver onto the
    snapshot table, gold refresh into the catalog, and on maintenance
    cycles a time-travel read plus compaction, expiry and orphan removal.
    Returns per-step seconds; raises when a step's result contradicts the
    model."""
    from pyspark.sql import functions as F

    from mongo_iceberg_lakehouse_spark import catalog
    from mongo_iceberg_lakehouse_spark.plans.medallion import (
        bronze_ingest, gold_city_sales_report, silver_transform,
    )
    from mongo_iceberg_lakehouse_spark.plans.wap import wap_publish
    from mongo_iceberg_lakehouse_spark.sources import maintenance, snapshots

    t: dict[str, float] = {}
    before = lake.files()
    tracer.phase(op_id, "bronze")
    t0 = time.perf_counter()
    bronze = bronze_ingest(spark, batch_path)
    t["bronze"] = time.perf_counter() - t0

    tracer.phase(op_id, "publish")
    t0 = time.perf_counter()
    silver = silver_transform(bronze)
    if lake.versions:
        prior = snapshots.read_snapshot(spark, lake.base, lake.table)
        silver = prior.unionByName(silver, allowMissingColumns=True)
    ok, version, _report = wap_publish(silver, lake.base, lake.table, _checks())
    t["publish"] = time.perf_counter() - t0
    bronze.unpersist()
    if ok == rejected:
        raise AssertionError(f"batch rejected={rejected} but audit passed={ok}")
    if ok:
        lake.accepted.extend(docs)
        lake.commit(version, _model(lake.accepted))

    tracer.phase(op_id, "versions")
    t0 = time.perf_counter()
    versions = snapshots.snapshot_versions(spark, lake.base, lake.table)
    t["versions"] = time.perf_counter() - t0
    if versions != sorted(lake.versions):
        raise AssertionError(f"versions {versions} != model {sorted(lake.versions)}")
    lake.files_added.append(len(lake.files() - before))

    tracer.phase(op_id, "gold")
    t0 = time.perf_counter()
    gold = gold_city_sales_report(snapshots.read_snapshot(spark, lake.base, lake.table))
    t1 = time.perf_counter()
    catalog.save_table_replace(gold, lake.gold)
    t2 = time.perf_counter()
    n_cities = catalog.verify_count(spark, lake.gold)
    t3 = time.perf_counter()
    t.update(gold=t3 - t0, replace=t2 - t1, verify=t3 - t2)
    expect = len({d["shipping_address"]["city"] for d in lake.accepted})
    if n_cities != expect:
        raise AssertionError(f"gold has {n_cities} cities, model {expect}")

    if maintain:
        older = sorted(lake.versions)[-2] if len(lake.versions) > 1 else max(lake.versions)
        tracer.phase(op_id, "time_travel")
        t0 = time.perf_counter()
        row = snapshots.read_snapshot(spark, lake.base, lake.table, older).agg(
            F.count(F.lit(1)).alias("n"), F.sum("total_amount").alias("s")
        ).collect()[0]
        t["time_travel"] = time.perf_counter() - t0
        lake.time_travel.append((older, int(row["n"]), float(row["s"] or 0.0)))

        tracer.phase(op_id, "maint")
        t0 = time.perf_counter()
        info = maintenance.compact_snapshot(spark, lake.base, lake.table, target_bytes=None)
        t1 = time.perf_counter()
        lake.commit(info["new_version"], lake.versions[info["src_version"]])
        maintenance.expire_snapshots(spark, lake.base, lake.table, keep_last=2)
        t2 = time.perf_counter()
        for v in sorted(lake.versions)[:-2]:
            del lake.versions[v]
        maintenance.remove_orphan_files(spark, lake.base, lake.table)
        t3 = time.perf_counter()
        t.update(compact=t1 - t0, expire=t2 - t1, orphans=t3 - t2,
                 rewritten_mb=info["bytes_after"] / 1e6)
    drop_blocks(spark)
    return t


def _model(docs: list[dict]) -> tuple[int, float]:
    return len(docs), sum(d["total_amount"] for d in docs)


def gold_model(docs: list[dict]) -> dict[str, tuple[float, int]]:
    """The gold report recomputed in Python: city -> (revenue, orders)."""
    out: dict[str, tuple[float, int]] = {}
    for d in docs:
        s, n = out.get(d["shipping_address"]["city"], (0.0, 0))
        out[d["shipping_address"]["city"]] = (s + d["total_amount"], n + 1)
    return out
