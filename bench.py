"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is fully materialized through the noop sink (count() would let
Catalyst prune the projected columns and under-measure). Session boot and a
warm-up scan are excluded from timings — the reference's numbers are
boot-dominated (BASELINE.md), ours measure the actual query work.

Anchor normalization (PERF_NOTES §11, formalized per round-4 verdict #2):
cross-session host drift is uniform and can masquerade as (or mask) a code
regression. ``tpch_q1_pricing_summary`` — a plain scan+agg whose plan and
code are unchanged since round 1 — is the designated anchor. The JSON line
carries ``anchor_sec`` (this run's in-suite min-of-3 for the anchor),
``anchor_baseline_sec`` (the round-1 in-suite recording at sf0.1),
``host_drift`` (their ratio) and ``value_anchor_normalized``
(= value / host_drift): compare normalized totals across rounds, raw
totals within a round. ``subtotal_r1_shared`` is the sum over the
original 23 round-1 queries — the like-for-like series BASELINE.md's
2x budget is stated against.

Intra-session drift detection (round-11, per the round-10 verdict item 1 —
additions-only): one anchor measured once at suite start cannot tell a
poisoned session from a code regression (the r10 driver run regressed 33
untouched queries 0.6-0.9x while its anchor got FASTER — the degradation
grew mid-session). The suite now (a) drops persisted/checkpointed blocks
after EVERY warm-up query and after EVERY timed rep, so no query's timing
sits on another query's (or its own previous rep's) resident blocks, and
(b) re-times the anchor mid-suite and at suite end, emitting ``anchor_mid``
/ ``anchor_end`` plus ``rss_peak_mb`` (driver python + JVM VmHWM). Anchors
within ~10% of each other certify the session was stable; a mid/end anchor
far above the start anchor marks the session (not the code) as degraded.
Timing methodology for the queries themselves is unchanged: same query
set, same noop sink, same min-of-3, same JSON contract (new keys only).
"""

from __future__ import annotations

import json
import os
import sys
import time

from mongo_iceberg_lakehouse_spark.queries import REGISTRY, tagged
from mongo_iceberg_lakehouse_spark.session import get_spark

# The designated drift anchor (PERF_NOTES §11): plan + code unchanged since
# round 1. ANCHOR_BASELINE_SEC is its round-1 in-suite min-of-3 at sf0.1
# (BENCH_r01.json) — in-suite vs in-suite is the apples-to-apples pair.
ANCHOR = "tpch_q1_pricing_summary"
ANCHOR_BASELINE_SEC = 0.51


def _drop_checkpoint_blocks(spark) -> None:
    """Unpersist every lingering RDD block between queries (ported from
    the scaling-curve harness, round-8 per VERDICT r7 #4). Several operators
    lazily localCheckpoint multi-consumer subtrees; over a 45-query session
    those blocks pile up in the block manager and the resulting memory
    pressure inflates LATER queries' timings — the round-7 bench showed
    three UNTOUCHED queries regressing 1.5-1.9x normalized, the same
    in-session contamination the round-5 sf10 sweep measured at 82 s
    in-session vs 18 s standalone. Queries never share checkpointed frames,
    so dropping them between measurements is safe and makes each timing
    independent."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _rss_peak_mb() -> float | None:
    """Peak RSS (VmHWM) of the driver python process plus any direct java
    child (the py4j gateway JVM), in MB. Best-effort: None on any failure
    (non-procfs platforms)."""
    import re

    def vmhwm(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            m = re.search(r"VmHWM:\s+(\d+)\s+kB", f.read())
        return int(m.group(1)) if m else 0

    try:
        total_kb = vmhwm(os.getpid())
        me = str(os.getpid())
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().split()
                # stat fields: pid (comm) state ppid ...
                if parts[3] == me and "java" in parts[1]:
                    total_kb += vmhwm(int(d))
            except OSError:
                continue
        return round(total_kb / 1024.0, 1)
    except OSError:
        return None


def time_noop(spark, fn, sf_dir: str, reps: int = 3) -> float:
    """Min-of-``reps`` wall time of ``fn(spark, sf_dir)`` fully materialized
    through the noop sink. Min-of-3: ±15% scheduler noise on sub-second
    queries reads as a regression under single-shot timing. Blocks are
    dropped after EVERY rep (r11): each rep builds its own fresh checkpoint
    blocks, so releasing the previous rep's costs the next rep nothing and
    keeps the minimum off pinned-block pressure."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
        _drop_checkpoint_blocks(spark)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="lakehouse-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up pass: run every headline query once untimed so codegen/JIT
    # compilation (a fixed, per-JVM cost of ~10s on the heavy HOF pipelines)
    # doesn't pollute the steady-state throughput numbers.
    # r11: blocks are dropped after EVERY warm-up query (not once after the
    # loop) so the warm-up's peak resident footprint no longer grows with
    # every suite addition — the r10 verdict's leading session-poison suspect.
    headline = tagged("bench")
    for name in headline:
        time_noop(spark, REGISTRY[name].fn, sf_dir, reps=1)

    timings: dict[str, float] = {}
    anchor_mid: float | None = None
    mid_idx = len(headline) // 2
    anchor_fn = REGISTRY[ANCHOR].fn
    for qi, name in enumerate(headline):
        timings[name] = time_noop(spark, REGISTRY[name].fn, sf_dir)
        print(f"# {name}: {timings[name]}s", file=sys.stderr, flush=True)
        if qi + 1 == mid_idx:
            anchor_mid = time_noop(spark, anchor_fn, sf_dir)
            print(f"# anchor_mid: {anchor_mid}s", file=sys.stderr, flush=True)
    anchor_end = time_noop(spark, anchor_fn, sf_dir)
    print(f"# anchor_end: {anchor_end}s", file=sys.stderr, flush=True)

    total = round(sum(timings.values()), 3)
    anchor_sec = timings.get(ANCHOR)
    drift = (
        round(anchor_sec / ANCHOR_BASELINE_SEC, 3) if anchor_sec else None
    )
    normalized = round(total / drift, 3) if drift else None
    # the round-1 set: BASELINE.md's within-2x budget is stated against the
    # sum over these 23 (later rounds grew the suite, so raw totals across
    # rounds are not comparable; subtotal_r1_shared is)
    subtotal_shared = round(
        sum(timings[n] for n in tagged("r1") if n in timings), 3
    )
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "anchor": ANCHOR,
                "anchor_sec": anchor_sec,
                "anchor_baseline_sec": ANCHOR_BASELINE_SEC,
                "host_drift": drift,
                "value_anchor_normalized": normalized,
                "subtotal_r1_shared": subtotal_shared,
                "subtotal_r1_shared_normalized": (
                    round(subtotal_shared / drift, 3) if drift else None
                ),
                # r11 session-health fields (additions-only): the anchor
                # re-timed mid-suite and at suite end, plus peak RSS. All
                # three anchors within ~10% == stable session; a mid/end
                # anchor far above anchor_sec == in-session degradation
                # (blame the session, not the code).
                "anchor_mid": anchor_mid,
                "anchor_end": anchor_end,
                "rss_peak_mb": _rss_peak_mb(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
