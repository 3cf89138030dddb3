"""One harness for the oracle, scale, stress and timing checks.

Modes (exactly one):

  --check   Compare every selected query against its DuckDB oracle; rows-only
            queries are executed and their rows counted. Only queries whose
            tables all exist in the scale dir are eligible (synthetic decades
            may carry a subset of the fixture tables). Each compare runs under
            a watchdog; a timeout is reported as SKIP, not as a failure.
            --probes swaps in queries.SCALE_PROBES: the queries whose full
            oracle is deliberately quadratic are value-checked on a
            deterministic md5-anchored slice whose oracle is linear in n.
            --fresh-jvm gives every query its own JVM (see check_fresh_jvm).
  --time    Min-of-N noop-sink timings of the scaling-curve set (the queries
            registered with the "curve" tag), one JSON line per scale dir
            plus a per-query ratio table between consecutive dirs —
            super-linear steps are the thing to investigate.
  --stress  Knife-edge sweep of every oracle, then the order-dependence stress
            of each flagged query (see sweep and stress).
  --driver  The driver's own usage of __spark_entry__: a vanilla SparkSession
            (no engine confs), entry() smoke, oracle keys, spot queries.

Usage:
  python scripts/run.py --check [--probes] [--fresh-jvm] [--timeout N]
                        [--sf DIR ...] [--only a,b,c | --curve]
  python scripts/run.py --time [--sf DIR ...] [--only a,b,c]
  python scripts/run.py --stress [--sf DIR ...] [--only a,b,c | --curve]
  python scripts/run.py --driver [--sf DIR ...] [--only a,b,c]

Exit status: 2 on an unknown --only name (before any Spark session starts);
1 on any FAIL (--check), RISK/BROKEN/oracle error (--stress) or failed
driver assertion; else 0.
"""

from __future__ import annotations

import argparse
import inspect
import json
import math
import os
import re
import shutil
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from bench import _drop_checkpoint_blocks, time_noop  # noqa: E402
from mongo_iceberg_lakehouse_spark.queries import (  # noqa: E402
    REGISTRY,
    SCALE_PROBES,
    tagged,
)
from mongo_iceberg_lakehouse_spark.session import get_spark, scoped_conf  # noqa: E402
from mongo_iceberg_lakehouse_spark.sources.tables import FIXTURE_TABLES  # noqa: E402
from tests.compare import (  # noqa: E402
    _collect_tuples,
    compare_rows_duckdb,
    compare_spark_duckdb,
    duck_views,
)

TESTDATA = os.path.dirname(E.SMOKE_SF_DIR)
SCALE_DIR = os.path.join(REPO, ".scale")
DEFAULT_SF = {
    "check": [f"{TESTDATA}/sf0.01"],
    "time": [f"{TESTDATA}/sf0.01", f"{TESTDATA}/sf0.1"]
    + [f"{SCALE_DIR}/sf{s}" for s in (1, 10, 100)],
    "stress": [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"],
    "driver": [E.SMOKE_SF_DIR],
}

# One flavour each of relational, streaming, LLM and multimodal queries,
# spot-run by --driver under the driver's vanilla session.
SPOT = (
    "window_dedup_latest",
    "streaming_window_counts",
    "dedup_minhash_lsh",
    "multimodal_payload_stats",
)

VERDICTS = ("OK", "FAIL", "SKIP", "ROWS-ONLY")


# --------------------------------------------------------------------- check

SPILL_DIR = "/tmp/duckdb_gate_spill"
_MAP_COUNT_FLOOR = 1048576


def _check_map_count() -> None:
    # DuckDB's out-of-core phase fragments into >64k mmaps on the biggest
    # verification oracles (sf10 span-scrub) and the kernel default
    # vm.max_map_count=65530 turns that into a spurious bad_alloc with
    # 100+ GB free (diagnosed round 5 by watching /proc/self/maps hit the
    # ceiling). The check reads the limit and never writes it: raising a
    # host-wide kernel setting is the operator's call.
    try:
        with open("/proc/sys/vm/max_map_count") as f:
            current = int(f.read().strip())
    except (OSError, ValueError):
        return
    if current < _MAP_COUNT_FLOOR:
        print(
            f"# vm.max_map_count is {current}: DuckDB's sf10+ out-of-core "
            f"oracles need {_MAP_COUNT_FLOOR}; raise it before checking at "
            "that scale",
            flush=True,
        )


def present_tables(sf_dir: str) -> list[str]:
    return [
        t for t in FIXTURE_TABLES if os.path.exists(f"{sf_dir}/{t}.parquet")
    ]


def eligible(name: str, present: list[str]) -> bool:
    """True iff neither the query's oracle nor its engine source names a
    fixture table missing from the scale dir."""
    missing = [t for t in FIXTURE_TABLES if t not in present]
    if not missing:
        return True
    q = REGISTRY[name]
    text = (q.oracle or "") + inspect.getsource(q.fn)
    return not any(re.search(rf"\b{t}\b", text) for t in missing)


def oracle_con(sf_dir: str, tables: list[str], big: bool = False):
    # Fresh connection per query: sf10 showed a big oracle can OOM DuckDB
    # and leave a shared connection's allocator poisoned for every later
    # (tiny) query. Spill-to-disk + an explicit budget make large
    # verification oracles out-of-core instead of fatal.
    con = duck_views(sf_dir, tables)
    con.execute(f"SET temp_directory='{SPILL_DIR}'")
    # 16GB + 8 threads by default, NOT bigger: DuckDB's list/LATERAL
    # intermediates are partly untracked, and per-thread buffers multiply
    # them — at sf10 the span-scrub oracle malloc-failed the whole box under
    # 48GB x 32 threads but finishes in 36 s under this budget (the limit
    # forces early spilling, which the untracked share then rides within).
    # Under --fresh-jvm the Spark JVM is STOPPED before the oracle runs, so
    # ~120 GB of RAM is free and the budget rises to 64GB (still 8 threads —
    # the r5 malloc failure was the 32-thread multiplier, not the limit):
    # the sf100 bpe-pair oracle spilled past 56 GB of DISK under the 16GB
    # budget (round-8), and a larger in-memory share is the only lever left
    # once the disk is already exclusively the oracle's. The env overrides
    # exist because LIST-heavy oracles carry an UNTRACKED allocation share
    # of roughly the tracked budget again, so the right big budget is
    # workload-dependent — semdedup at sf100 OOM-killed the box under 64GB
    # tracked (~128GB real) where 24GB fits.
    mem = os.environ.get(
        "SPARK_GRAFT_GATE_ORACLE_MEM", "64GB" if big else "16GB"
    )
    threads = os.environ.get("SPARK_GRAFT_GATE_ORACLE_THREADS", "8")
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET threads={threads}")
    return con


def check_one(
    spark, name: str, sf_dir: str, tables: list[str], probes: bool,
    timeout: int, fresh_jvm: bool,
) -> tuple[str, str]:
    """(verdict, message) for one query under the watchdog."""
    q = SCALE_PROBES.get(name, REGISTRY[name]) if probes else REGISTRY[name]
    live = {"con": None, "timed_out": False}

    def watchdog():
        live["timed_out"] = True
        try:
            live["con"].interrupt()
        except Exception:
            # no connection bound yet (engine phase, or the --fresh-jvm
            # oracle connection is still opening): the timed_out re-check
            # right after binding lands the timeout instead
            pass
        try:
            spark.sparkContext.cancelAllJobs()
        except Exception:
            pass  # context already stopped (--fresh-jvm oracle phase)

    def bind(con):
        live["con"] = con
        if live["timed_out"]:
            raise TimeoutError("watchdog fired before the oracle connection")
        return con

    timer = threading.Timer(timeout, watchdog)
    timer.start()
    try:
        df = q.fn(spark, sf_dir)
        if q.oracle is None:
            return "ROWS-ONLY", f"{df.count()} rows"
        if fresh_jvm:
            # sf100 within-query disk bind: a single query's shuffle blocks
            # (tens of GB) and the DuckDB oracle's out-of-core spill
            # otherwise share the disk SIMULTANEOUSLY. Collect the engine
            # side, STOP the JVM (its shutdown hook deletes blockmgr/shuffle
            # dirs synchronously), then run the oracle with the whole disk
            # and the big-RAM budget.
            cols, rows = list(df.columns), _collect_tuples(df)
            spark.stop()
            con = bind(oracle_con(sf_dir, tables, big=True))
            ok, msg = compare_rows_duckdb(cols, rows, con, q.oracle)
        else:
            con = bind(oracle_con(sf_dir, tables))
            ok, msg = compare_spark_duckdb(df, con, q.oracle)
    except Exception as exc:  # noqa: BLE001
        if live["timed_out"]:
            return "SKIP", f"timeout >{timeout}s"
        # 1200 chars: py4j prefixes ~90 chars of wrapper before the actual
        # Java exception class/message — 200 cut it off
        ok, msg = False, "error: " + " | ".join(str(exc)[:1200].splitlines())
    finally:
        timer.cancel()
        if live["con"] is not None:
            live["con"].close()
    verdict = "OK" if ok else "FAIL"
    if probes and name in SCALE_PROBES:
        verdict += "(probe)"
    return verdict, msg


def check_fresh_jvm(
    sf_dir: str, names: list[str], probes: bool, timeout: int
) -> tuple[int, int]:
    """One child process (and JVM) per query; returns (fails, skips).

    A long-lived session accumulates Spark shuffle blocks — ~50 GB at sf100
    — on the same filesystem DuckDB's out-of-core oracles spill to, so the
    five heaviest sf100 value checks died on spill ENOSPC although every
    compare that completed was green (docs/SF100_GATE_r07.log): a harness
    capacity limit, not an engine or oracle defect, since each query alone
    fits the disk. Each child runs exactly one query through check_one and
    exits, so Spark's shutdown hook deletes its shuffle/blockmgr dirs before
    the next query's oracle needs the disk; the DuckDB spill dir is cleared
    between queries. ~20 s of session boot per query is the price."""
    fails = skips = 0
    for name in names:
        shutil.rmtree(SPILL_DIR, ignore_errors=True)
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--check",
             "--fresh-jvm", "--sf", sf_dir, "--only", name,
             "--timeout", str(timeout)] + (["--probes"] if probes else []),
            cwd=REPO, capture_output=True, text=True,
        )
        wall = time.time() - t0
        # forward the verdict line, drop the boot noise; keep the stderr
        # tail on a non-zero exit for diagnosis
        verdicts = [
            ln for ln in proc.stdout.splitlines() if ln.startswith(VERDICTS)
        ]
        for ln in verdicts:
            print(f"{ln}  [jvm {wall:.0f}s]", flush=True)
        skips += any(v.startswith("SKIP") for v in verdicts)
        if proc.returncode != 0:
            fails += 1
            if not any(v.startswith("FAIL") for v in verdicts):
                tail = "\n".join(proc.stderr.splitlines()[-5:])
                print(f"FAIL {name}: subprocess rc={proc.returncode}\n{tail}",
                      flush=True)
    shutil.rmtree(SPILL_DIR, ignore_errors=True)
    return fails, skips


def check(
    sf_dir: str, names: list[str], probes: bool = False, timeout: int = 300,
    fresh_jvm: bool = False, spark=None,
) -> tuple[int, int, int]:
    """Run --check at one scale dir; returns (fails, skips, total). A
    caller-owned ``spark`` is left running."""
    tables = present_tables(sf_dir)
    names = [n for n in sorted(names) if eligible(n, tables)]
    print(f"# {len(names)} eligible queries over {tables}", flush=True)
    _check_map_count()
    if fresh_jvm and len(names) > 1:
        fails, skips = check_fresh_jvm(sf_dir, names, probes, timeout)
    else:
        own_spark = spark is None
        if own_spark:
            # the check COLLECTS full query outputs to hash-compare; at
            # sf100 a 5M-row rebuilt-text output serializes to multiple GB,
            # over the 1g maxResultSize default (round-7: span_scrub
            # false-FAILed the gate on the harness limit, not the engine)
            spark = get_spark(
                app_name="oracle-check",
                extra_confs={"spark.driver.maxResultSize": "16g"},
            )
        spark.sparkContext.setLogLevel("ERROR")
        fails = skips = 0
        for name in names:
            t0 = time.time()
            verdict, msg = check_one(
                spark, name, sf_dir, tables, probes, timeout, fresh_jvm
            )
            fails += verdict.startswith("FAIL")
            skips += verdict == "SKIP"
            print(f"{verdict} {name}: {msg} [{time.time() - t0:.1f}s]",
                  flush=True)
        if own_spark:
            spark.stop()
    print(f"\n{fails} failures, {skips} timeouts / {len(names)} queries at "
          f"{sf_dir}", flush=True)
    return fails, skips, len(names)


# ---------------------------------------------------------------------- time

# scale (from the dir name) -> (label, separate warm-up run, timed reps,
# count rows); any other scale: (its name, True, 3, True). NOT silent caps:
# each scale's policy is logged when it runs.
SCALES = {
    "1": ("1(synthetic)", True, 3, True),
    # sf10: one execution costs minutes on the deliberately-quadratic
    # emitters, so reps drop to 2 (no separate warm-up — the suite has
    # warmed the JVM by then; per-plan codegen is noise at sf10 magnitudes)
    "10": ("10(synthetic)", False, 2, True),
    # sf100 (~20 GB: 5M docs / 2M embeddings / 100M events / 600M
    # lineitem): single rep, no count pass (a count re-executes the query)
    "100": ("100(synthetic)", False, 1, False),
}

# Semantically-quadratic / n^1.5-by-design compute (documented in
# docs/SCALING.md — the linear production routes are benched beside
# them): single execution at sf10, and skip the row-count pass.
HEAVY_AT_SF10 = {
    "semdedup_embedding_prune",
    "embedding_neardup_blocked",
    "embedding_neardup_topk",
}

# The two EXACT-quadratic truth baselines would cost hours at sf100
# (measured 197 s / 258 s at sf10 x their ~45x / ~28x decade exponents);
# their sub-quadratic production alternates (IVF / LSH / int8) run the
# full decade instead. Skips are logged, never silent.
SKIP_AT_SF100 = {
    "embedding_neardup_blocked",
    "embedding_neardup_topk",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def time_scale(spark, sf_dir: str, names: list[str]) -> dict | None:
    """Time ``names`` at one scale dir; returns the JSON record (None when
    the dir is missing)."""
    if not os.path.isdir(sf_dir):
        _log(f"# skip {sf_dir}: missing")
        return None
    scale = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    sf, warm, reps, do_count = SCALES.get(scale, (scale, True, 3, True))
    _log(f"# sf{sf}: warm-up {warm}, min-of-{reps}, row count {do_count}")
    timings: dict[str, float] = {}
    nrows: dict[str, int] = {}
    for name in names:
        fn = REGISTRY[name].fn
        if scale == "100" and name in SKIP_AT_SF100:
            _log(f"# sf{sf} {name}: SKIPPED (exact-quadratic truth baseline "
                 "— hours at this scale; production alternates run instead)")
            continue
        heavy = scale == "10" and name in HEAVY_AT_SF10
        if heavy:
            _log(f"# sf{sf} {name}: HEAVY (quadratic-by-design) — single "
                 "run, no count")
        elif warm:
            time_noop(spark, fn, sf_dir, reps=1)
        timings[name] = time_noop(spark, fn, sf_dir, reps=1 if heavy else reps)
        if do_count and not heavy:
            nrows[name] = fn(spark, sf_dir).count()
            _drop_checkpoint_blocks(spark)
        _log(f"# sf{sf} {name}: {timings[name]}s"
             + (f" ({nrows[name]} rows)" if name in nrows else ""))
    return {
        "metric": "scale_sweep_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "rows": nrows,
        "sf": sf,
    }


def time_curve(sf_dirs: list[str], names: list[str]) -> int:
    spark = get_spark(app_name="scaling-curve")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for sf_dir in sf_dirs:
        if (rec := time_scale(spark, sf_dir, names)) is not None:
            print(json.dumps(rec), flush=True)
            results.append(rec)
    for lo, hi in zip(results, results[1:]):
        print(f"\n# sf{lo['sf']} -> sf{hi['sf']}: time ratio "
              "(linear = the data ratio):")
        for name in names:
            if name in lo["queries"] and name in hi["queries"]:
                r = hi["queries"][name] / max(lo["queries"][name], 1e-9)
                print(f"#   {name}: {r:.1f}x")
    spark.stop()
    return 0


# -------------------------------------------------------------------- stress

# The attribution_linear flake class: a query's true value sits ON a .6g
# rounding boundary (e.g. 1091.165 rendered at 6 significant digits), so
# Spark's partial-agg combine order and DuckDB's scan order land on opposite
# sides and the hash compare flips run to run. A float is knife-edge iff
# nudging it by +/-1e-9 RELATIVE changes its .6g rendering. Legitimate
# on-grid values (round(x, 2) results etc.) are ~5e-7 relative away from the
# nearest boundary and never flag; float-sum noise is ~1e-12 relative, far
# inside the 1e-9 net.
REL_EPS = 1e-9
FLOAT_SIG = ".6g"
# different partial-agg combine orders for the stress runs
PARTITIONINGS = (3, 8, 32)


def knife_edge(v: float) -> bool:
    if v != v or v in (float("inf"), float("-inf")):
        return False
    base = format(v, FLOAT_SIG)
    hi = format(v * (1 + REL_EPS), FLOAT_SIG)
    lo = format(v * (1 - REL_EPS), FLOAT_SIG)
    return base != hi or base != lo


def sweep(sf_dir: str, names=None) -> list[tuple[str, str, float]]:
    """Every (query, column, value) knife-edge float in the DuckDB oracle
    outputs; a broken oracle is reported as column ``<oracle error: …>``."""
    flagged = []
    with duck_views(sf_dir) as con:
        for name in sorted(names or REGISTRY):
            q = REGISTRY[name]
            if q.oracle is None:
                continue
            try:
                cur = con.execute(q.oracle)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
            except Exception as e:  # oracle itself broken -> surface loudly
                flagged.append((name, f"<oracle error: {e}>", float("nan")))
                continue
            for r in rows:
                for c, v in zip(cols, r):
                    if isinstance(v, float) and knife_edge(v):
                        flagged.append((name, c, v))
    return flagged


def _norm_pair(columns, rows):
    """Rows sorted by their .6g normalization, carrying .17g alongside."""
    import datetime as _dt

    def n6(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NULL" if math.isnan(v) else format(v, FLOAT_SIG)
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        return str(v)

    def n17(v):
        if isinstance(v, float) and not math.isnan(v):
            return format(v, ".17g")
        return n6(v)

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    paired = sorted(
        (tuple(n6(r[i]) for i in order), tuple(n17(r[i]) for i in order))
        for r in rows
    )
    return [p[0] for p in paired], [p[1] for p in paired]


def stress(spark, con, name: str, sf_dir: str) -> tuple[str, str]:
    """A boundary value is only a correctness risk if it is ALSO
    order-dependent: a raw parquet passthrough or an exact-integer sum is
    bit-identical in Spark and DuckDB. Runs the Spark side under each
    PARTITIONINGS setting plus the DuckDB oracle, aligns rows by the .6g
    sort and compares the .17g renderings position by position:

      SAFE    all runs bit-identical (or differing only off-boundary);
      RISK    some knife-edge value differs at .17g across runs: the .6g
              rendering can flip with combine order -> fix the query
              (quantize to an integer grid or make the sum exact);
      BROKEN  the .6g normalized outputs already disagree.
    """
    q = REGISTRY[name]
    runs = []
    for p in PARTITIONINGS:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(p)}):
            df = q.fn(spark, sf_dir)
            runs.append((df.columns, [tuple(r) for r in df.collect()]))
    cur = con.execute(q.oracle)
    runs.append(([d[0] for d in cur.description], cur.fetchall()))

    normed = [_norm_pair(c, r) for c, r in runs]
    base6 = normed[0][0]
    if any(n6 != base6 for n6, _ in normed[1:]):
        return "BROKEN", "normalized (.6g) outputs disagree across runs"
    risky = []
    for pos, row6 in enumerate(base6):
        row17s = [n17[pos] for _, n17 in normed]
        for ci, cell6 in enumerate(row6):
            cells17 = {r17[ci] for r17 in row17s}
            if len(cells17) > 1:
                try:
                    v = float(cell6)
                except ValueError:
                    continue
                if knife_edge(v):
                    risky.append((pos, ci, cell6, sorted(cells17)))
    if risky:
        return "RISK", f"{len(risky)} knife-edge cells vary bitwise: {risky[:3]}"
    return "SAFE", "all runs bit-identical or off-boundary"


def stress_all(sf_dirs: list[str], names: list[str]) -> int:
    """Sweep, then stress every flagged query. A flagged value that stays
    bit-identical is not a defect: only RISK, BROKEN or an oracle error
    fails the run."""
    spark = get_spark(app_name="float-stress", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for sf_dir in sf_dirs:
        flagged = sweep(sf_dir, names)
        for name, col, v in flagged:
            print(f"KNIFE_EDGE {sf_dir} {name} {col} {v!r} -> "
                  f"{format(v, FLOAT_SIG)}")
        print(f"# {sf_dir}: {len(flagged)} knife-edge values", flush=True)
        broken = {n for n, c, _ in flagged if c.startswith("<oracle error")}
        candidates = sorted({n for n, _, _ in flagged} - broken)
        n_risk = 0
        with duck_views(sf_dir) as con:
            for name in candidates:
                verdict, msg = stress(spark, con, name, sf_dir)
                print(f"STRESS {name}: {verdict} — {msg}", flush=True)
                n_risk += verdict != "SAFE"
        print(f"# {sf_dir}: {len(candidates)} queries stressed, {n_risk} at "
              f"risk, {len(broken)} oracle errors", flush=True)
        bad += n_risk + len(broken)
    spark.stop()
    return 1 if bad else 0


# -------------------------------------------------------------------- driver

def driver(sf_dirs: list[str], names) -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and len(df.columns) > 0
    print(f"entry: {len(rows)} rows, cols={df.columns}")

    qs, osql = E.queries(), E.oracle_sql()
    missing = [k for k in osql if k not in qs]
    assert not missing, f"oracle keys without queries: {missing}"
    print(f"queries: {len(qs)}, with oracle: {len(osql)}")
    for sf_dir in sf_dirs:
        for name in names:
            print(f"{name}: {qs[name](spark, sf_dir).count()} rows at {sf_dir}")
    spark.stop()
    print("driver-sim OK")
    return 0


# ---------------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Oracle, scale, stress and timing harness.",
        epilog="See the module docstring for what each mode checks.",
    )
    modes = ap.add_mutually_exclusive_group(required=True)
    for mode in DEFAULT_SF:
        modes.add_argument(
            f"--{mode}", dest="mode", action="store_const", const=mode
        )
    ap.add_argument("--sf", nargs="+", metavar="DIR",
                    help="scale dirs (default depends on the mode)")
    pick = ap.add_mutually_exclusive_group()
    pick.add_argument("--only", type=lambda s: s.split(","), metavar="A,B",
                      help="comma-separated query names")
    pick.add_argument("--curve", action="store_true",
                      help="the scaling-curve set (the --time default)")
    ap.add_argument("--probes", action="store_true",
                    help="--check: run queries.SCALE_PROBES where defined")
    ap.add_argument("--fresh-jvm", action="store_true",
                    help="--check: one JVM per query, stopped before the "
                    "oracle runs")
    ap.add_argument("--timeout", type=int, default=300,
                    help="--check: per-query watchdog seconds (default 300)")
    args = ap.parse_args(argv)
    if (args.probes or args.fresh_jvm) and args.mode != "check":
        ap.error("--probes and --fresh-jvm apply to --check only")
    if args.only and (unknown := [n for n in args.only if n not in REGISTRY]):
        print(f"# unknown queries (not in REGISTRY): {', '.join(unknown)}",
              flush=True)
        return 2

    sf_dirs = args.sf or DEFAULT_SF[args.mode]
    if args.only:
        names = args.only
    elif args.curve or args.mode == "time":
        names = tagged("curve")
    else:
        names = list(SPOT) if args.mode == "driver" else sorted(REGISTRY)
    if args.mode == "time":
        return time_curve(sf_dirs, names)
    if args.mode == "stress":
        return stress_all(sf_dirs, names)
    if args.mode == "driver":
        return driver(sf_dirs, names)
    fails = 0
    for sf_dir in sf_dirs:
        fails += check(
            sf_dir, names, args.probes, args.timeout, args.fresh_jvm
        )[0]
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
