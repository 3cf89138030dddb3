"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap_adhoc --seed 1 --seconds 30 --trace 0

Run from the repository root. One process, one client thread (a closed
loop) on a ``local[$(nproc)]`` session. Set-up generates the inputs, boots
the session, and warms the JVM by running every pool op once, checking its
output against the package's oracle on the way (check time is excluded
from ``setup_s``). The timed window then runs a fixed, seed-permuted op
multiset; cached and checkpointed blocks are dropped after every op, and
that drop is inside ``wall_s`` but outside each op's latency. ``--trace 1``
adds the Spark event log and per-op job groups and reports the per-layer
metrics instead of the end-to-end ones. Everything is written to a fresh
directory under ``.perfbench/`` and removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mongo_iceberg_lakehouse_spark"
sys.path.insert(0, ROOT)

from perfbench import checks, datagen, eventlog, stats  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    COMMIT, LLM_POOL, MAINT_EVERY, N_DOCS, N_VECS, OLAP_POOL, SF, WORKLOADS, Lake,
    Tracer, commit_plan, drop_blocks, gold_model, op_sequence, rounds, run_commit,
    run_read,
)

JVM_HEAP = "3g"
WARM_THREADS = 3
# C1-only JIT: with the default tiered C2 the Spark JVM spent 25-39 core-s
# compiling inside a 14 s window, a varying amount that set the run-to-run
# spread; with C1 only it compiles the same ~8 core-s every window
JVM_FLAGS = "-XX:TieredStopAtLevel=1"
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "core-s", "rss_peak_mb": "MB", "ok_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> dict[str, str]:
    """Fixed launch environment; every temporary path is under ``run_dir``."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("data", "landing", "tmp", "local", "warehouse", "lake", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # the spark-submit launcher JVM, which runs before the Spark JVM
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "PYSPARK_PYTHON": sys.executable,
    })
    return dirs


def boot(dirs: dict[str, str], trace: bool):
    from mongo_iceberg_lakehouse_spark.session import get_spark

    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData " + JVM_FLAGS,
        "spark.local.dir": dirs["local"],
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
        })
    spark = get_spark(app_name="perfbench", warehouse_dir=dirs["warehouse"], extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_times(spark) -> tuple[float, float]:
    """(JIT compile seconds, GC seconds) the Spark JVM has spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, gc_ms / 1e3


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = [p for p in stats.process_tree() if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in others):
        time.sleep(0.1)
    for p in others:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.failures: list[str] = []
        self.checked = 0
        self.check_s = 0.0

    # -- checks -----------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.checked += 1
        if not ok:
            self.failures.append(what)
            log(f"CHECK FAILED: {what}")

    def check_read(self, q: str, table) -> None:
        from mongo_iceberg_lakehouse_spark.queries import oracle_sql

        t0 = time.perf_counter()
        cols, rows = checks.arrow_rows(table)
        sql = oracle_sql().get(q)
        if sql is not None:
            err = self.oracle.compare(cols, rows, sql)
        else:
            with open(EXPECTED) as f:
                want = json.load(f).get(q)
            got = {"rows": len(rows), "sha256": checks.fingerprint(cols, rows)}
            err = None if got == want else f"{got} != recorded {want}"
        self.check(err is None, f"{q}: {err}")
        self.check_s += time.perf_counter() - t0

    def check_lake(self, spark, lake: Lake) -> None:
        """The final table holds exactly the accepted batches, the gold
        table equals their Python aggregate, and every time-travel read
        returned its version's rows."""
        from pyspark.sql import functions as F

        from mongo_iceberg_lakehouse_spark import catalog
        from mongo_iceberg_lakehouse_spark.sources.snapshots import read_snapshot

        latest = read_snapshot(spark, lake.base, lake.table)
        ids = {r[0] for r in latest.select("order_id").collect()}
        self.check(ids == {d["order_id"] for d in lake.accepted},
                   f"latest snapshot holds {len(ids)} orders, model {len(lake.accepted)}")
        neg = latest.filter(F.col("total_amount") < 0).count()
        self.check(neg == 0, f"{neg} rows of rejected batches are readable")
        want = gold_model(lake.accepted)
        got = {r["city"]: (r["total_revenue"], r["order_count"], r["country"])
               for r in catalog.read_table(spark, lake.gold).collect()}
        self.check(
            got.keys() == want.keys() and all(
                abs(got[c][0] - s) <= 1e-9 * abs(s) + 1e-6 and got[c][1] == n
                and got[c][2] == "INDIA" for c, (s, n) in want.items()),
            f"gold {got} != model {want}")
        for version, n, s in lake.time_travel:
            wn, ws = lake.history[version]
            self.check(n == wn and abs(s - ws) <= 1e-9 * abs(ws) + 1e-6,
                       f"time travel to v{version}: {n} rows sum {s}, model {wn} rows sum {ws}")

    # -- phases -------------------------------------------------------------
    def run(self) -> dict:
        """Inputs, boot, set-up, window, checks; the end-to-end metrics."""
        args, w = self.args, self.w
        dirs = pin_environment(self.run_dir)
        self.sf_dir, self.eventlog_dir = dirs["data"], dirs["eventlog"]
        datagen.write_tables(self.sf_dir, SF, N_DOCS, N_VECS)
        self.oracle = checks.Oracle(self.sf_dir)
        self.ops = op_sequence(w, args.seed, args.seconds)
        # two set-up batches (one accepted, one rejected), then the window's
        sizes, rejected = commit_plan(w, args.seed, rounds(w, args.seconds))
        self.rejected = [False, True] + rejected if w.commit_sizes else []
        self.batches = datagen.order_batches(
            args.seed, list(w.commit_sizes[:2]) + sizes, self.rejected)
        self.batch_paths, self.batch_bytes = [], []
        for i, docs in enumerate(self.batches):
            path = os.path.join(dirs["landing"], f"batch-{i:04d}.json")
            self.batch_bytes.append(datagen.write_batch(path, docs))
            self.batch_paths.append(path)
        self.lake = Lake(dirs["lake"])

        t0 = time.perf_counter()
        spark = boot(dirs, args.trace)
        self.boot_s = time.perf_counter() - t0
        self.gateway_pid = spark.sparkContext._gateway.proc.pid
        try:
            tracer = Tracer(spark, w.name, args.trace)
            setup_s = self.warm_up(spark, tracer)
            e2e = {"setup_s": setup_s, **self.window(spark, tracer)}
            tracer.phase("check", "check")
            if w.commit_sizes:
                self.check_lake(spark, self.lake)
            self.scan = self.scan_probe(spark, tracer) if args.trace else 0.0
        finally:
            self.oracle.close()
            shutdown(spark)
        self.lake_summary = self.lake_stats(self.lake)
        attempted = len(self.records) + self.checked
        e2e["ok_frac"] = 1.0 - len(self.failures) / attempted
        log(f"{w.name} seed={args.seed} " + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
        return {"correct": not self.failures, "attempted": attempted,
                "failed": len(self.failures), "e2e": e2e}

    def warm_up(self, spark, tracer) -> float:
        """Run and check every pool query once, then the set-up commit
        cycles; returns ``setup_s`` (check time excluded)."""
        from mongo_iceberg_lakehouse_spark import catalog

        tracer.phase("setup", "warmup")
        t0 = time.perf_counter()

        def first_run(q):
            try:
                return run_read(spark, tracer, q, "setup", self.sf_dir, collect=True)[2], None
            except Exception as e:  # a failing op is counted, not fatal
                return None, e

        # the cold first pass is mostly JIT and per-job latency, so it runs
        # on a few client threads; the timed window stays a single client
        with ThreadPoolExecutor(WARM_THREADS) as ex:
            firsts = list(ex.map(first_run, self.w.pool))
        drop_blocks(spark)
        for q, (table, err) in zip(self.w.pool, firsts):
            if err is None:
                self.check_read(q, table)
            else:
                self.check(False, f"{q} raised {type(err).__name__}: {err}")
        if self.w.commit_sizes:
            # these cycles also create the table the window commits onto
            catalog.create_namespace(spark, "lakehouse")
            for i in range(2):
                run_commit(spark, tracer, self.lake, "setup", self.batch_paths[i],
                           self.batches[i], self.rejected[i], maintain=i == 1)
        self.warmup_s = time.perf_counter() - t0 - self.check_s
        return time.perf_counter() - T_START - self.check_s

    def window(self, spark, tracer) -> dict:
        """The timed closed loop over the seeded op order."""
        w, lake = self.w, self.lake
        lake.input_bytes = sum(self.batch_bytes[2:])
        lake.files_added.clear()
        calib_before = stats.calibrate()
        records, commits = [], 0
        jit0, gc0 = jvm_times(spark)
        cpu0 = stats.tree_cpu_s(stats.process_tree())
        w0 = time.perf_counter()
        for i, op in enumerate(self.ops):
            rec = {"op": op, "id": f"{op}#{i}", "ok": True}
            t_op = time.perf_counter()
            try:
                if op == COMMIT:
                    k = 2 + commits
                    commits += 1
                    rec["rejected"] = self.rejected[k]
                    rec["steps"] = run_commit(
                        spark, tracer, lake, rec["id"], self.batch_paths[k], self.batches[k],
                        self.rejected[k], maintain=commits % MAINT_EVERY == 0)
                    rec["latency"] = time.perf_counter() - t_op
                else:
                    rec["build"], rec["run"], _ = run_read(spark, tracer, op, rec["id"], self.sf_dir)
                    rec["latency"] = time.perf_counter() - t_op
                    drop_blocks(spark)
            except Exception as e:  # a failing op is counted, not fatal
                rec.update(ok=False, latency=time.perf_counter() - t_op)
                self.failures.append(f"{rec['id']} raised {type(e).__name__}: {e}")
                log(f"OP FAILED: {traceback.format_exc()}")
            records.append(rec)
        wall_s = time.perf_counter() - w0
        cpu_s = stats.tree_cpu_s(stats.process_tree()) - cpu0
        jit1, gc1 = jvm_times(spark)
        self.jit_s, self.jvm_gc_s = jit1 - jit0, gc1 - gc0
        calib_after = stats.calibrate()
        self.calib = (calib_before + calib_after) / 2
        self.records = records

        lat = [r["latency"] for r in records]
        tail_s, tail_p = stats.tail(lat)
        by_op: dict[str, list[float]] = {}
        for r in records:
            by_op.setdefault(r["op"], []).append(r["latency"])
        log(f"ops={len(records)} tail=p{tail_p} calib={calib_before:.3f}/{calib_after:.3f} "
            f"boot={self.boot_s:.2f} warmup={self.warmup_s:.2f} check={self.check_s:.2f} "
            f"window jit={self.jit_s:.2f}s gc={self.jvm_gc_s:.2f}s")
        log("op medians: " + " ".join(f"{k}={stats.median(v):.2f}" for k, v in sorted(by_op.items())))
        return {
            "wall_s": wall_s,
            "op_p50_s": stats.quantile(lat, 0.5),
            "op_tail_s": tail_s,
            "cpu_s": cpu_s,
            "rss_peak_mb": stats.peak_rss_mb([os.getpid(), self.gateway_pid]),
        }

    def scan_probe(self, spark, tracer) -> float:
        """MB/s of each generated table through ``load_table`` to noop."""
        from mongo_iceberg_lakehouse_spark.sources.tables import load_table

        tracer.phase("probe", "scan")
        total_b, t0 = 0, time.perf_counter()
        for t in checks.TABLES:
            total_b += os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
            load_table(spark, self.sf_dir, t).write.mode("overwrite").format("noop").save()
        return total_b / 1e6 / (time.perf_counter() - t0)

    def lake_stats(self, lake: Lake) -> dict:
        root = os.path.join(lake.base, lake.table)
        if not lake.history:
            return {"space_amp": 0.0, "manifest_files": 0}
        manifests = [f for f in os.listdir(os.path.join(root, "_manifests"))
                     if f.endswith(".parquet")]
        return {"space_amp": du(root) / du(lake.latest_dir()), "manifest_files": len(manifests)}


def layer_metrics(bench: Bench, res: dict) -> dict:
    """Per-layer metrics of a traced run: Python-side timings of each call
    into the package, plus the event log's per-job-group Spark counters,
    averaged per window op. A layer that does no work on this workload
    reports 0."""
    recs, lake = bench.records, bench.lake
    groups = eventlog.parse_dir(bench.eventlog_dir)
    zero = dict.fromkeys(eventlog.FIELDS, 0.0)
    phases: dict[str, dict[str, dict]] = {}
    for name, g in groups.items():
        parts = name.split(":")
        if len(parts) == 3 and "#" in parts[1]:
            phases.setdefault(parts[1], {})[parts[2]] = g

    def total(field: str, op_ids=None, only=None) -> float:
        return sum(g[field] for op, ph in phases.items() if op_ids is None or op in op_ids
                   for name, g in ph.items() if only is None or name in only)

    n_ops = max(1, len(recs))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    reads = [r for r in recs if r["op"] != COMMIT and r["ok"]]
    commits = [r for r in recs if r["op"] == COMMIT and r["ok"]]
    med = stats.median

    def build_jobs(rs):
        return total("jobs", {r["id"] for r in rs}, {"build"}) / len(rs) if rs else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.boot_s": (bench.boot_s, "s"),
        "session.warmup_s": (bench.warmup_s, "s"),
        "host.calib_s": (bench.calib, "s"),
        "queries.build_s": (sum(r["build"] for r in reads) / max(1, len(reads)), "s"),
        "queries.build_jobs": (build_jobs(reads), "count"),
    }
    for q in OLAP_POOL + LLM_POOL:
        rs = [r for r in reads if r["op"] == q]
        m[f"q.{q}.build_s"] = (med([r["build"] for r in rs]), "s")
        m[f"q.{q}.build_jobs"] = (build_jobs(rs), "count")
        m[f"q.{q}.run_s"] = (med([r["run"] for r in rs]), "s")
    stages = total("stages")
    tasks = total("tasks")
    action_wall = sum(r["run"] for r in reads) + sum(r["latency"] for r in commits)
    m.update({
        "spark.plan_s": (total("plan_ms") / 1e3 / n_ops, "s"),
        "spark.jobs": (total("jobs") / n_ops, "count"),
        "spark.stages": (stages / n_ops, "count"),
        "spark.tasks": (tasks / n_ops, "count"),
        "spark.single_task_stages": (total("single_task_stages") / n_ops, "count"),
        "spark.skipped_stage_ratio": (total("skipped_stages") / max(1.0, stages + total("skipped_stages")), "ratio"),
        "spark.executor_run_s": (total("run_ms") / 1e3 / n_ops, "s"),
        "spark.executor_cpu_s": (total("cpu_ns") / 1e9 / n_ops, "s"),
        "spark.gc_s": (total("gc_ms") / 1e3 / n_ops, "s"),
        "spark.core_util": (total("run_ms") / 1e3 / max(1e-9, action_wall * cores), "ratio"),
        "spark.shuffle_write_mb": (total("shuffle_write_b") / 1e6 / n_ops, "MB"),
        "spark.shuffle_read_mb": (total("shuffle_read_b") / 1e6 / n_ops, "MB"),
        "spark.spill_mb": (total("spill_b") / 1e6 / n_ops, "MB"),
        "spark.task_failure_ratio": (total("failed_tasks") / max(1.0, tasks), "ratio"),
        "spark.python_s": (total("python_ms") / 1e3 / n_ops, "s"),
        "jvm.jit_s": (bench.jit_s / n_ops, "s"),
        "jvm.gc_s": (bench.jvm_gc_s / n_ops, "s"),
        "sources.tables.scan_mb_per_s": (bench.scan, "MB/s"),
    })

    def step(name, rs=commits):
        return med([r["steps"][name] for r in rs if name in r["steps"]])

    accepted = [r for r in commits if not r["rejected"]]
    commit_ids = {r["id"] for r in commits}
    lake_written = total("output_b", commit_ids, {"bronze", "publish", "versions", "time_travel", "maint"})
    m.update({
        "plans.medallion.bronze_s": (step("bronze"), "s"),
        "plans.wap.publish_s": (step("publish", accepted), "s"),
        "plans.wap.reject_s": (step("publish", [r for r in commits if r["rejected"]]), "s"),
        "plans.wap.accept_ratio": (len(accepted) / len(commits) if commits else 0.0, "ratio"),
        "sources.snapshots.versions_s": (step("versions"), "s"),
        "sources.snapshots.jobs_per_commit": (
            total("jobs", commit_ids, {"bronze", "publish"}) / max(1, len(commits)), "count"),
        "sources.snapshots.files_per_commit": (
            sum(lake.files_added) / max(1, len(lake.files_added)), "count"),
        "sources.snapshots.manifest_files": (bench.lake_summary["manifest_files"], "count"),
        "sources.snapshots.time_travel_s": (step("time_travel"), "s"),
        "sources.maintenance.compact_s": (step("compact"), "s"),
        "sources.maintenance.expire_s": (step("expire"), "s"),
        "sources.maintenance.orphans_s": (step("orphans"), "s"),
        "sources.maintenance.rewritten_mb": (step("rewritten_mb"), "MB"),
        "catalog.replace_s": (step("replace"), "s"),
        "catalog.verify_s": (step("verify"), "s"),
        "lakehouse.commit_p50_s": (med([r["steps"]["bronze"] + r["steps"]["publish"] for r in commits]), "s"),
        "lakehouse.gold_p50_s": (step("gold"), "s"),
        "lakehouse.space_amp": (bench.lake_summary["space_amp"], "ratio"),
        "lakehouse.write_amp": (lake_written / lake.input_bytes if commits else 0.0, "ratio"),
    })
    log("traced end-to-end: " + " ".join(f"{k}={v:.4g}" for k, v in res["e2e"].items()))
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"package {PACKAGE} not found under {ROOT}; run from a full checkout")
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        bench = Bench(args, run_dir)
        res = bench.run()
        metrics = layer_metrics(bench, res) if args.trace else {
            k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
