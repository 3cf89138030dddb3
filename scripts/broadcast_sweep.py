"""Broadcast-vs-shuffle join sensitivity sweep -> docs/BROADCAST_SWEEP.md.

Times the customer-orders join (dim ~sf*150k rows joined to fact) under:
  (a) auto broadcast (engine default: planner/AQE picks BroadcastHashJoin),
  (b) forced sort-merge (autoBroadcastJoinThreshold=-1).

Documents the local[32] crossover behavior backing the engine's default:
small dims broadcast (no shuffle of the fact side); the forced-SMJ number is
what every fact-side shuffle would cost. At 1000 executors the gap widens by
the fact table's network factor, which is the scale argument for keeping
dims under the broadcast threshold (or bucketing when they aren't).

Usage: python scripts/broadcast_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mongo_iceberg_lakehouse_spark.session import get_spark  # noqa: E402

SWEEP_CONFS = {
    "auto_broadcast": {},
    "forced_smj": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="broadcast-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    def join_df():
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.sum("o_totalprice").alias("revenue"),
                F.count(F.lit(1)).alias("cnt"),
            )
        )

    results = {}
    plans = {}
    for label, confs in SWEEP_CONFS.items():
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            join_df().write.mode("overwrite").format("noop").save()  # warm
            best = min(
                _timed(join_df) for _ in range(3)
            )
            results[label] = round(best, 3)
            plans[label] = (
                "BroadcastHashJoin"
                if "BroadcastHashJoin"
                in join_df()._jdf.queryExecution().executedPlan().toString()
                else "SortMergeJoin"
            )
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    lines = [
        "# Broadcast-vs-shuffle join sweep",
        "",
        f"`python scripts/broadcast_sweep.py {sf_dir}` — customer⋈orders + "
        "group-agg, best of 3 after warm-up, local[32].",
        "",
        "| mode | physical join | wall sec |",
        "|---|---|---|",
    ]
    for label in SWEEP_CONFS:
        lines.append(f"| {label} | {plans[label]} | {results[label]} |")
    lines += [
        "",
        "Reading the numbers honestly: in local[32] both variants are "
        "sub-second and SMJ can edge out broadcast — a single-JVM 'shuffle' "
        "is a memory copy, while the broadcast still pays to build and "
        "serialize the hash relation, so local timings understate the real "
        "gap. On a multi-executor cluster the forced-SMJ plan additionally "
        "moves the FACT side over the network (its cost grows with fact "
        "bytes); the broadcast plan moves only the dim. That asymmetry — "
        "invisible at local[32] — is why the engine keeps auto-broadcast on "
        "and why dims that outgrow the threshold should be bucketed instead "
        "(see tests/test_plans.py bucketed co-located join).",
    ]
    with open(os.path.join(REPO, "docs", "BROADCAST_SWEEP.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote docs/BROADCAST_SWEEP.md: {results}")
    spark.stop()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn().write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
