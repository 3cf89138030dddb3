"""Interleaved same-session A/B for env-gated operator variants.

Runs each named query's two arms ALTERNATING (A,B,A,B,...) inside ONE
SparkSession so host drift hits both arms equally (PERF_NOTES §12), with
checkpoint blocks dropped between every run. Arms differ only in the env
var value, read by the operator at query-construction time.

An env-gated arm exists only while its A/B runs: the change that adds the
gate deletes the losing arm (and the env read) before it merges, and
records the numbers in its notes. Committed operators read no environment
(tests/test_operator_config.py).

Usage:
  python scripts/ab_envtoggle.py VAR=off_val:on_val [--sf-dir D] [--reps N] q1,q2,...

Prints one JSON line per query: {"query": ..., "off": [..], "on": [..]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _drop_checkpoint_blocks  # noqa: E402
from mongo_iceberg_lakehouse_spark.queries import REGISTRY  # noqa: E402
from mongo_iceberg_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    var, vals = args[0].split("=")
    off_val, on_val = vals.split(":")
    del args[0]
    sf_dir = "/root/testdata/sf0.1"
    reps = 4
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = args[0].split(",")

    spark = get_spark(app_name="lakehouse-ab-envtoggle")
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(name: str) -> float:
        fn = REGISTRY[name].fn
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        _drop_checkpoint_blocks(spark)
        return round(dt, 3)

    for name in names:
        # one warm-up per arm (codegen/JIT), untimed
        for v in (off_val, on_val):
            os.environ[var] = v
            run_once(name)
        res: dict[str, list[float]] = {"off": [], "on": []}
        for _ in range(reps):
            for key, v in (("off", off_val), ("on", on_val)):
                os.environ[var] = v
                res[key].append(run_once(name))
        print(
            json.dumps(
                {
                    "query": name,
                    "var": var,
                    "off": res["off"],
                    "on": res["on"],
                    "off_min": min(res["off"]),
                    "on_min": min(res["on"]),
                }
            ),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
