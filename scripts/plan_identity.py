"""Plan-identity check for refactors that must not change any query plan.

``dump`` builds every REGISTRY query (no action) and writes its optimized
logical plan, normalized so two builds of the same code compare equal:
expression ids (``#123``), ``plan_id=`` tags, ``/tmp`` paths and the
per-call memory-sink names of ``streaming.events.collect_available_now``
are stripped. ``diff`` takes two dumps of the base commit (to find the
queries whose plans are stable run to run) and one dump of the change, and
reports every stable query whose plan differs.

Usage:
  python scripts/plan_identity.py dump OUT.json SF_DIR
  python scripts/plan_identity.py diff BASE1.json BASE2.json CHANGE.json
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_NORMALIZE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/*"),
    (re.compile(r"available_now_[0-9a-f]{32}"), "available_now_*"),
]


def normalize(plan: str) -> str:
    for pat, sub in _NORMALIZE:
        plan = pat.sub(sub, plan)
    return plan


def dump(out: str, sf_dir: str) -> int:
    from mongo_iceberg_lakehouse_spark.queries import REGISTRY
    from mongo_iceberg_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="plan-identity")
    plans = {}
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plans[name] = normalize(
                df._jdf.queryExecution().optimizedPlan().toString()
            )
        except Exception as exc:  # noqa: BLE001
            plans[name] = f"ERROR {type(exc).__name__}: {str(exc)[:200]}"
        print(name, flush=True)
    with open(out, "w") as f:
        json.dump(plans, f, indent=0, sort_keys=True)
    spark.stop()
    return 0


def diff(base1: str, base2: str, change: str) -> int:
    a, b, c = (json.load(open(p)) for p in (base1, base2, change))
    unstable = sorted(n for n in a if a[n] != b.get(n))
    stable = sorted(n for n in a if a[n] == b.get(n))
    changed = [n for n in stable if c.get(n) != a[n]]
    print(json.dumps({
        "queries": len(a),
        "unstable_at_base": unstable,
        "checked": len(stable),
        "changed": changed,
    }, indent=1))
    return 1 if changed else 0


if __name__ == "__main__":
    cmd, *args = sys.argv[1:]
    if cmd == "dump":
        raise SystemExit(dump(*args))
    raise SystemExit(diff(*args))
