"""Plan-identity check for refactors that must not change any query plan.

``dump`` builds every REGISTRY query (no action) and writes its optimized
logical plan, normalized so two builds of the same code compare equal:
expression ids (``#123``), the JVM-wide numbering of ``_common_expr_N``
aliases, ``plan_id=`` tags, ``/tmp`` paths and the
per-call memory-sink names of ``streaming.events.collect_available_now``
are stripped. An ``Expand`` that numbers its projections with ``gid`` (the
rewrite of several DISTINCT aggregates) has its projection lists sorted
and its ``gid`` values renumbered to match, because the optimizer orders
those groups differently from one JVM run to the next. ``diff`` takes two
dumps of the base commit (to find the queries whose plans are stable run
to run) and one dump of the change, normalizes all three again (so dumps
written by an older ``normalize`` compare under the current one), and
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
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/*"),
    (re.compile(r"available_now_[0-9a-f]{32}"), "available_now_*"),
]


_EXPAND = "Expand ["
_GID_FILTER = re.compile(r"\(gid = (\d+)\)")


def _split_top(s: str) -> list[str]:
    """Split ``s`` at the commas outside any parentheses or brackets."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _closing(s: str, i: int) -> int:
    """Index of the bracket that closes the one at ``s[i]``."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([":
            depth += 1
        elif s[j] in ")]":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced plan text at {i}")


def _sort_expand_groups(plan: str) -> str:
    """Sort the projection lists of the plan's one ``gid``-numbered
    ``Expand`` and renumber ``gid`` (in the Expand and in every
    ``(gid = N)`` filter) so the i-th sorted list gets the i-th smallest
    old number. Plans with no such Expand, or more than one, are returned
    unchanged."""
    found = []
    at = plan.find(_EXPAND)
    while at >= 0:
        lists_at = at + len(_EXPAND) - 1
        lists_end = _closing(plan, lists_at)
        out_at = lists_end + 3  # past "], "
        out_end = _closing(plan, out_at)
        out = _split_top(plan[out_at + 1:out_end])
        if "gid" in out:
            found.append((lists_at, lists_end, out.index("gid")))
        at = plan.find(_EXPAND, out_end)
    if len(found) != 1:
        return plan
    lists_at, lists_end, g = found[0]
    rows = [_split_top(r[1:-1]) for r in _split_top(plan[lists_at + 1:lists_end])]
    rows.sort(key=lambda r: r[:g] + r[g + 1:])
    renum = dict(zip((r[g] for r in rows), sorted((r[g] for r in rows), key=int)))
    body = ", ".join(
        "[" + ", ".join(renum[v] if k == g else v for k, v in enumerate(r)) + "]"
        for r in rows
    )
    plan = plan[:lists_at + 1] + body + plan[lists_end:]
    return _GID_FILTER.sub(lambda m: f"(gid = {renum.get(m[1], m[1])})", plan)


def normalize(plan: str) -> str:
    for pat, sub in _NORMALIZE:
        plan = pat.sub(sub, plan)
    return _sort_expand_groups(plan)


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
    a, b, c = (
        {q: normalize(plan) for q, plan in json.load(open(p)).items()}
        for p in (base1, base2, change)
    )
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
