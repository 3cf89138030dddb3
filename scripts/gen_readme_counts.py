"""Regenerate the query-count lines in README.md and docs/ROADMAP.md
from the live REGISTRY.

VERDICT r2 item 8: the README's hand-written counts drifted (215/196 vs an
actual 217/198). VERDICT r4 nit: ROADMAP's totals drifted too (265/250 vs
264/249 in adjacent bullets). This keeps both exact. ROADMAP is a session
log, so historical "Registry: N queries / M oracle-checked" bullets keep
their old counts — only the LAST such mention (the current total) is
checked and rewritten.

Usage: python scripts/gen_readme_counts.py [--check]
  --check  exit 1 if README.md or ROADMAP.md is stale instead of rewriting
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mongo_iceberg_lakehouse_spark.queries import REGISTRY  # noqa: E402

README = os.path.join(REPO, "README.md")
ROADMAP = os.path.join(REPO, "docs", "ROADMAP.md")
PATTERN = re.compile(r"\d+ named queries \(\d+ DuckDB-oracle-checked\)")
# ROADMAP is a NON-chronological session log: plain "Registry: N/M" bullets
# are point-in-time history and stay as written. The single "Final
# registry:" line is the canonical current total — that one must match.
ROADMAP_PATTERN = re.compile(
    r"Final registry: \d+ queries / \d+ oracle-checked"
)


def _sync_readme(total: int, with_oracle: int, check: bool) -> int:
    want = f"{total} named queries ({with_oracle} DuckDB-oracle-checked)"
    text = open(README).read()
    if want in text:
        print(f"README up to date: {want}")
        return 0
    if not PATTERN.search(text):
        print("count line not found in README.md", file=sys.stderr)
        return 1
    if check:
        print(f"README stale: wants {want!r}", file=sys.stderr)
        return 1
    open(README, "w").write(PATTERN.sub(want, text))
    print(f"README updated: {want}")
    return 0


def _sync_roadmap(total: int, with_oracle: int, check: bool) -> int:
    text = open(ROADMAP).read()
    matches = list(ROADMAP_PATTERN.finditer(text))
    if not matches:
        print(
            "no 'Final registry:' line found in ROADMAP.md", file=sys.stderr
        )
        return 1
    want = f"Final registry: {total} queries / {with_oracle} oracle-checked"
    stale = [m for m in matches if m.group(0) != want]
    if not stale:
        print(f"ROADMAP up to date: {want}")
        return 0
    if check:
        print(
            f"ROADMAP stale: {stale[0].group(0)!r}, wants {want!r}",
            file=sys.stderr,
        )
        return 1
    open(ROADMAP, "w").write(ROADMAP_PATTERN.sub(want, text))
    print(f"ROADMAP updated: {want}")
    return 0


def main() -> int:
    total = len(REGISTRY)
    with_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    check = "--check" in sys.argv
    return _sync_readme(total, with_oracle, check) | _sync_roadmap(
        total, with_oracle, check
    )


if __name__ == "__main__":
    raise SystemExit(main())
