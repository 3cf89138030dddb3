"""Regenerate the query-count line in README.md from the live REGISTRY.

VERDICT r2 item 8: the README's hand-written counts drifted (215/196 vs an
actual 217/198). This keeps them exact.

Usage: python scripts/gen_readme_counts.py [--check]
  --check  exit 1 if README.md is stale instead of rewriting it
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mongo_iceberg_lakehouse_spark.queries import REGISTRY  # noqa: E402

README = os.path.join(REPO, "README.md")
PATTERN = re.compile(r"\d+ named queries \(\d+ DuckDB-oracle-checked\)")


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


def main() -> int:
    total = len(REGISTRY)
    with_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    return _sync_readme(total, with_oracle, "--check" in sys.argv)


if __name__ == "__main__":
    raise SystemExit(main())
