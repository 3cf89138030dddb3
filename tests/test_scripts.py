"""The harness and scripts run against the checkout they live in.

A script that hard-codes its checkout's absolute path (or puts the cwd on
``sys.path``) silently imports another checkout's package when run from a
clone — an A/B of a parent commit would then test the working tree. Every
script resolves the repo root from ``__file__`` instead.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent
RUN = REPO / "scripts" / "run.py"


def _checkout_paths(source: str, repo: str = str(REPO)) -> list[int]:
    """Line numbers of string literals naming a path inside ``repo`` and of
    ``sys.path.insert`` calls whose path is a literal ("." or absolute)."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and (node.value == repo or node.value.startswith(repo + os.sep))
        ):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "sys.path.insert"
            and len(node.args) == 2
            and isinstance(node.args[1], ast.Constant)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_detector_finds_checkout_paths():
    repo = os.path.join(os.sep, "srv", "checkout")
    src = (
        "import sys\n"
        f"README = {os.path.join(repo, 'README.md')!r}\n"
        "sys.path.insert(0, '.')\n"
        f"sys.path.insert(0, {repo!r})\n"
    )
    assert _checkout_paths(src, repo) == [2, 3, 4, 4]
    clean = (
        "import os, sys\n"
        "REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))\n"
        "sys.path.insert(0, REPO)\n"
        f"OTHER = {repo + 'x'!r}\n"
    )
    assert _checkout_paths(clean, repo) == []


def test_scripts_and_tests_resolve_repo_from_file():
    found = {
        f"{p.parent.name}/{p.name}": lines
        for d in ("scripts", "tests")
        for p in sorted((REPO / d).glob("*.py"))
        if (lines := _checkout_paths(p.read_text()))
    }
    assert not found, f"hard-coded checkout paths (file: lines): {found}"


def test_run_check_fresh_jvm():
    # one child JVM per query: an oracle query and a rows-only query
    proc = subprocess.run(
        [sys.executable, str(RUN), "--check", "--fresh-jvm", "--sf", SF_SMOKE,
         "--only", "tpch_q1_pricing_summary,dedup_minhash_lsh"],
        capture_output=True, text=True, timeout=900,
    )
    out = proc.stdout.splitlines()
    assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]
    ok = [ln for ln in out if ln.startswith("OK ")]
    rows_only = [ln for ln in out if ln.startswith("ROWS-ONLY ")]
    assert len(ok) == 1 and "tpch_q1_pricing_summary" in ok[0], out
    assert len(rows_only) == 1 and "dedup_minhash_lsh" in rows_only[0], out
