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


_WRITE_MODES = set("wax+")


def _proc_sys_writes(source: str) -> list[int]:
    """Line numbers of ``open(<path>, <write mode>)`` and
    ``Path(<path>).write_text/write_bytes`` calls whose path is a
    ``/proc/sys`` literal (plain, f-string prefix, or a name bound to one)."""
    tree = ast.parse(source)

    def literal(node) -> str | None:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        if isinstance(node, ast.JoinedStr) and node.values:
            return literal(node.values[0])
        return None

    bound = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and (literal(node.value) or "").startswith("/proc/sys")
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def is_proc_sys(node) -> bool:
        if isinstance(node, ast.Name):
            return node.id in bound
        if isinstance(node, ast.Call) and node.args:  # Path("/proc/sys/...")
            return is_proc_sys(node.args[0])
        return (literal(node) or "").startswith("/proc/sys")

    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func = ast.unparse(node.func)
        if func in ("open", "io.open") and node.args:
            mode = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "mode"), None
            )
            writes = _WRITE_MODES & set(literal(mode) or "")
            if writes and is_proc_sys(node.args[0]):
                lines.append(node.lineno)
        elif (
            isinstance(node.func, ast.Attribute)
            and node.func.attr in ("write_text", "write_bytes")
            and is_proc_sys(node.func.value)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_detector_finds_proc_sys_writes():
    src = (
        "from pathlib import Path\n"
        "open('/proc/sys/vm/max_map_count', 'w').write('1')\n"
        "LIMIT = '/proc/sys/fs/file-max'\n"
        "open(LIMIT, mode='a')\n"
        "Path(f'/proc/sys/vm/{name}').write_text('1')\n"
        "open('/proc/sys/vm/max_map_count').read()\n"
        "open('/proc/self/maps').read()\n"
        "open('/tmp/x', 'w')\n"
    )
    assert _proc_sys_writes(src) == [2, 4, 5]


def test_no_code_writes_kernel_settings():
    # a check or a query must leave the host as it found it: reading a
    # kernel limit to warn about it is fine, writing one is not
    found = {
        str(p.relative_to(REPO)): lines
        for d in ("scripts", "mongo_iceberg_lakehouse_spark")
        for p in sorted((REPO / d).rglob("*.py"))
        if (lines := _proc_sys_writes(p.read_text()))
    }
    assert not found, f"/proc/sys writes (file: lines): {found}"


def _name_lists(source: str, names: set[str]) -> list[int]:
    """Line numbers of literal lists, tuples and sets holding >= 5 of
    ``names`` outside ``register(...)`` calls: a hand-kept copy of a query
    set that ``register(..., tags=...)`` declares."""
    tree = ast.parse(source)
    in_register = {
        id(sub)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and ast.unparse(node.func) == "register"
        for sub in ast.walk(node)
    }
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, (ast.List, ast.Tuple, ast.Set))
        and id(node) not in in_register
        and sum(
            isinstance(e, ast.Constant) and e.value in names
            for e in node.elts
        ) >= 5
    )


def test_detector_finds_query_name_lists():
    names = {"a", "b", "c", "d", "e"}
    src = (
        "HEADLINE = ['a', 'b', 'c', 'd', 'e']\n"
        "CURVE = ('a', 'b',\n 'c', 'd', 'e', 'f')\n"
        "SKIP = {'a', 'b', 'c', 'd', 'x'}\n"
        "@register('a', None, tags=('a', 'b', 'c', 'd', 'e'))\n"
        "def a(spark, sf_dir): ...\n"
        "NESTED = [['a', 'b', 'c', 'd', 'e']]\n"
    )
    assert _name_lists(src, names) == [1, 2, 7]


def test_query_sets_declared_only_at_register():
    # which set a query is in (graded, bench, r1, curve) is a tag on its
    # register(...) call; consumers read queries.tagged(tag). perfbench/
    # pins its own pools and tests may name queries freely.
    from mongo_iceberg_lakehouse_spark.queries import REGISTRY

    files = [
        REPO / "bench.py",
        *sorted((REPO / "scripts").glob("*.py")),
        *sorted((REPO / "mongo_iceberg_lakehouse_spark").rglob("*.py")),
    ]
    found = {
        str(p.relative_to(REPO)): lines
        for p in files
        if (lines := _name_lists(p.read_text(), set(REGISTRY)))
    }
    assert not found, f"hand-kept query-name lists (file: lines): {found}"


def test_plan_identity_ignores_expand_group_order():
    from scripts.plan_identity import normalize

    # two JVM runs of one multi-DISTINCT aggregate: same Expand groups,
    # listed and numbered in a different order
    run1 = (
        "Aggregate [count(pri) FILTER (WHERE (gid = 1)) AS a, "
        "count(seg) FILTER (WHERE (gid = 2)) AS b, "
        "first(n, true) FILTER (WHERE (gid = 0)) AS c]\n"
        "+- Expand [[null, null, 0, n#12], [pri#3, null, 1, null], "
        "[null, seg#4, 2, null]], [pri#5, seg#6, gid#7, n#8]\n"
    )
    run2 = (
        "Aggregate [count(pri) FILTER (WHERE (gid = 2)) AS a, "
        "count(seg) FILTER (WHERE (gid = 1)) AS b, "
        "first(n, true) FILTER (WHERE (gid = 0)) AS c]\n"
        "+- Expand [[null, null, 0, n#22], [null, seg#24, 1, null], "
        "[pri#23, null, 2, null]], [pri#25, seg#26, gid#27, n#28]\n"
    )
    assert normalize(run1) == normalize(run2)
    # a real change (another aggregate, or a group read by the wrong
    # filter) still differs
    assert normalize(run1.replace("count(seg)", "sum(seg)")) != normalize(run2)
    swapped = run1.replace("(gid = 1)) AS a", "(gid = 2)) AS a")
    assert normalize(swapped) != normalize(run2)
