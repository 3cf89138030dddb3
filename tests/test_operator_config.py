"""Operators take their configuration as parameters, never from the process
environment. An env-gated operator arm exists only while its interleaved
A/B runs (scripts/ab_envtoggle.py); the losing arm is deleted before the
change merges, so no committed operator reads ``os.environ``/``os.getenv``.

The same holds for parameter-gated arms: a boolean option of an operator
(or of ``catalog.py``) that the package only ever runs with one value is a
second code path nothing exercises, so every such option must be run with
both values by the package's own call sites.

Python stages have one idiom: Arrow batches (``mapInArrow`` /
``applyInArrow``, through ``functions/batches.py``). No pandas UDF surface
and no pandas import appears in the package, except the streaming-state
operator (``streaming/stateful.py``), whose ``applyInPandasWithState`` has
no Arrow counterpart short of a ``transformWithState`` migration.

A frame with several consumers is shared one way: ``localCheckpoint`` with
an explicit ``eager=`` (lazy unless a temp root, a loop's lineage bound or a
side effect forces the frame to be decided first). No ``persist``, ``cache``,
``unpersist`` or reliable ``checkpoint`` call appears in the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

import mongo_iceberg_lakehouse_spark.operators as operators

OPERATORS_DIR = Path(operators.__file__).parent
PACKAGE_DIR = OPERATORS_DIR.parent


def _env_reads(source: str) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` uses and of
    ``from os import environ|getenv``."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                lines.append(node.lineno)
    return sorted(lines)


def test_detector_finds_env_reads():
    src = (
        "import os\n"
        "from os import getenv\n"
        "def f():\n"
        "    return os.environ.get('A', '0') == '1' or os.getenv('B')\n"
    )
    assert _env_reads(src) == [2, 4, 4]
    assert _env_reads("import os\npath = os.path.join('a', 'b')\n") == []


def test_operators_read_no_env():
    found = {
        p.name: lines
        for p in sorted(OPERATORS_DIR.glob("*.py"))
        if (lines := _env_reads(p.read_text()))
    }
    assert not found, f"operator env reads (file: lines): {found}"


def _bool_options(source: str) -> list[tuple[str, str, int | None, bool]]:
    """``(function, parameter, positional index or None, default)`` for
    every parameter whose default is a bool literal."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = node.args
        pos = a.posonlyargs + a.args
        pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
        for p, d in pairs:
            if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                idx = pos.index(p) if p in pos else None
                out.append((node.name, p.arg, idx, d.value))
    return out


def _values_in_use(
    fn: str, param: str, idx: int | None, default: bool, sources: list[str]
) -> set[bool]:
    """Values ``param`` takes across every call of a function named ``fn``:
    the default where the call omits it, the literal where it passes one,
    and both where the value is computed or the call unpacks ``*``/``**``."""
    seen: set[bool] = set()
    for src in sources:
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name != fn:
                continue
            if any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                seen |= {True, False}
                continue
            vals = [k.value for k in node.keywords if k.arg == param]
            if idx is not None and idx < len(node.args):
                vals.append(node.args[idx])
            if not vals:
                seen.add(default)
            for v in vals:
                if isinstance(v, ast.Constant) and isinstance(v.value, bool):
                    seen.add(v.value)
                else:
                    seen |= {True, False}
    return seen


def _single_value_options(
    defs: dict[str, str], callers: list[str]
) -> list[str]:
    """``file::function(param)`` for each bool option in ``defs`` (file
    name -> source) that ``callers`` run with fewer than two values."""
    return [
        f"{fname}::{fn}({param})"
        for fname, src in defs.items()
        for fn, param, idx, default in _bool_options(src)
        if len(_values_in_use(fn, param, idx, default, callers)) < 2
    ]


def test_detector_finds_single_value_options():
    defs = {
        "m.py": (
            "def f(x, fast=False, *, strict=True):\n"
            "    return x\n"
            "def g(x, keep=True):\n"
            "    return x\n"
            "def h(x, on=False):\n"
            "    return x\n"
            "def unused(x, flag=True):\n"
            "    return x\n"
        )
    }
    callers = [
        "f(1)\n"
        "m.f(2, True)\n"            # fast: both values; strict: default only
        "g(1, keep=False)\n"        # keep: overridden at every call
        "h(1, on=cond)\n"           # computed value counts as both
    ]
    assert _single_value_options(defs, callers) == [
        "m.py::f(strict)",
        "m.py::g(keep)",
        "m.py::unused(flag)",
    ]


def test_every_bool_option_runs_both_values():
    defs = {
        p.name: p.read_text()
        for p in [*sorted(OPERATORS_DIR.glob("*.py")), PACKAGE_DIR / "catalog.py"]
    }
    callers = [p.read_text() for p in sorted(PACKAGE_DIR.rglob("*.py"))]
    found = _single_value_options(defs, callers)
    assert not found, f"bool options run with a single value: {found}"


PANDAS_STAGES = ("mapInPandas", "applyInPandas", "pandas_udf")


def _pandas_sites(source: str) -> list[tuple[int, str]]:
    """``(line, what)`` for every reference to a pandas Python-stage surface
    (``mapInPandas``, ``applyInPandas``, ``pandas_udf``) and every import of
    pandas."""
    out = []
    for node in ast.walk(ast.parse(source)):
        name = (
            node.attr if isinstance(node, ast.Attribute)
            else node.id if isinstance(node, ast.Name)
            else None
        )
        if name in PANDAS_STAGES:
            out.append((node.lineno, name))
        elif isinstance(node, ast.Import):
            if any(a.name.split(".")[0] == "pandas" for a in node.names):
                out.append((node.lineno, "import pandas"))
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                out.append((node.lineno, "import pandas"))
            elif any(a.name in PANDAS_STAGES for a in node.names):
                out.append((node.lineno, "import pandas_udf"))
    return sorted(out)


def test_detector_finds_pandas_stages():
    src = (
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "from pyspark.sql.pandas.types import to_arrow_schema\n"
        "def f(df):\n"
        "    'a docstring naming mapInPandas is no call'\n"
        "    import pandas.api.types\n"
        "    a = df.mapInPandas(g, 'x long')\n"
        "    b = df.groupBy('k').applyInPandas(g, 'x long')\n"
        "    c = df.mapInArrow(g, 'x long')\n"
        "    d = df.groupBy('k').applyInArrow(g, 'x long')\n"
        "    e = df.groupBy('k').applyInPandasWithState(g, 'x long')\n"
        "    return pandas_udf('long')(g)\n"
    )
    assert _pandas_sites(src) == [
        (1, "import pandas"),
        (2, "import pandas_udf"),
        (6, "import pandas"),
        (7, "mapInPandas"),
        (8, "applyInPandas"),
        (12, "pandas_udf"),
    ]


def test_python_stages_are_arrow_only():
    exempt = PACKAGE_DIR / "streaming" / "stateful.py"
    found = {
        str(p.relative_to(PACKAGE_DIR)): sites
        for p in sorted(PACKAGE_DIR.rglob("*.py"))
        if p != exempt and (sites := _pandas_sites(p.read_text()))
    }
    assert not found, f"pandas Python stages (file: [(line, what)]): {found}"


SHARE_CALLS = ("persist", "cache", "unpersist", "checkpoint")


def _share_sites(source: str) -> list[tuple[int, str]]:
    """``(line, what)`` for every ``.persist(`` / ``.cache(`` /
    ``.unpersist(`` / ``.checkpoint(`` call and every ``localCheckpoint``
    call that does not spell out ``eager=``."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name = node.func.attr
        if name in SHARE_CALLS:
            out.append((node.lineno, name))
        elif name == "localCheckpoint" and not any(
            k.arg == "eager" for k in node.keywords
        ):
            out.append((node.lineno, "localCheckpoint without eager="))
    return sorted(out)


def test_detector_finds_share_sites():
    src = (
        "def f(df):\n"
        "    'a docstring naming df.persist() is no call'\n"
        "    a = df.persist()\n"
        "    b = df.cache()\n"
        "    a.unpersist()\n"
        "    c = df.checkpoint(eager=False)\n"
        "    d = df.localCheckpoint()\n"
        "    e = df.localCheckpoint(True)\n"
        "    g = df.localCheckpoint(eager=False)\n"
        "    return spark.catalog.isCached('t')\n"
    )
    assert _share_sites(src) == [
        (3, "persist"),
        (4, "cache"),
        (5, "unpersist"),
        (6, "checkpoint"),
        (7, "localCheckpoint without eager="),
        (8, "localCheckpoint without eager="),
    ]


def test_frames_are_shared_by_local_checkpoint_only():
    found = {
        str(p.relative_to(PACKAGE_DIR)): sites
        for p in sorted(PACKAGE_DIR.rglob("*.py"))
        if (sites := _share_sites(p.read_text()))
    }
    assert not found, f"other frame-sharing calls (file: [(line, what)]): {found}"
