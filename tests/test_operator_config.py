"""Operators take their configuration as parameters, never from the process
environment. An env-gated operator arm exists only while its interleaved
A/B runs (scripts/ab_envtoggle.py); the losing arm is deleted before the
change merges, so no committed operator reads ``os.environ``/``os.getenv``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import mongo_iceberg_lakehouse_spark.operators as operators

OPERATORS_DIR = Path(operators.__file__).parent


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
