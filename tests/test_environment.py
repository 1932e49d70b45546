"""Pins every environment variable the engine reads. A new variable must
be added here on purpose, so a hidden env-gated switch cannot come back
unnoticed."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "openie_spark"

PINNED = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_GRAFT_EXTRA_CONF"}


def _str_arg(call: ast.AST):
    if isinstance(call, ast.Call) and call.args:
        arg = call.args[0]
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
    return None


def env_reads(source: str) -> set:
    """Names read through ``os.environ[...]``, ``os.environ.get(...)`` or
    ``os.getenv(...)``; any other use of ``environ`` (a computed key, the
    whole mapping) shows as ``<dynamic>``."""
    tree = ast.parse(source)
    parent = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    names = set()
    for node in ast.walk(tree):
        ref = (
            node.attr if isinstance(node, ast.Attribute)
            else node.id if isinstance(node, ast.Name)
            else None
        )
        if ref not in ("environ", "getenv"):
            continue
        up = parent.get(node)
        if ref == "getenv":
            name = _str_arg(up)
        elif isinstance(up, ast.Subscript):
            key = up.slice
            name = key.value if isinstance(key, ast.Constant) else None
        elif isinstance(up, ast.Attribute) and up.attr in ("get", "pop", "setdefault"):
            name = _str_arg(parent.get(up))
        else:
            name = None
        names.add(name if isinstance(name, str) else "<dynamic>")
    return names


def test_env_reads_helper():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = getenv('C')\n"
        "d = environ.get(name)\n"
    )
    assert env_reads(src) == {"A", "B", "C", "<dynamic>"}


def test_engine_reads_only_pinned_env_vars():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        for name in env_reads(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PKG)))
    assert set(found) == PINNED, found
