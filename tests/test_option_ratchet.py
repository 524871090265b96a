"""Option-count ratchet: the package reads exactly these environment
variables. A new read is a new option and has to be added here on
purpose; a read that goes away has to be removed here too."""

from __future__ import annotations

import ast
import pathlib

import python_sql_etl_project_spark

PINNED = {
    "TELEGRAM_TOKEN",
    "TELEGRAM_CHAT_ID",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_STREAM_PARTITIONS",
    "SPARK_GRAFT_SMALL_FRAME_ROWS",
    "SPARK_GRAFT_NO_CHECKPOINT",
}


def _is_environ(node) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_reads(tree):
    """Names read through ``os.environ[...]``, ``os.environ.get(...)`` or
    ``os.getenv(...)``; a non-literal name is reported as ``<dynamic>``."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            if isinstance(node.ctx, ast.Load):
                key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv":
                key = node.args[0] if node.args else None
        else:
            continue
        if key is None:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield key.value
        else:
            yield "<dynamic>"


def test_package_env_reads_are_pinned():
    root = pathlib.Path(python_sql_etl_project_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        for name in _env_reads(ast.parse(path.read_text(), str(path))):
            found.setdefault(name, str(path.relative_to(root)))
    assert set(found) == PINNED, found
