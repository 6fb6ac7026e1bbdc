"""Operators take their settings from arguments and the session, never
from the process environment: the only environment reads in the package
are the session factory's and the saved-index cache root's."""

from __future__ import annotations

import ast
import pathlib

import etl_s3_to_redshift_spark

_PKG = pathlib.Path(etl_s3_to_redshift_spark.__file__).parent
# (file relative to the package, enclosing function or None for the file)
_ALLOWED = {("session.py", None), ("queries.py", "index_cache_dir")}


def test_no_environment_reads_outside_session_and_cache_root():
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if (rel, None) in _ALLOWED:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed_lines = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and (rel, node.name) in _ALLOWED:
                allowed_lines.update(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                hit = node.attr in ("environ", "getenv")
            elif isinstance(node, ast.ImportFrom):
                hit = node.module == "os" and any(
                    a.name in ("environ", "getenv") for a in node.names
                )
            else:
                continue
            if hit and node.lineno not in allowed_lines:
                found.append(f"{rel}:{node.lineno}")
    assert not found, f"environment reads outside session.py: {found}"
