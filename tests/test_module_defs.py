"""Every package module defines each top-level name once: a second
module-level ``def``/``class`` of the same name silently shadows the
first, leaving dead code that looks live."""

from __future__ import annotations

import ast
import collections
import pathlib

import crypto_data_ingestion_script_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent


def test_no_shadowed_module_level_definitions():
    shadowed = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        names = collections.Counter(
            node.name
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        )
        shadowed += [
            f"{path.relative_to(PKG_DIR)}: {n}" for n, c in names.items() if c > 1
        ]
    assert not shadowed, shadowed
