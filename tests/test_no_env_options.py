"""Tripwire: the engine has no hidden ``P2S_*`` environment-variable
options (A/B plan forks, debug dumps). Every behaviour is reachable from
the public API and its config objects, so a test run covers it."""

from __future__ import annotations

import ast
import pathlib

import parquet2_spark

PKG = pathlib.Path(parquet2_spark.__file__).parent


def test_no_module_reads_a_p2s_env_var():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("P2S_")
            ):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}: {node.value}")
    assert not hits, hits
