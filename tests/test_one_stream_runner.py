"""Source guard (pure Python, no Spark): every stream in the package starts
through ``streaming/events.py::run_stream``, and no code builds a per-call
session whose conf and listeners outlive the query."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "stupidb_spark"
RUNNER = PKG / "streaming" / "events.py"
# Split so a plain-text search of the repo for the call finds only code.
NEW_SESSION = "new" + "Session("


def test_write_stream_only_inside_run_stream():
    for path in sorted(PKG.rglob("*.py")):
        if path != RUNNER:
            assert ".writeStream" not in path.read_text(), path
    src = RUNNER.read_text()
    starters = {
        node.name
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef)
        and ".writeStream" in ast.get_source_segment(src, node)
    }
    assert starters == {"run_stream"}


def test_no_per_call_sessions():
    offenders = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        if NEW_SESSION in path.read_text()
    ]
    assert offenders == []
