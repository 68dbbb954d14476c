"""Source guard (pure Python, no Spark): every stream in the package starts
through ``streaming/events.py::run_stream``, no code builds a per-call
session whose conf and listeners outlive the query, and every session is
built by ``session.get_session``."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "stupidb_spark"
RUNNER = PKG / "streaming" / "events.py"
GATE_CHECK = ROOT / "scripts" / "gate_check.py"
# Split so a plain-text search of the repo for the call finds only code.
NEW_SESSION = "new" + "Session("
BUILDER = "SparkSession" + ".builder"


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


def _vanilla_branch_lines(path: Path) -> set[int]:
    """Lines of the ``if vanilla:`` bodies: gate_check's rehearsal of the
    driver's own un-configured session, which the engine does not build."""
    lines: set[int] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.If) and getattr(node.test, "id", None) == "vanilla":
            lines.update(range(node.body[0].lineno, node.body[-1].end_lineno + 1))
    return lines


def test_one_session_bootstrap():
    sources = [
        *sorted((ROOT / "scripts").glob("*.py")),
        ROOT / "bench.py",
        *sorted(PKG.rglob("*.py")),
    ]
    offenders = []
    for path in sources:
        if path == PKG / "session.py":
            continue
        allowed = _vanilla_branch_lines(path) if path == GATE_CHECK else set()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if BUILDER in line and lineno not in allowed:
                offenders.append(f"{path.relative_to(ROOT)}:{lineno}")
    assert offenders == []
    assert BUILDER in (PKG / "session.py").read_text()
