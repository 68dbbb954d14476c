"""Source guard (pure Python, no Spark): every stream in the package starts
through ``streaming/events.py::run_stream``, no code builds a per-call
session whose conf and listeners outlive the query, every session is
built by ``session.get_session``, no module memoizes relations across
calls, and MinHash band buckets, token n-grams and ANN top-k scoring are
each built in one place."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "stupidb_spark"
RUNNER = PKG / "streaming" / "events.py"
GATE_CHECK = ROOT / "scripts" / "gate_check.py"
# Split so a plain-text search of the repo for the call finds only code.
NEW_SESSION = "new" + "Session("
BUILDER = "SparkSession" + ".builder"
PERSISTS = (".per" + "sist(", ".ca" + "che()", "unper" + "sist")
MODULE_CACHE = re.compile(r"_\w*CA" + "CHE")
ANN_MODULES = [PKG / "operators" / f"{name}.py" for name in ("similarity", "ivf", "pq")]
CELL_USERS = [PKG / "operators" / f"{name}.py" for name in ("knn", "semantic", "pq")] + [
    PKG / "queryset" / "similarity.py"
]


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


def _module_level_names(path: Path) -> list[str]:
    names: list[str] = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return names


def test_no_memoized_relations():
    """A relation is a plan recomputed from its inputs: no module-level
    ``_*CACHE`` holds results across calls, and nothing pins blocks whose
    release would need an owner (lineage cuts go through
    ``operators/lineage.py::cut_lineage``)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT)
        offenders += [
            f"{rel}: {name}"
            for name in _module_level_names(path)
            if MODULE_CACHE.fullmatch(name)
        ]
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            offenders += [f"{rel}:{lineno}: {p}" for p in PERSISTS if p in line]
    assert offenders == []


def _calls(node: ast.AST, name: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and name in (getattr(n.func, "attr", None), getattr(n.func, "id", None))
    ]


def test_one_band_bucket_construction():
    """MinHash band buckets (an explode over per-band ``xxhash64``s) have
    one construction, ``operators/dedup.py::_band_buckets``, which the
    batch index, the LSH pairs and the streaming probe all reach."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        for node in _calls(ast.parse(path.read_text()), "explode"):
            if _calls(node, "xxhash64"):
                sites.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert len(sites) == 1, sites


def test_one_ngram_construction():
    """Token windows (shingles, LM n-grams, backoff trigrams, duplicated
    spans) have one construction, ``functions/text.py::word_ngrams``: the
    package's only ``arrays_zip`` call, and no operator rebuilds windows
    from a per-document ``lead``."""
    zips = [
        f"{path.relative_to(ROOT)}:{lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "arrays_zip(" in line
    ]
    assert len(zips) == 1, zips
    assert zips[0].startswith("stupidb_spark/functions/text.py:"), zips
    leads = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in sorted((PKG / "operators").rglob("*.py"))
        for node in _calls(ast.parse(path.read_text()), "lead")
    ]
    assert leads == []


def test_one_topk_scorer():
    """Brute force, LSH, IVF, PQ and IVF-PQ share one per-batch top-k loop,
    ``operators/similarity.py::_score_topk``: the only ``lexsort`` call in
    their modules. A rebalance fits its sub-centroids with the one cosine
    Lloyd, so no ``_local_lloyd`` is left."""
    sites = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in ANN_MODULES
        for node in _calls(ast.parse(path.read_text()), "lexsort")
    ]
    assert len(sites) == 1, sites
    assert sites[0].startswith("stupidb_spark/operators/similarity.py:"), sites
    assert not [p for p in PKG.rglob("*.py") if "_local_lloyd" in p.read_text()]


def test_one_cell_assignment():
    """The embedding family has one nearest-centroid kernel,
    ``operators/ivf.py::_nearest_cells``: the only function in ``ivf.py``
    that ranks centroids (``argmax``/``argsort``) or normalizes vectors.
    The kNN join, SemDeDup, IVF-PQ and the refine query rank no centroids
    themselves, and the retired per-operator copies are gone."""
    rankers = []
    for path in CELL_USERS:
        tree = ast.parse(path.read_text())
        for name in ("argmax", "argsort"):
            rankers += [f"{path.relative_to(ROOT)}:{n.lineno}" for n in _calls(tree, name)]
    assert rankers == []

    ivf = ast.parse((PKG / "operators" / "ivf.py").read_text())
    kernels = {
        fn.name
        for fn in ast.walk(ivf)
        if isinstance(fn, ast.FunctionDef)
        and any(_calls(fn, name) for name in ("argmax", "argsort", "_normalize"))
    }
    assert kernels == {"_nearest_cells"}, kernels

    retired = ("_quant_assign" + "_udf", "_probe" + "_cells")
    sources = [*PKG.rglob("*.py"), *(ROOT / "scripts").rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    offenders = [
        f"{path.relative_to(ROOT)}: {name}"
        for path in sorted(sources)
        for name in retired
        if name in path.read_text()
    ]
    assert offenders == []


def test_no_test_mirrors_in_package():
    """The driver-side mirrors the differential tests compare against live
    in ``tests/mirrors.py``: the package defines no ``*_reference`` and no
    ``rolling_hash_py``."""
    mirrors = [
        f"{path.relative_to(ROOT)}:{node.lineno}: {node.name}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
        and (node.name.endswith("_reference") or node.name == "rolling_hash_py")
    ]
    assert mirrors == []
