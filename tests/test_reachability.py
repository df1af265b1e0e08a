"""Reachability guard: every public top-level function and class of the
package is reached from a declared path — the rest of its own module,
another package module, the driver entry point, the frozen bench, the
repo benchmark or a tool — or is named in ``ALLOWED`` with the reason it
stays."""

from __future__ import annotations

import ast
from pathlib import Path

import lsh_forest_for_multi_vector_retrieval_spark as pkg

PKG_ROOT = Path(pkg.__file__).parent
REPO_ROOT = PKG_ROOT.parent

# {package-relative path, or path::name: why it stays without a caller}
ALLOWED = {
    "functions/simhash.py::simhash_np": "test oracle: NumPy SimHash the UDF is checked against",
    "functions/shingles.py::shingle_strings_col": "test oracle: Column-expression twin of the NGram shingles",
    "functions/shingles.py::shingle_hashes_col": "test oracle: Column-expression twin of the hashed NGram shingles",
    "sources/pages.py::true_dup_pairs_oracle": "test oracle: exact all-pairs Jaccard truth for recall",
    "plans/pipeline.py::dedup_pipeline": "COVERAGE E2: the checkpointed, resumable flagship runner",
    "sinks/plots.py": "COVERAGE L7: the reference's plotting surface, driven by tools/plot_*.py",
    "operators/metrics.py::recall_at_k": "COVERAGE M1/M3: recall@k of a ranking",
    "operators/metrics.py::pair_precision": "COVERAGE M1: precision of a predicted pair set",
    "operators/chamfer.py::best_document": "test-only: the reference's argmax-document helper",
    "functions/extraction.py::extraction_parity_check": "test-only: HTML extraction parity count",
    "operators/substring.py::fingerprint_drop_stats": "test-only: the substring cap ledger",
}


def _names(nodes) -> set[str]:
    """Names read, attribute-accessed or imported under ``nodes`` (AST,
    so comments and docstrings do not count)."""
    names: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _body(path: Path) -> list[ast.stmt]:
    return ast.parse(path.read_text(), str(path)).body


def _unreached() -> set[str]:
    """``path::name`` of every public top-level def or class that nothing
    else in its module, no other package module, ``__spark_entry__.py``,
    ``bench.py``, ``perfbench/*.py`` or ``tools/*.py`` references. Tests
    do not count, and neither does a package ``__init__`` re-export."""
    modules = sorted(PKG_ROOT.rglob("*.py"))
    outside = [
        REPO_ROOT / "__spark_entry__.py",
        REPO_ROOT / "bench.py",
        *sorted((REPO_ROOT / "perfbench").glob("*.py")),
        *sorted((REPO_ROOT / "tools").glob("*.py")),
    ]
    refs = {
        p: _names(_body(p)) for p in [*modules, *outside] if p.name != "__init__.py"
    }
    unreached = set()
    for path in modules:
        body = _body(path)
        for node in body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            if node.name in _names(n for n in body if n is not node):
                continue
            if any(node.name in names for p, names in refs.items() if p != path):
                continue
            unreached.add(f"{path.relative_to(PKG_ROOT).as_posix()}::{node.name}")
    return unreached


def _allowed(key: str) -> bool:
    return key in ALLOWED or key.partition("::")[0] in ALLOWED


def test_every_public_definition_is_reached():
    bad = sorted(k for k in _unreached() if not _allowed(k))
    assert not bad, (
        "public definitions no declared path reaches (delete them, or add "
        f"them to ALLOWED with a reason): {bad}"
    )


def test_allowlist_has_no_stale_entries():
    """Each entry exempts something the guard would otherwise flag: a
    name that gains a caller, or is deleted, leaves the list."""
    unreached = _unreached()
    stale = [
        key
        for key in ALLOWED
        if not any(k == key or k.startswith(key + "::") for k in unreached)
    ]
    assert not stale, stale
