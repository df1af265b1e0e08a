"""Every ``DedupConfig`` field must be read somewhere in the engine: a
field no code reads is a knob that silently does nothing when set."""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

import lsh_forest_for_multi_vector_retrieval_spark as pkg
from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig


def _attribute_reads(root: Path) -> set[str]:
    names = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
    return names


def test_every_config_field_is_read():
    reads = _attribute_reads(Path(pkg.__file__).parent)
    unread = [f.name for f in dataclasses.fields(DedupConfig) if f.name not in reads]
    assert unread == []
