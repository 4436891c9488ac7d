"""Unused-code check: every top-level function or class in
``burla_spark/`` must be named somewhere besides its own definition.

A name that appears, as a whole word, exactly once across the repo's
``.py`` files is defined and never read — dead code. Pure text + ``ast``
scan, no Spark session."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "burla_spark"


def _py_files(root: Path):
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(REPO).parts
        if not any(part.startswith(".") or part == "__pycache__" for part in rel):
            yield path


def test_every_top_level_definition_is_used():
    words: Counter[str] = Counter()
    for path in _py_files(REPO):
        words.update(re.findall(r"\w+", path.read_text(encoding="utf-8")))
    unused = []
    for path in _py_files(PACKAGE):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and words[node.name] == 1:
                unused.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not unused, "defined but never referenced:\n" + "\n".join(unused)
