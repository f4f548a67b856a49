"""Source hygiene, Spark-free: every top-level function and class in
the package is referenced somewhere in the repo besides its own
definition — code nothing reaches is deleted, not kept. A decorator
counts as a reference (registry queries are reached through
``@query``); a mention in another file's code, test or string counts
too."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "big_data_bowl___2023_spark"


def _python_files():
    for path in sorted(REPO.rglob("*.py")):
        parts = path.relative_to(REPO).parts
        if not any(p.startswith(".") or p == "__pycache__"
                   for p in parts):
            yield path


def test_every_top_level_definition_is_referenced():
    words: Counter = Counter()
    defined = []
    for path in _python_files():
        src = path.read_text(encoding="utf-8")
        words.update(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", src))
        if PACKAGE in path.parents:
            defined += [(path.relative_to(REPO), node.name)
                        for node in ast.parse(src).body
                        if isinstance(node, (ast.FunctionDef,
                                             ast.AsyncFunctionDef,
                                             ast.ClassDef))
                        and not node.decorator_list]
    unreferenced = [f"{path}::{name}" for path, name in defined
                    if words[name] < 2]
    assert unreferenced == [], (
        "top-level definitions nothing references — delete them: "
        + ", ".join(unreferenced))
