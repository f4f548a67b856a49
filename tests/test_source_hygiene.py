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


def _attribute_calls(path):
    """(enclosing top-level def, attribute name, line) of every
    ``x.attr(...)`` call in a file; ``os.*`` calls are not Hadoop
    FileSystem calls and are skipped."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and not (isinstance(node.func.value, ast.Name)
                             and node.func.value.id == "os")):
                yield getattr(top, "name", None), node.func.attr, \
                    node.lineno


def test_filesystem_lookup_and_renames_only_in_io():
    """The Hadoop FileSystem lookup (`sources.io.fs_path`) and every
    directory rename (the crash-safe replace's heal and swap) live in
    sources/io.py, so no writer grows its own swap or heal again. The
    one exception is compact_index's versioned publish: one rename to
    ``v=N+1``, with no parked copy."""
    allowed = {("streaming/ann_index_stream.py",
                "_compact_index_unlocked", "rename")}
    offenders, io_sites = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, attr, line in _attribute_calls(path):
            if attr not in ("getFileSystem", "rename"):
                continue
            if rel == "sources/io.py":
                io_sites.append((fn, attr))
            elif (rel, fn, attr) not in allowed:
                offenders.append(f"{rel}:{line} .{attr}(")
    assert offenders == [], (
        "Hadoop FileSystem lookups/renames outside sources/io.py — "
        "use fs_path and the crash-safe directory replace: "
        + ", ".join(offenders))
    assert [fn for fn, attr in io_sites if attr == "getFileSystem"] \
        == ["fs_path"]
    assert {fn for fn, attr in io_sites if attr == "rename"} \
        == {"_heal_dir", "_swap_dir"}
