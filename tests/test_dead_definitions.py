"""Every top-level definition in the package is read somewhere. A function,
class or constant that no module, tool, test or benchmark script names
outside its own definition is dead code: delete it rather than keep it."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "uk_procurement_data_pipeline_spark"

# "module/path.py::name" -> why it stays although nothing names it
_ALLOWED: dict[str, str] = {}


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def _definitions(path: Path):
    """(name, node) for each top-level def, class and assigned name."""
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def _registered(node) -> bool:
    """A @register(...) query: the registry is what reads it."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", [])
    )


def test_every_top_level_definition_is_referenced():
    corpus = [
        *PKG.rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        *(p for p in (REPO / "tests").rglob("*.py") if p != Path(__file__).resolve()),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    total = sum((_words(p.read_text()) for p in corpus), Counter())
    dead = set()
    for path in PKG.rglob("*.py"):
        lines = path.read_text().splitlines(keepends=True)
        for name, node in _definitions(path):
            if (name.startswith("__") and name.endswith("__")) or _registered(node):
                continue
            start = min([node.lineno, *(d.lineno for d in getattr(node, "decorator_list", []))])
            if total[name] <= _words("".join(lines[start - 1 : node.end_lineno]))[name]:
                dead.add(f"{path.relative_to(PKG)}::{name}")
    assert dead == set(_ALLOWED)
