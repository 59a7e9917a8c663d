"""Spark-free guard against dead helpers: every top-level function of
the package, and of the test-only references under tests/parity/ and
tests/oracles/, must be referenced somewhere in the repository's Python
files other than at its own definition."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# directories whose top-level functions must each have a user
CHECKED = (
    ROOT / "indu_doc_transformer_spark",
    ROOT / "tests" / "parity",
    ROOT / "tests" / "oracles",
)
_DOTTED = re.compile(r"[A-Za-z_][\w.]*")


def _py_files():
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if not any(p.startswith(".") or p == "__pycache__" for p in parts):
            yield path


def _names(node: ast.AST) -> set[str]:
    """Every identifier a subtree refers to: bare names, attribute
    names, imported names, and identifier strings (``getattr`` targets,
    dotted operator names)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _DOTTED.fullmatch(n.value):
                out.add(n.value.rsplit(".", 1)[-1])
    return out


def test_every_package_function_is_referenced():
    defined = []  # (path, name) of the checked top-level defs
    users = {}  # name -> {(path, top-level def it appears in, or None)}
    for path in _py_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        for top in tree.body:
            is_def = isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            owner = top.name if is_def else None
            if is_def and any(d in path.parents for d in CHECKED):
                defined.append((path, top.name))
            for name in _names(top):
                users.setdefault(name, set()).add((path, owner))
    dead = sorted(
        f"{path.relative_to(ROOT)}::{name}"
        for path, name in defined
        if not users.get(name, set()) - {(path, name)}
    )
    assert not dead, f"top-level functions with no reference: {dead}"
