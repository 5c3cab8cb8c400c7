"""The scripts outside the package (tools/, perfbench/, the root-level
entry points) reach into ``pseudopeople_spark`` by attribute, but no
test runs them. Statically check every reference they make: each name
imported from a ``pseudopeople_spark`` module, and each ``<module>.<attr>``
read or patch on an imported ``pseudopeople_spark`` module, must exist.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*REPO.glob("tools/*.py"), *REPO.glob("perfbench/*.py"), *REPO.glob("*.py")]
)


def _module(name: str):
    try:
        return importlib.import_module(name)
    except ModuleNotFoundError:
        return None


def _references(tree: ast.AST):
    """(bindings, refs): alias -> modules it is bound to anywhere in the
    file, and the (owner, attr, line) references to check, where owner
    is a module name for from-imports or an alias for attribute reads."""
    bindings: "dict[str, set[str]]" = {}
    refs: "list[tuple[str, str, int]]" = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("pseudopeople_spark") and a.asname:
                    bindings.setdefault(a.asname, set()).add(a.name)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith("pseudopeople_spark"):
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                if _module(sub) is not None:
                    bindings.setdefault(a.asname or a.name, set()).add(sub)
                else:
                    refs.append((node.module, a.name, node.lineno))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            if node.value.id in bindings:
                refs.append((node.value.id, node.attr, node.lineno))
    return bindings, refs


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_script_references_exist(path):
    bindings, refs = _references(ast.parse(path.read_text(), filename=str(path)))
    missing = []
    for owner, attr, line in refs:
        modules = [_module(m) for m in bindings.get(owner, {owner})]
        if not any(m is not None and hasattr(m, attr) for m in modules):
            missing.append(f"{path.name}:{line} {owner}.{attr}")
    assert not missing, missing
