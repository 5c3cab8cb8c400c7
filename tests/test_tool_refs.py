"""The scripts outside the package (tools/, perfbench/, jobs/, the
root-level entry points) reach into ``pseudopeople_spark`` by attribute,
but no test runs them. Statically check every reference they make:

  * each name imported from a ``pseudopeople_spark`` module, and each
    ``<module>.<attr>`` read or patch on an imported
    ``pseudopeople_spark`` module, must exist;
  * each keyword of a ``ResolveConfig(...)`` call must be an init field,
    and each attribute read on a name bound to a ``ResolveConfig(...)``
    call anywhere in the file must exist on the class.

The shell launchers (``tools/*.sh``) run those scripts by path; every
``*.py`` path they name must exist relative to the repo root.
"""

from __future__ import annotations

import ast
import dataclasses
import importlib
import re
from pathlib import Path

import pytest

from pseudopeople_spark.linkage.pipeline import ResolveConfig

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [
        *REPO.glob("tools/*.py"), *REPO.glob("perfbench/*.py"), *REPO.glob("jobs/*.py"),
        *REPO.glob("*.py"),
    ]
)
LAUNCHERS = sorted(REPO.glob("tools/*.sh"))
CONFIG_FIELDS = {f.name for f in dataclasses.fields(ResolveConfig) if f.init}


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


def _config_misuse(tree: ast.AST) -> "list[str]":
    """``ResolveConfig(...)`` keywords that are not init fields, and
    attribute reads the class lacks on names bound to such a call."""

    def is_config_call(node) -> bool:
        return isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Name) and node.func.id == "ResolveConfig")
            or (isinstance(node.func, ast.Attribute) and node.func.attr == "ResolveConfig")
        )

    bad, bound = [], set()
    for node in ast.walk(tree):
        if is_config_call(node):
            bad += [
                f"{node.lineno} ResolveConfig({kw.arg}=)"
                for kw in node.keywords
                if kw.arg is not None and kw.arg not in CONFIG_FIELDS
            ]
        if isinstance(node, ast.Assign) and is_config_call(node.value):
            bound |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
            and not hasattr(ResolveConfig, node.attr)
        ):
            bad.append(f"{node.lineno} {node.value.id}.{node.attr}")
    return bad


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_script_references_exist(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    bindings, refs = _references(tree)
    missing = [f"{path.name}:{m}" for m in _config_misuse(tree)]
    for owner, attr, line in refs:
        modules = [_module(m) for m in bindings.get(owner, {owner})]
        if not any(m is not None and hasattr(m, attr) for m in modules):
            missing.append(f"{path.name}:{line} {owner}.{attr}")
    assert not missing, missing


@pytest.mark.parametrize("path", LAUNCHERS, ids=lambda p: str(p.relative_to(REPO)))
def test_launcher_script_paths_exist(path):
    scripts = re.findall(r"[\w./-]+\.py\b", path.read_text())
    assert scripts, f"{path.name} runs no python script"
    missing = sorted({s for s in scripts if not (REPO / s).is_file()})
    assert not missing, missing
