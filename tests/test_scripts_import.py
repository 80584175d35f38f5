"""Every name a one-off script under ``scripts/`` imports from the engine
must exist, so deleting an engine API cannot silently break a script. The
check reads the sources' syntax trees only: no Spark, no engine import."""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lk_data_test_spark"
SCRIPTS = sorted(
    f for f in os.listdir(os.path.join(ROOT, "scripts")) if f.endswith(".py")
)


def _module_file(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def _top_level_names(path: str) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _engine_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) per engine import of a script; name None for a plain
    ``import module``."""
    out = []
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PACKAGE:
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.split(".")[0] == PACKAGE]
    return out


def test_scripts_exist():
    assert "profile_r06.py" in SCRIPTS and "probe_scaling_bottleneck.py" in SCRIPTS


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_engine_imports_resolve(script):
    missing = []
    for module, name in _engine_imports(os.path.join(ROOT, "scripts", script)):
        path = _module_file(module)
        if path is None:
            missing.append(module)
        elif name is not None and not (
            name in _top_level_names(path) or _module_file(f"{module}.{name}")
        ):
            missing.append(f"{module}.{name}")
    assert not missing, f"{script} imports names the engine lacks: {missing}"
