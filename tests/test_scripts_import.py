"""Every kept script under scripts/ must still import against the
package, so a script naming a removed function fails here instead of at
its next large-scale run. Module-level imports are checked by loading
the script (``main`` never runs: the module is not ``__main__``);
function-level ``from <package> import name`` lines, which run only
inside ``main``, are resolved from the script's AST."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    f for f in os.listdir(os.path.join(REPO, "scripts")) if f.endswith(".py")
)
PACKAGE = "spotify_serverless_etl_pipeline_engineering_with_azure_spark"


def _resolves(module, name: str) -> bool:
    if hasattr(module, name):
        return True
    try:  # a submodule not yet imported by its package
        importlib.import_module(f"{module.__name__}.{name}")
        return True
    except ModuleNotFoundError:
        return False


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports(script):
    path = os.path.join(REPO, "scripts", script)
    spec = importlib.util.spec_from_file_location(f"_script_{script[:-3]}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))

    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            module = importlib.import_module(node.module)
            missing = [a.name for a in node.names if not _resolves(module, a.name)]
            assert not missing, f"{script}:{node.lineno} imports missing {missing}"
