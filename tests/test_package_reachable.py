"""Every module under ``datapipelinedemo_spark/`` is reached from a runtime entry.

The roots are the driver contract (``__spark_entry__.py``, which loads the
query catalog), the benchmark (``perfbench/*.py``), the ``bench.py`` CLI and
the scripts in ``tools/``. Imports are read statically with ``ast``,
including the ones inside function bodies, and followed transitively. A
module that only tests import is dead code: delete it with its tests.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datapipelinedemo_spark"


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py file in the package."""
    out = {}
    for path in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out[".".join(rel)] = path
    return out


def _imported(path: str, modules: dict[str, str]) -> set[str]:
    """Package modules that ``path`` imports, plus their parent packages."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            # `from pkg import sub` imports the submodule `pkg.sub`
            names.update(f"{node.module}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                found.add(prefix)
    return found


def _reached(roots: list[str], modules: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = [m for root in roots for m in _imported(root, modules)]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imported(modules[mod], modules) - seen)
    return seen


def test_every_package_module_is_reached_from_a_runtime_entry():
    modules = _package_modules()
    roots = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for folder in ("perfbench", "tools"):
        roots += sorted(glob.glob(os.path.join(REPO, folder, "*.py")))
    unreached = sorted(set(modules) - _reached(roots, modules))
    assert not unreached, f"modules no runtime entry imports: {unreached}"
