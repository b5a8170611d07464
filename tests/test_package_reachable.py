"""Every module and top-level function under ``datapipelinedemo_spark/``
is reached from a runtime entry.

The roots are the driver contract (``__spark_entry__.py``, which loads the
query catalog), the benchmark (``perfbench/*.py``), the ``bench.py`` CLI and
the scripts in ``tools/``. Everything is read statically with ``ast``.

- A module is reached when a root, or a reached module, imports it; imports
  inside function bodies count. A module that only tests import is dead code.
- A top-level function or class is reached when a root uses its name, or
  when a reached definition or any module's top-level code does. A use is a
  ``Name``, an attribute, or an identifier-shaped string (``getattr`` and
  ``setattr`` targets); an import or an ``__all__`` entry is not a use.
  Every ``@register`` catalog query is reached. This is a fixed point, so
  code that only dead code uses is dead too. Names match across modules, so
  two definitions that share a name live or die together.

Dead code is deleted with the tests that check only it. The one exception
is ``TEST_REFERENCES``: definitions that tests keep as the reference a live
operator is checked against. Each must still exist, and must still be
unreached (once a runtime entry uses it, it is no longer test-only and
leaves the list).
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datapipelinedemo_spark"
IDENTIFIER = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# "module.name" -> the test that needs it, and why.
TEST_REFERENCES = {
    f"{PACKAGE}.operators.similarity.hyperplane_signs": (
        "tests/test_hamming_ops.py checks with_hyperplane_signs "
        "(the hoisted form the catalog runs) against it"
    ),
    f"{PACKAGE}.plans.tokenizer_ops.apply_merge": (
        "tests/test_bpe.py steps merges one at a time with it "
        "to check apply_merges_batch"
    ),
    f"{PACKAGE}.plans.tokenizer_ops._sql_lit": (
        "apply_merge's SQL string quoting; nothing else uses it"
    ),
    f"{PACKAGE}.memo.clear_all_memos": (
        "tests/test_broadcast_gate.py clears every memo with it before "
        "and after its catalog sweep under a -1 broadcast threshold"
    ),
}


def _roots() -> list[str]:
    roots = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for folder in ("perfbench", "tools"):
        roots += sorted(glob.glob(os.path.join(REPO, folder, "*.py")))
    return roots


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


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
    names = set()
    for node in ast.walk(_parse(path)):
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


def _reached_modules(roots: list[str], modules: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = [m for root in roots for m in _imported(root, modules)]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imported(modules[mod], modules) - seen)
    return seen


def _uses(node: ast.AST) -> set[str]:
    """Names that ``node`` uses: identifiers, attributes and
    identifier-shaped strings (import aliases are none of these)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if IDENTIFIER.fullmatch(n.value):
                out.add(n.value)
    return out


def _is_all(stmt: ast.stmt) -> bool:
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AugAssign, ast.AnnAssign)):
        targets = [stmt.target]
    else:
        return False
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _is_registered(node: ast.stmt) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", None) == "register" or getattr(fn, "attr", None) == "register":
            return True
    return False


def _reached_definitions(
    roots: list[str], modules: dict[str, str]
) -> tuple[dict[str, ast.stmt], set[str]]:
    """("module.name" -> node for every top-level def/class, the reached keys)."""
    defs: dict[str, ast.stmt] = {}
    used: set[str] = set()
    for mod, path in modules.items():
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{stmt.name}"] = stmt
            elif not _is_all(stmt):
                used |= _uses(stmt)
    for root in roots:
        used |= _uses(_parse(root))
    reached = {key for key, node in defs.items() if _is_registered(node)}
    for key in reached:
        used |= _uses(defs[key])
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in reached and node.name in used:
                reached.add(key)
                used |= _uses(node)
                grew = True
    return defs, reached


def test_every_package_module_is_reached_from_a_runtime_entry():
    modules = _package_modules()
    unreached = sorted(set(modules) - _reached_modules(_roots(), modules))
    assert not unreached, f"modules no runtime entry imports: {unreached}"


def test_every_package_function_is_reached_from_a_runtime_entry():
    defs, reached = _reached_definitions(_roots(), _package_modules())
    unreached = sorted(set(defs) - reached - set(TEST_REFERENCES))
    assert not unreached, f"functions no runtime entry uses: {unreached}"
    missing = sorted(set(TEST_REFERENCES) - set(defs))
    assert not missing, f"TEST_REFERENCES names that no longer exist: {missing}"
    live = sorted(set(TEST_REFERENCES) & reached)
    assert not live, f"TEST_REFERENCES names a runtime entry now uses: {live}"
