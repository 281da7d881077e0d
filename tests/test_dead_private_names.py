"""Guard against dead private names in the lakehouse engine modules.

Every module-level private name of the lakehouse engine and interop
modules (``_GUARDED``) -- a ``def``, a ``class`` or an import alias
starting with ``_`` -- must be referenced somewhere in the repo's code
(``spype_spark/``, ``tests/``, ``tools/``, ``perfbench/``). A reference
is a Python identifier use (a name, an attribute or an imported name)
or a string literal spelling the name (``monkeypatch.setattr(lake,
"_m_publish", ...)``); the definition itself does not count. Pure AST,
no Spark.
"""

import ast
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GUARDED = (
    "spype_spark/lakehouse.py",
    "spype_spark/catalog.py",
    "spype_spark/delta_interop.py",
    "spype_spark/iceberg_interop.py",
)
_SEARCHED = ("spype_spark", "tests", "tools", "perfbench")

#: Private names allowed to stand without a reference, each with a
#: one-line reason. Keep it empty unless a name must outlive its uses.
ALLOWED: dict[str, str] = {}


def _defined_private(tree: ast.Module) -> set[str]:
    out = set()
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            if node.name.startswith("_"):
                out.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound.startswith("_"):
                    out.add(bound)
    return out


def _referenced(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            # ``from spype_spark.lakehouse import _x`` uses ``_x``
            out.add(node.name.split(".")[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.add(node.value)
    return out


def _py_files():
    for top in _SEARCHED:
        for root, _dirs, files in os.walk(os.path.join(_REPO, top)):
            for fn in files:
                if fn.endswith(".py"):
                    yield os.path.join(root, fn)


def test_no_dead_private_names():
    defined: dict[str, set[str]] = {}
    for rel in _GUARDED:
        with open(os.path.join(_REPO, rel)) as f:
            defined[rel] = _defined_private(ast.parse(f.read()))
    used: set[str] = set()
    for fp in _py_files():
        with open(fp) as f:
            try:
                used |= _referenced(ast.parse(f.read()))
            except SyntaxError:
                continue
    dead = sorted(
        f"{rel}:{name}"
        for rel, names in defined.items()
        for name in names
        if name not in used and name not in ALLOWED
    )
    assert not dead, f"unreferenced private names: {dead}"


@pytest.mark.parametrize(
    "src, dead",
    [
        ("import hashlib as _h\ndef _f():\n    pass\n", {"_h", "_f"}),
        ("from m import x as _x\ndef _f():\n    return _x\n", {"_f"}),
    ],
)
def test_guard_sees_defs_and_aliases(src, dead):
    tree = ast.parse(src)
    assert _defined_private(tree) - _referenced(tree) == dead
