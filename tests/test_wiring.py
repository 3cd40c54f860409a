"""Every package module is wired in: a static import walk from ``cli`` and
``catalog`` (the roots of ``cli run``, ``bench.py`` and ``__spark_entry__``)
reaches each ``.py`` file. A module only tests import is dead code — delete
it or wire it in. Pure AST, no Spark."""

import ast
from pathlib import Path

PKG = "substreams_sink_parquet_spark"
ROOTS = (f"{PKG}.cli", f"{PKG}.catalog")


def _package_modules(pkg_dir: Path) -> dict[str, Path]:
    mods = {}
    for path in pkg_dir.rglob("*.py"):
        parts = list(path.relative_to(pkg_dir.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _with_ancestors(name: str) -> list[str]:
    """Importing ``a.b.c`` runs ``a`` and ``a.b`` first."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules a module's ``import`` statements (at any depth,
    function-level ones included) resolve to."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = name.split(".")
                # a package's own ``.`` is itself; a module's is its parent
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            found.update(m for m in _with_ancestors(t) if m in mods)
    return found


def unreached_modules(pkg_dir: Path, roots=ROOTS) -> list[str]:
    mods = _package_modules(pkg_dir)
    seen: set[str] = set()
    todo = [m for r in roots for m in _with_ancestors(r)]
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo.extend(_imports(m, mods[m], mods) - seen)
    return sorted(set(mods) - seen)


def test_every_package_module_is_reached_from_cli_or_catalog():
    pkg_dir = Path(__file__).resolve().parent.parent / PKG
    unreached = unreached_modules(pkg_dir)
    assert not unreached, (
        f"modules no import from {' or '.join(ROOTS)} reaches: "
        f"{', '.join(unreached)}")


def test_walk_resolves_relative_and_submodule_imports(tmp_path):
    pkg = tmp_path / PKG
    (pkg / "sub").mkdir(parents=True)
    files = {
        "__init__.py": "",
        "cli.py": "from .sub import leaf\n",
        "catalog.py": "def f():\n    from . import lazy\n",
        "lazy.py": "",
        "orphan.py": "import os\n",
        "sub/__init__.py": "from ..shared import x\n",
        "sub/leaf.py": "from . import sibling\n",
        "sub/sibling.py": f"import {PKG}.deep.mod\n",
        "shared.py": "x = 1\n",
        "deep/__init__.py": "",
        "deep/mod.py": "",
    }
    for rel, src in files.items():
        (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
        (pkg / rel).write_text(src)
    assert unreached_modules(pkg) == [f"{PKG}.orphan"]
