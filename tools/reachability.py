"""Which package modules does production import?

Builds the static import graph of ``pdf_parser_spark`` and walks it from
two sets of roots:

* production: ``__spark_entry__.py``, ``query_registry.py``,
  ``bench.py``, ``bench_extra.py``, ``jobs/*.py``, ``perfbench/*.py``
  and ``python -m pdf_parser_spark.serve``;
* tests and tools: ``tests/*.py`` and ``tools/*.py``.

An edge is an ``import`` / ``from … import`` anywhere in a file
(function-local ones included, relative ones resolved), or a string
constant naming a package module the way the registry's dynamic
loaders do: ``"pdf_parser_spark.relational"`` or ``"ops.dedup:fn"``.
Importing a module also imports its parent packages.

Usage: python tools/reachability.py   (prints the modules that only
tests/tools reach, then those nothing reaches; exits 1 if either list
is not empty, so it can run as a pre-commit check)
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys
from typing import Dict, Iterable, Set

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pdf_parser_spark"

PRODUCTION_ROOTS = ("__spark_entry__.py", "query_registry.py", "bench.py",
                    "bench_extra.py", "jobs/*.py", "perfbench/*.py",
                    PACKAGE + "/serve.py")
TEST_TOOL_ROOTS = ("tests/*.py", "tools/*.py")

_LOADER_RE = re.compile(r"^([A-Za-z_][\w.]*):\w+$")


def package_modules(repo: str = REPO) -> Dict[str, str]:
    """Dotted module name → file path, for every module of the
    package (packages as their ``__init__``)."""
    out = {}
    for path in glob.glob(os.path.join(repo, PACKAGE, "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, repo)[:-3].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out[".".join(rel)] = path
    return out


def _with_parents(name: str) -> Iterable[str]:
    parts = name.split(".")
    return (".".join(parts[:i]) for i in range(1, len(parts) + 1))


def _imports(path: str, module: str, is_pkg: bool,
             modules: Dict[str, str]) -> Set[str]:
    """Package modules one file imports (see module docstring)."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    names: Set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = module.split(".")
                base = base[:len(base) - node.level + is_pkg]
                mod = ".".join(base + ([node.module] if node.module
                                       else []))
            else:
                mod = node.module or ""
            names.add(mod)
            names.update(mod + "." + a.name for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value,
                                                           str):
            m = _LOADER_RE.match(node.value)
            if node.value.startswith(PACKAGE + "."):
                names.add(node.value)
            elif m:
                names.add(PACKAGE + "." + m.group(1))
    return {p for n in names if n in modules for p in _with_parents(n)}


def reach(roots: Iterable[str], repo: str = REPO) -> Set[str]:
    """Package modules reachable from the root file globs."""
    modules = package_modules(repo)
    graph = {m: _imports(p, m, p.endswith("__init__.py"), modules)
             for m, p in modules.items()}
    path_of = {os.path.abspath(p): m for m, p in modules.items()}
    seen: Set[str] = set()
    todo = []
    for pattern in roots:
        for path in sorted(glob.glob(os.path.join(repo, pattern))):
            mod = path_of.get(os.path.abspath(path))
            if mod is not None:
                todo.extend(_with_parents(mod))
            else:
                todo.extend(_imports(path, "", False, modules))
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(graph[mod])
    return seen


def test_only_modules(repo: str = REPO) -> Set[str]:
    """Package modules that tests or tools import but production does
    not."""
    return reach(TEST_TOOL_ROOTS, repo) - reach(PRODUCTION_ROOTS, repo)


def main(repo: str = REPO) -> int:
    production = reach(PRODUCTION_ROOTS, repo)
    tested = reach(TEST_TOOL_ROOTS, repo)
    test_only = tested - production
    unreached = set(package_modules(repo)) - production - tested
    print("only tests/tools reach:", " ".join(sorted(test_only)) or "-")
    print("nothing reaches:", " ".join(sorted(unreached)) or "-")
    return 1 if test_only or unreached else 0


if __name__ == "__main__":
    sys.exit(main())
