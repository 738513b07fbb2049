"""Every top-level definition in the package is reachable by name from a
caller: ``__spark_entry__.py``, ``bench.py``, the bench and perfbench
scripts, the tools or the tests. Pure ``ast`` scan, no Spark.

A definition counts as reached when a root file names it, or when a reached
package definition names it. Names are matched without their module (a
method ``.read`` reaches a function ``read``), so the check errs towards
keeping code. Dunder names are exempt. Module-level statements of the
package that define nothing (imports aside) count as roots, since they run
on import."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "log_parser_mind_spark"
CALLERS = ["__spark_entry__.py", "bench.py", "bench", "perfbench", "tools", "tests"]
_IDENT = re.compile(r"[A-Za-z_]\w*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign, ast.AnnAssign)


def _py_files(path):
    if path.endswith(".py"):
        yield path
        return
    for dp, _dirs, fns in os.walk(path):
        yield from (os.path.join(dp, f) for f in sorted(fns) if f.endswith(".py"))


def _names(node) -> set[str]:
    """Identifiers a subtree refers to: names, attributes, imported names,
    and string constants that are a bare identifier (getattr, setattr)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def unreachable() -> list[str]:
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for f in _py_files(os.path.join(ROOT, PACKAGE)):
        tree = ast.parse(open(f, encoding="utf-8").read(), f)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                body = _names(stmt)
                for name in _defined(stmt):
                    defs.setdefault(name, []).append((os.path.relpath(f, ROOT), body))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names(stmt)
    for c in CALLERS:
        for f in _py_files(os.path.join(ROOT, c)):
            roots |= _names(ast.parse(open(f, encoding="utf-8").read(), f))

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, body in defs[name]:
            todo.extend(n for n in body if n in defs and n not in reached)
    return sorted(
        f"{where}: {name}"
        for name, sites in defs.items()
        if name not in reached and not (name.startswith("__") and name.endswith("__"))
        for where, _ in sites
    )


def test_every_package_definition_is_reachable():
    assert unreachable() == []
