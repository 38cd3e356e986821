#!/usr/bin/env python
"""Report the package's defaulted parameters that no caller sets, and its
top-level defs and classes that no entry point reaches.

A defaulted parameter that no call site sets is a constant written as an
option: every caller gets the same value, yet a reader has to check each
call to know that.  The scan parses (never imports) every ``.py`` file in
the package, ``tests/``, ``kmbench/``, ``bench.py`` and
``__spark_entry__.py``, and resolves calls by the callee's last name
(``f(...)``, ``obj.f(...)``, ``partial(f, ...)``), so it is conservative
in one direction only: a parameter of any function that shares its name
with a caller counts as set if that caller sets it, and a call through
``*args`` or ``**kwargs`` sets every parameter it could reach.  A
keyword whose value is the default's own literal (``f(seed=42)`` for
``seed=42``) sets nothing: that caller gets the default too.

A top-level def or class is reachable when a walk over last names
(``f`` of ``f(...)``, ``g`` of ``a.g``) gets to it from an entry point:
every ``@query`` def, every package module's module-level statements
other than its defs and classes (its imports count for nothing, so an
``__init__.py`` re-export roots nothing), and all of ``bench.py``,
``__spark_entry__.py`` and ``kmbench/`` except its test.  A reached name
reaches every top-level def or class of that name, and a reached def or
class its whole body.  Names inside strings and docstrings count for
nothing, and so does any use from ``tests/``: a def only tests call is
library surface the engine does not run.

It cannot see a call made through a variable (``fn = funcs[i]; fn(x=1)``)
or a name built at run time (``getattr(m, "f")``), so grep a reported
name before deleting it.  ``tests/test_unset_params.py`` fails on any
entry outside its reasoned allow-lists.

Usage: python tests/unset_params.py [--counts]
``--counts`` prints only the totals.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "kmeans_with_mapreduce_cuda_spark"


def _py_files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _callee_name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


#: what ``_literal`` returns for an argument that is not a literal
NOT_LITERAL = object()


def _literal(node: ast.expr):
    """The ``repr`` of a literal argument or default (``"x"``, ``-1``,
    ``None``, ``[1, 2]``), else ``NOT_LITERAL``.  The ``repr`` keeps
    ``True``, ``1`` and ``1.0`` apart."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return NOT_LITERAL


class _Calls:
    """Per callee name: the keywords passed with the literal each was
    given (``NOT_LITERAL`` for any other value), the most positional
    arguments passed, and whether some call passed ``*args`` /
    ``**kwargs``."""

    def __init__(self):
        self.keywords: dict[str, dict[str, set]] = {}
        self.max_pos: dict[str, int] = {}
        self.star: set[str] = set()
        self.double_star: set[str] = set()

    def _record(self, name, args, keywords):
        passed = self.keywords.setdefault(name, {})
        n = 0
        for a in args:
            if isinstance(a, ast.Starred):
                self.star.add(name)
            else:
                n += 1
        self.max_pos[name] = max(self.max_pos.get(name, 0), n)
        for kw in keywords:
            if kw.arg is None:
                self.double_star.add(name)
            else:
                passed.setdefault(kw.arg, set()).add(_literal(kw.value))

    def sets_keyword(self, name: str, param: str, default: ast.expr) -> bool:
        """Whether some call of ``name`` passes ``param=`` a value other
        than ``default``'s own literal (any non-literal value counts)."""
        passed = self.keywords.get(name, {}).get(param, set())
        return bool(passed - {_literal(default)}) or NOT_LITERAL in passed

    def visit(self, tree: ast.AST) -> None:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _callee_name(node.func)
                if name is not None:
                    self._record(name, node.args, node.keywords)
                if name == "partial" and node.args:
                    inner = _callee_name(node.args[0])
                    if inner is not None:
                        self._record(inner, node.args[1:], node.keywords)


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """Yield ``(name, default, positional index or None, is_method)`` per
    defaulted parameter of ``fn``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    is_method = bool(positional) and positional[0].arg in ("self", "cls")
    first = len(positional) - len(a.defaults)
    for i, (p, d) in enumerate(zip(positional[first:], a.defaults), start=first):
        yield p.arg, d, i, is_method
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield p.arg, d, None, is_method


def _loaded_names(nodes) -> set[str]:
    """The last names that ``nodes`` load; an import loads none."""
    names = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, (ast.Name, ast.Attribute)) and isinstance(
                node.ctx, ast.Load
            ):
                names.add(_callee_name(node))
    return names


def _is_query(node: ast.stmt) -> bool:
    return any(
        _callee_name(d.func if isinstance(d, ast.Call) else d) == "query"
        for d in node.decorator_list
    )


DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _unreachable(
    package: dict[str, ast.Module], entries: list[ast.Module]
) -> list[str]:
    """``"path:line name"`` of each top-level def or class in ``package``
    (``{relative path: tree}``) that no entry point reaches."""
    defs: dict[str, list[ast.stmt]] = {}
    roots = list(entries)
    todo = set()
    for tree in package.values():
        for node in tree.body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append(node)
                if _is_query(node):
                    todo.add(node.name)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots.append(node)
    todo |= _loaded_names(roots)
    reached = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= _loaded_names(defs.get(name, ())) - reached
    return [
        f"{rel}:{node.lineno} {node.name}"
        for rel, tree in package.items()
        for node in tree.body
        if isinstance(node, DEFS) and node.name not in reached
    ]


def scan(root: Path):
    package = root / PACKAGE
    entries = [root / "bench.py", root / "__spark_entry__.py", root / "kmbench"]
    trees = {
        p: ast.parse(p.read_text(), str(p))
        for p in _py_files([package, root / "tests", *entries])
    }
    calls = _Calls()
    for tree in trees.values():
        calls.visit(tree)
    unreachable = _unreachable(
        {p.relative_to(package).as_posix(): trees[p] for p in _py_files([package])},
        [trees[p] for p in _py_files(entries) if p.name != "test_kmbench.py"],
    )

    total = 0
    unset = []
    for path in _py_files([package]):
        tree = trees[path]
        rel = path.relative_to(package).as_posix()
        # ``C(x=1)`` sets ``x`` of ``C.__init__``.
        init_owner = {}
        functions = []
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if isinstance(fn, ast.FunctionDef) and fn.name == "__init__":
                        init_owner[id(fn)] = node.name
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                functions.append(node)
        for node in functions:
            owner = init_owner.get(id(node), node.name)
            for pname, default, idx, is_method in _defaulted(node):
                total += 1
                if owner in calls.star or owner in calls.double_star:
                    continue
                if calls.sets_keyword(owner, pname, default):
                    continue
                if idx is not None:
                    # ``obj.m(x)`` passes x as positional 1 of ``m(self, x)``.
                    reach = calls.max_pos.get(owner, 0) + (1 if is_method else 0)
                    if idx < reach:
                        continue
                unset.append(f"{rel}:{node.lineno} {owner}({pname}=)")
    return total, unset, unreachable


def main() -> None:
    total, unset, unreachable = scan(ROOT)
    if "--counts" not in sys.argv[1:]:
        for title, sites in (
            ("defaulted parameters that no call site sets", unset),
            ("top-level defs and classes that no entry point reaches", unreachable),
        ):
            print(f"# {title}")
            print(*sites, sep="\n")
    print(
        f"defaulted parameters: {total}; unset: {len(unset)}; "
        f"unreachable top-level defs and classes: {len(unreachable)}"
    )


if __name__ == "__main__":
    main()
