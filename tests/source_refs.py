"""Scope-aware name references in Python source, for the source checks
(tests/test_logstore_contract.py, tests/test_package_reachability.py).

A reference is an attribute (``x.name``) or a bare-name load. Each is
reported with its enclosing def/class scope, so a check can ask who
uses a name, not just whether it appears."""

from __future__ import annotations

import ast
import pathlib
from collections.abc import Iterator

import aws_payment_data_lake_spark

PKG = pathlib.Path(aws_payment_data_lake_spark.__file__).parent


def refs(tree: ast.AST, scope: tuple[str, ...] = ()
         ) -> Iterator[tuple[tuple[str, ...], str, int]]:
    """Yield (enclosing def/class scope, name, line) for every reference
    under ``tree``. A def's decorators and defaults count as inside it."""
    for child in ast.iter_child_nodes(tree):
        if isinstance(child, (ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef)):
            yield from refs(child, scope + (child.name,))
            continue
        if isinstance(child, ast.Attribute):
            yield scope, child.attr, child.lineno
        elif isinstance(child, ast.Name) and isinstance(child.ctx, ast.Load):
            yield scope, child.id, child.lineno
        yield from refs(child, scope)


def package_modules() -> Iterator[tuple[pathlib.Path, ast.Module]]:
    """(path relative to the package, parsed module) for every package
    source file."""
    for src in sorted(PKG.rglob("*.py")):
        yield src.relative_to(PKG), ast.parse(src.read_text())


def package_refs(names: set[str]) -> dict[str, list[tuple[str, str]]]:
    """Every use of ``names`` inside the package, as (enclosing
    def/class scope, file:line)."""
    found: dict[str, list[tuple[str, str]]] = {n: [] for n in names}
    for where, tree in package_modules():
        for scope, name, line in refs(tree):
            if name in found:
                found[name].append((".".join(scope), f"{where}:{line}"))
    return found
