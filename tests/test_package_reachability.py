"""Every top-level package def is reachable from what the project runs,
or is listed in KEEP with the reason it stays.

Roots: the ``@register``ed queries, module-level code (an ``import`` in
an ``__init__`` is not a call, so a re-export reaches nothing),
``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``scripts/`` and
the ``[project.scripts]`` entry points. A reference reaches every
top-level def of that name, in any module (by name, so the walk
over-approximates: it may keep a def alive, never drop a live one).
``tests/`` is not a root: a def only its own tests call is dead code
with a test suite."""

from __future__ import annotations

import ast
import tomllib

from tests.source_refs import PKG, package_modules, refs

REPO = PKG.parent

KEEP = {
    "oracle.compare_spark_duck":
        "the DuckDB comparator the oracle-parity tests call",
    "operators.similarity.ann_recall":
        "recall metric the ANN recall-floor tests measure with",
    "operators.similarity.mean_recall":
        "recall metric the ANN recall-floor tests measure with",
    "operators.quality_model.holdout_auc":
        "AUC metric the quality-model tests assert on",
    "operators.quality_model.linear_parity_frame":
        "reference the quality-model test compares scoring against",
    "sources.txlog.txn_foreach_batch":
        "the txlog's exactly-once foreachBatch sink; tests pin its "
        "replay skip",
    "sources.txlog_stream.stream_table_feed":
        "txlog_feed stream read; tests/test_txlog_read_path.py pins its "
        "parity with changes()",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_registered(node) -> bool:
    return any(isinstance(d, ast.Call)
               and getattr(d.func, "id", getattr(d.func, "attr", None))
               == "register"
               for d in node.decorator_list)


def _root_files():
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    yield from sorted((REPO / "perfbench").glob("*.py"))
    yield from sorted((REPO / "scripts").glob("*.py"))


def unreached_defs() -> set[str]:
    """Dotted names (relative to the package) of top-level defs no root
    reaches."""
    defs: dict[str, list[str]] = {}       # name -> dotted defs
    calls: dict[str, set[str]] = {}       # top-level def name -> refs
    roots: set[str] = set()
    for where, tree in package_modules():
        mod = ".".join(where.with_suffix("").parts)
        for node in tree.body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append(f"{mod}.{node.name}")
                if _is_registered(node):
                    roots.add(node.name)
        for scope, name, _ in refs(tree):
            if scope:
                calls.setdefault(scope[0], set()).add(name)
            else:
                roots.add(name)
    for path in _root_files():
        roots.update(name for _, name, _ in refs(ast.parse(path.read_text())))
    scripts = tomllib.loads((REPO / "pyproject.toml").read_text())
    roots.update(target.rsplit(":", 1)[1]
                 for target in scripts["project"]["scripts"].values())

    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(calls.get(name, ()))
    return {d for name, dotted in defs.items() if name not in seen
            for d in dotted}


def test_every_package_def_is_reached_or_kept():
    unreached = unreached_defs()
    dead = sorted(unreached - set(KEEP))
    assert not dead, (
        f"{len(dead)} top-level defs nothing outside tests/ reaches: "
        f"{dead} — delete them (with the tests only they need), or list "
        "each in KEEP with the reason it stays")
    stale = sorted(set(KEEP) - unreached)
    assert not stale, f"KEEP entries that are reached or gone: {stale}"
    assert all(reason.strip() for reason in KEEP.values())
