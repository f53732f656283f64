"""Every top-level library function must be reachable from something that
runs outside the test suite: a registered query, the driver entry module,
``bench.py``, the benchmark harness (``perfbench/``) or a tool script.

The pass is static and name-based: a reference to ``f`` (a name, an
attribute ``x.f``, or a string constant ``"f"`` for ``getattr``-style
dispatch) inside reachable code marks every top-level function or class
called ``f`` reachable. That over-approximates, so a function it reports
really has no caller. Import statements are not uses, so a re-export from
an ``__init__.py`` does not keep a function alive. A string constant that
names a registered query (``registry.queries()["topk_search"]``, a
``_PRIORITY`` entry) is a query reference, not a function reference, so it
does not keep an operator of the same name alive.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
LIB = ROOT / "vectordbfaiss_spark"
ENTRY_POINTS = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
ENTRY_DIRS = [ROOT / "perfbench", ROOT / "tools"]

# Reference implementations that tests compare the production path against.
ALLOWED = {
    "simhash_pairs_allpairs",  # all-pairs oracle for the blocked SimHash join
    "score_pairs",  # expression-cosine oracle for the vectorized top-k kernel
}


def _used_names(nodes, query_names: set[str]) -> set[str]:
    """Names an AST subtree refers to; import statements are skipped, and
    so are string constants naming a registered query."""
    out: set[str] = set()
    stack = list(nodes)
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier() and n.value not in query_names:
                out.add(n.value)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _registered_name(fn: ast.FunctionDef) -> str | None:
    """The query name a ``@register("name", ...)`` decorator gives ``fn``."""
    for d in fn.decorator_list:
        if isinstance(d, ast.Call) and "register" in (
            getattr(d.func, "id", None),
            getattr(d.func, "attr", None),
        ):
            return d.args[0].value
    return None


def unreachable() -> list[str]:
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    live: set[str] = set()
    trees = {
        path.relative_to(ROOT).with_suffix("").as_posix().replace("/", "."):
        ast.parse(path.read_text(), filename=str(path))
        for path in sorted(LIB.rglob("*.py"))
    }
    queries = {
        _registered_name(node)
        for tree in trees.values()
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    } - {None}
    for mod, tree in trees.items():
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                defs.setdefault(node.name, []).append((mod, node))
            elif isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append((mod, node))
                # decorators and default arguments run at import time
                live |= _used_names(node.decorator_list + node.args.defaults, queries)
                if _registered_name(node):
                    live.add(node.name)
            else:
                live |= _used_names([node], queries)
    for path in ENTRY_POINTS + [p for d in ENTRY_DIRS for p in sorted(d.rglob("*.py"))]:
        live |= _used_names([ast.parse(path.read_text(), filename=str(path))], queries)

    seen: set[str] = set()
    todo = [n for n in live if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs[name]:
            todo.extend(
                n for n in _used_names(node.body, queries) if n in defs and n not in seen
            )

    dead = [f"{name} (allowlisted, not defined)" for name in ALLOWED - defs.keys()]
    for name, sites in defs.items():
        if name in seen or name in ALLOWED:
            continue
        for mod, node in sites:
            if isinstance(node, ast.FunctionDef):
                lines = node.end_lineno - node.lineno + 1
                dead.append(f"{mod}.{name} ({lines} lines)")
    return sorted(dead)


def test_every_library_function_is_reachable_outside_tests():
    dead = unreachable()
    assert not dead, "top-level functions only tests reach:\n  " + "\n  ".join(dead)
