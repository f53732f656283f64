"""Every top-level library function must be reachable from something that
runs outside the test suite: a registered query, the driver entry module,
``bench.py``, the benchmark harness (``perfbench/``) or a tool script.

The pass is static and name-based: a reference to ``f`` (a name, an
attribute ``x.f``, or a string constant ``"f"`` for ``getattr``-style
dispatch) inside reachable code marks every top-level function or class
called ``f`` reachable. That over-approximates, so a function it reports
really has no caller. Import statements are not uses, so a re-export from
an ``__init__.py`` does not keep a function alive.
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
}


def _used_names(nodes) -> set[str]:
    """Names an AST subtree refers to; import statements are skipped."""
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
            if n.value.isidentifier():
                out.add(n.value)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _is_registered(fn: ast.FunctionDef) -> bool:
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "register" or getattr(f, "attr", None) == "register":
            return True
    return False


def unreachable() -> list[str]:
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    live: set[str] = set()
    for path in sorted(LIB.rglob("*.py")):
        mod = path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                defs.setdefault(node.name, []).append((mod, node))
            elif isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append((mod, node))
                # decorators and default arguments run at import time
                live |= _used_names(node.decorator_list + node.args.defaults)
                if _is_registered(node):
                    live.add(node.name)
            else:
                live |= _used_names([node])
    for path in ENTRY_POINTS + [p for d in ENTRY_DIRS for p in sorted(d.rglob("*.py"))]:
        live |= _used_names([ast.parse(path.read_text(), filename=str(path))])

    seen: set[str] = set()
    todo = [n for n in live if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _used_names(node.body) if n in defs and n not in seen)

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
