"""Static checks that the package names nothing it does not define.

Every ``q_*`` body in ``contract.py`` has a caller, and every ``__all__``
name of every package module resolves.

A ``q_*`` function is reachable when it is a ``QUERIES`` value, when it is
``q_{name}`` for a name in ``bench.py``'s HEADLINE or SECONDARY list (bench
looks these up with ``getattr(contract, f"q_{name}")``) or called directly
from ``bench.py``, or when a reachable ``q_*`` body refers to it. That check
parses the sources with ``ast``. Neither check starts a Spark session.
"""

from __future__ import annotations

import ast
import importlib
import pkgutil
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _module_list(tree: ast.Module, name: str) -> list[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return [ast.literal_eval(e) for e in node.value.elts]
    raise AssertionError(f"bench.py has no top-level {name} list")


def _registry_values(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", None) == "QUERIES":
            return {v.id for v in node.value.values}
    raise AssertionError("contract.py has no top-level QUERIES dict")


def _names_in(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def unreachable_queries() -> list[str]:
    contract = ast.parse((ROOT / "datawarehouse_group10_spark" / "contract.py").read_text())
    bench = ast.parse((ROOT / "bench.py").read_text())
    bodies = {
        node.name: node
        for node in contract.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    }
    roots = _registry_values(contract)
    roots |= {f"q_{n}" for n in _module_list(bench, "HEADLINE") + _module_list(bench, "SECONDARY")}
    roots |= {
        n.attr for n in ast.walk(bench)
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
        and n.value.id == "contract" and n.attr.startswith("q_")
    }
    missing_roots = sorted(r for r in roots if r not in bodies)
    assert not missing_roots, f"registry or bench.py names undefined q_* bodies: {missing_roots}"

    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(n for n in _names_in(bodies[name]) if n in bodies and n not in seen)
    return sorted(set(bodies) - seen)


def test_every_contract_query_body_is_reachable():
    dead = unreachable_queries()
    assert not dead, f"q_* bodies with no registry entry, bench.py entry or caller: {dead}"


def test_every_exported_name_resolves():
    """Import every module of the package (no Spark session starts) and
    look up each name its ``__all__`` lists: a deleted function whose
    export stayed behind fails here."""
    import datawarehouse_group10_spark as pkg

    mods = [pkg] + [importlib.import_module(info.name) for info in
                    pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    stale = [f"{m.__name__}.{n}" for m in mods
             for n in getattr(m, "__all__", ()) if not hasattr(m, n)]
    assert not stale, f"__all__ names with no definition: {stale}"
