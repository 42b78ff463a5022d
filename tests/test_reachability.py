"""Static checks that the package names nothing it does not define and
defines nothing that nothing runs.

Every ``q_*`` body in ``contract.py`` has a caller, every top-level package
def is reachable from the system's entry points, every ``__all__`` name of
every package module resolves, every test the package sources or
PARITY.md cite exists, and every def a package docstring cites with
``:func:``, ``:class:`` or ``:meth:`` exists.

A ``q_*`` function is reachable when it is a ``QUERIES`` value, when it is
``q_{name}`` for a name in ``bench.py``'s HEADLINE or SECONDARY list (bench
looks these up with ``getattr(contract, f"q_{name}")``) or called directly
from ``bench.py``, or when a reachable ``q_*`` body refers to it. That check
parses the sources with ``ast``. No check starts a Spark session.
"""

from __future__ import annotations

import ast
import importlib
import pkgutil
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "datawarehouse_group10_spark"

#: The scripts that are roots of the reachability walk: the oracle and smoke
#: gates and the plan audit README documents. A script outside this tuple
#: fails ``test_every_package_def_is_reachable`` instead of silently keeping
#: package code alive.
SCRIPTS = ("check_oracle.py", "smoke_analysis.py", "plan_audit.py")

#: Top-level package defs that no entry point reaches but that stay, each
#: with the reason. Anything else unreached is dead code.
KEEP = {
    "MemoryMetaStore": "the in-memory MetaStore fake of the meta_store test fixture",
    "file_prune_fraction": "measures file pruning for several layout pins",
    "run_stream_to_table": "runs a stream to a table for the streaming pins",
    "full_dim_number": "the full dim_number rebuild an incremental daily run needs",
    "observe_rows": "counts rejected rows on a pass that already runs",
    "jdbc_read_options": "JDBC source (reference operators S4/S5, DEPLOY's MySQL recipe)",
    "read_jdbc_table": "JDBC source (reference operators S4/S5, DEPLOY's MySQL recipe)",
    "write_jdbc_table": "JDBC sink (reference operators S4/S5, DEPLOY's MySQL recipe)",
    "read_config_database": "reference config_database parity (test_config_tables_roundtrip)",
    "database_config": "reference config_database parity (test_config_tables_roundtrip)",
    "write_config_tables": "reference config_database parity (test_config_tables_roundtrip)",
    "range_join": "the reference interval_point_counts is pinned equal to",
    "bloom_bits": "the reference the sized bloom filter is pinned bit-identical to",
    "kmeans_centroids": "builds the centroids the IVF recall pins measure",
    "_adpcm_encode_samples": "the reference IMA-ADPCM codec",
    "_adpcm_decode_nibbles": "the reference IMA-ADPCM codec",
    "_adpcm_wav_container": "the reference IMA-ADPCM codec",
}


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


def _refs(node: ast.AST) -> set[str]:
    """Every bare name ``node`` mentions: ``Name`` ids, ``Attribute``
    attrs, and string constants that are identifiers (``getattr`` and
    registry lookups by name)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def unreachable_defs() -> list[str]:
    """Top-level package defs (functions and classes, by bare name) that
    no root reaches. The roots: every module-level statement of a package
    module except imports and ``__all__``, every ``q_*`` body,
    ``__main__.py``, ``run_warehouse_job`` and ``MartServer``, and all of
    ``bench.py``, ``__spark_entry__.py``, ``perfbench/*.py`` and the
    ``SCRIPTS``."""
    defs: dict[str, list[ast.AST]] = {}
    roots = {"run_warehouse_job", "MartServer"}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        if path.name == "__main__.py":
            roots |= _refs(tree)
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                if path.name == "contract.py" and node.name.startswith("q_"):
                    roots.add(node.name)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
            ):
                roots |= _refs(node)
    for path in [ROOT / "bench.py", ROOT / "__spark_entry__.py",
                 *(ROOT / "perfbench").glob("*.py"), *(ROOT / "scripts" / s for s in SCRIPTS)]:
        roots |= _refs(ast.parse(path.read_text()))

    seen: set[str] = set()
    todo = [r for r in roots if r in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs[name]:
            todo.extend(r for r in _refs(node) if r in defs and r not in seen)
    return sorted(set(defs) - seen)


def test_every_package_def_is_reachable():
    extra = sorted({p.name for p in (ROOT / "scripts").glob("*.py")} - set(SCRIPTS))
    assert not extra, f"scripts outside the reachability roots (delete them, or add them to SCRIPTS): {extra}"
    dead = unreachable_defs()
    unkept = [d for d in dead if d not in KEEP]
    assert not unkept, f"package defs no entry point reaches (delete them, or KEEP with a reason): {unkept}"
    stale = sorted(set(KEEP) - set(dead))
    assert not stale, f"KEEP entries that are reachable or no longer defined: {stale}"


def test_cited_tests_exist():
    """A ``test_*`` name cited in a package source or PARITY.md is a
    ``def test_`` in ``tests/`` or a ``tests/<name>.py`` module."""
    known: set[str] = set()
    for path in (ROOT / "tests").glob("*.py"):
        known.add(path.stem)
        known |= set(re.findall(r"^\s*def (test_\w+)", path.read_text(), re.M))
    citing = [*PKG.rglob("*.py"), ROOT / "PARITY.md"]
    missing = sorted(
        f"{path.relative_to(ROOT)}: {name}"
        for path in citing
        for name in set(re.findall(r"\btest_\w+", path.read_text())) - known
    )
    assert not missing, f"citations of tests that do not exist: {missing}"


def test_cited_functions_exist():
    """Every ``:func:``, ``:class:`` and ``:meth:`` target in a package
    source names a package def, top-level or nested (a dotted target is
    checked by its last component)."""
    known: set[str] = set()
    cites: list[tuple[Path, str]] = []
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        known |= {n.name for n in ast.walk(ast.parse(text))
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        cites += [(path, t) for t in re.findall(r":(?:func|class|meth):`~?([\w.]+)", text)]
    missing = sorted({f"{path.relative_to(ROOT)}: {t}" for path, t in cites
                      if t.rsplit(".", 1)[-1] not in known})
    assert not missing, f"citations of package defs that do not exist: {missing}"
