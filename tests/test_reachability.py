"""Every package definition is reached from an entry point.

Spark-free. An AST fixpoint over the package: the roots are the entry
points (the driver contract, the bench, the CLI, the product benchmark,
the oracle gate and the A/B tool) plus every module-level statement of
the package that is not a ``def``, a class, a named assignment or an
import (the ``*_QUERIES.update(...)`` calls that fill the registries).
A name is
used when it appears as a ``Name``, an ``Attribute`` or an
identifier-shaped string constant in a root or in the body of a reached
definition; a definition is reached when its name is used. Methods are
definitions of their own (dunder methods ride with their class).

Whatever stays unreached must be listed in ``ALLOWED`` with a reason.
Code that only its own tests call is not a reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "gcp_data_pipeline_fyp_spark"

ALLOWED = {
    "operators.zonemap._norm": (
        "Python reference that test_norm_expr_mirrors_python_norm "
        "checks _norm_expr against"
    ),
    "operators.evalmetrics.blend_scores_sequential": (
        "reference that test_blend_scores_fused_vs_sequential_differential "
        "checks blend_scores against"
    ),
    "operators.evalmetrics.midrank_normalize": (
        "per-scorer pass of blend_scores_sequential, the reference "
        "test_blend_scores_fused_vs_sequential_differential checks "
        "blend_scores against"
    ),
}


def _entry_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py", PKG / "__main__.py"]
    files += [p for p in sorted((REPO / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    files += sorted((REPO / "tools").glob("*.py"))
    return files


def _names(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and n.value.isidentifier()):
                out.add(n.value)
            elif isinstance(n, ast.alias) and n.asname:
                out.add(n.name)
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _assigned_names(stmt) -> list[str] | None:
    """Names bound by a plain named assignment, else None."""
    if isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    elif isinstance(stmt, ast.Assign):
        targets = stmt.targets
    else:
        return None
    names: list[str] = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return None
        names += [e.id for e in elts]
    return names


def _module_graph():
    """(definitions, root statements) of the package.

    A definition is ``(qualname, name, nodes)``: reaching ``name`` makes
    the names in ``nodes`` used. ``qualname`` is None for edges that are
    never reported (``from m import a as b`` binds ``b`` to ``a``).
    """
    defs: list[tuple[str | None, str, list]] = []
    roots: list = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "__main__.py":
            continue
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((f"{mod}.{stmt.name}", stmt.name, [stmt]))
            elif isinstance(stmt, ast.ClassDef):
                own = [*stmt.decorator_list, *stmt.bases, *stmt.keywords]
                for item in stmt.body:
                    if (isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
                            and not _is_dunder(item.name)):
                        defs.append((f"{mod}.{stmt.name}.{item.name}",
                                     item.name, [item]))
                    else:
                        own.append(item)
                defs.append((f"{mod}.{stmt.name}", stmt.name, own))
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    if a.asname and a.asname != a.name:
                        defs.append((None, a.asname, [ast.Name(a.name)]))
            elif (names := _assigned_names(stmt)) is not None:
                value = [stmt.value] if stmt.value is not None else []
                for name in names:
                    if not _is_dunder(name):
                        defs.append((f"{mod}.{name}", name, value))
            else:
                roots.append(stmt)
    return defs, roots


def unreached() -> set[str]:
    defs, roots = _module_graph()
    used = _names(roots)
    for path in _entry_files():
        used |= _names([ast.parse(path.read_text())])
    pending = list(defs)
    while True:
        hit = [d for d in pending if d[1] in used]
        if not hit:
            break
        pending = [d for d in pending if d[1] not in used]
        for _, _, nodes in hit:
            used |= _names(nodes)
    return {qual for qual, _, _ in pending if qual is not None}


def test_every_package_definition_is_reached_from_an_entry_point():
    dead = unreached()
    assert sorted(dead - set(ALLOWED)) == [], (
        "unreached from every entry point; delete them or list them in "
        "ALLOWED with a reason")
    assert sorted(set(ALLOWED) - dead) == [], (
        "ALLOWED entries that are now reached; drop them from ALLOWED")
