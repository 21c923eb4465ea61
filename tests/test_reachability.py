"""Reachability guard: no package-level operator survives whose only
caller is its own test.

A stdlib-``ast`` walk over the package. Its roots are the ``@register``
query builders, every package module's import-time code (module-level
statements, decorators, default arguments), ``bench.py``,
``__spark_entry__.py``, ``scripts/*.py`` and ``perfbench/*.py``. From
there it follows names: a top-level function or class is reached when a
reached body mentions its name, as a bare name or as an attribute.
Imports and ``__all__`` strings do not count, so a re-export alone keeps
nothing alive. Resolution is by name only, so the walk over-approximates
reach and never flags a live def.

A def that the walk does not reach is test-only (or dead) code: delete
it with its tests, or, if it is paper surface or the reference that a
parity test checks live code against, name it in ``ALLOWED`` with its
reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "sales_forecast_pyspark_spark"

ALLOWED = {
    "to_report_frame": "paper surface: the report hand-off (COVERAGE.md S3)",
    "write_parquet": "paper surface: the partitioned parquet sink (COVERAGE.md S6)",
    "mllib_metrics": "paper surface (COVERAGE.md M7); the regression_metrics parity reference",
    "dequantize_embeddings": "the inverse that checks the live quantize_embeddings",
    "token_count_pandas": "the parity reference for the live tokens_expr",
    "run_available_now": "the harness that drives the live streaming operators in tests",
}


def _names(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out


def _is_register(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(target, ast.Name) and target.id == "register") or (
        isinstance(target, ast.Attribute) and target.attr == "register"
    )


def _import_time_parts(node: ast.AST) -> list[ast.AST]:
    """The parts of a def that run when its module is imported."""
    parts: list[ast.AST] = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        parts += node.bases + node.keywords
    else:
        parts += node.args.defaults + [d for d in node.args.kw_defaults if d]
    return parts


def _walk_package():
    """Return ``(defs, root_names)``: every top-level def as
    ``name -> [(relpath, lineno, node)]`` and the names the roots use."""
    defs: dict[str, list[tuple[str, int, ast.AST]]] = {}
    roots: list[ast.AST] = []
    registered: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(REPO))
        tree = ast.parse(path.read_text(), filename=rel)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((rel, stmt.lineno, stmt))
                roots += _import_time_parts(stmt)
                if any(_is_register(d) for d in stmt.decorator_list):
                    registered.add(stmt.name)
            elif not (
                isinstance(stmt, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets)
            ):
                roots.append(stmt)
    entry_points = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    entry_points += sorted((REPO / "scripts").glob("*.py"))
    entry_points += sorted((REPO / "perfbench").glob("*.py"))
    for path in entry_points:
        roots.append(ast.parse(path.read_text(), filename=str(path)))
    return defs, _names(roots) | registered


def _unreached() -> list[tuple[str, int, str]]:
    defs, frontier = _walk_package()
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, _, node in defs.get(name, ()):
            frontier |= _names([node]) - seen
    return sorted(
        (rel, lineno, name)
        for name, sites in defs.items()
        if name not in seen
        for rel, lineno, _ in sites
    )


def test_every_package_def_is_reached_from_a_root():
    orphans = [o for o in _unreached() if o[2] not in ALLOWED]
    assert not orphans, (
        f"{len(orphans)} package-level defs are reached only by tests; delete "
        "them with their tests, or allowlist one with a reason:\n"
        + "\n".join(f"  {rel}:{lineno} {name}" for rel, lineno, name in orphans)
    )


def test_allowlist_names_only_unreached_defs():
    """An allowlisted name that some root now reaches, or that no longer
    exists, is stale."""
    unreached = {name for _, _, name in _unreached()}
    assert set(ALLOWED) <= unreached, sorted(set(ALLOWED) - unreached)
