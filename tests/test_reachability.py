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

A bare name that the enclosing function binds (a parameter or a local
``Store`` target) refers to that binding, not to a def, so it reaches
nothing.

A def that the walk does not reach is test-only (or dead) code: delete
it with its tests, or, if it is paper surface or the reference that a
parity test checks live code against, name it in ``ALLOWED`` with its
reason.

A script keeps no leftovers either: every top-level def in
``scripts/*.py`` and ``bench.py`` other than ``main`` must be mentioned
by some root outside its own body.

The same holds one level down, for options: a ``True``/``False``-default
parameter that no call site under the roots passes selects a branch
only tests reach. Fold it into the value every caller gets, or name it
in ``ALLOWED_SWITCHES`` with its reason.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "sales_forecast_pyspark_spark"

ALLOWED = {
    "to_report_frame": "paper surface: the report hand-off (COVERAGE.md S3)",
    "write_parquet": "paper surface: the partitioned parquet sink (COVERAGE.md S6)",
    "mllib_metrics": "paper surface (COVERAGE.md M7); the regression_metrics parity reference",
    "dequantize_embeddings": "the inverse that checks the live quantize_embeddings",
    "token_count_pandas": "the parity reference for the live tokens_expr",
}

ALLOWED_SWITCHES = {
    "interval_join.validate": "the off switch of the fan-out refusal",
    "triad_consistency_report.recheck": (
        "the single-pass verdict that the recheck test compares against"
    ),
}


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _bound(fn: ast.AST) -> set[str]:
    """Names a function binds itself: its parameters plus every
    ``Store`` target in its own body (nested scopes excluded)."""
    a = fn.args
    out = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    out |= {x.arg for x in (a.vararg, a.kwarg) if x}
    stack = [fn.body] if isinstance(fn, ast.Lambda) else list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            out.add(node.id)
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))
    return out


def _names(nodes) -> set[str]:
    """Bare names and attribute names the nodes mention, minus a bare
    name that the enclosing function binds (a parameter or a local
    called ``top_k`` does not reach the def ``top_k``)."""
    out: set[str] = set()

    def visit(node: ast.AST, local: frozenset[str]) -> None:
        if isinstance(node, _SCOPES):
            # decorators, defaults and annotations run in the outer scope
            outer = [*getattr(node, "decorator_list", ()), node.args]
            outer += [r for r in [getattr(node, "returns", None)] if r]
            for part in outer:
                visit(part, local)
            inner = local | _bound(node)
            body = [node.body] if isinstance(node, ast.Lambda) else node.body
            for part in body:
                visit(part, inner)
            return
        if isinstance(node, ast.Name) and node.id not in local:
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        for child in ast.iter_child_nodes(node):
            visit(child, local)

    for node in nodes:
        visit(node, frozenset())
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


@functools.cache
def _parse() -> tuple[tuple[tuple[str, ast.Module], ...], tuple[ast.Module, ...]]:
    """``(package, entry_points)``: every package module as
    ``(relpath, tree)``, and the trees of the non-package roots."""
    package = tuple(
        (rel, ast.parse(path.read_text(), filename=rel))
        for path in sorted(PACKAGE.rglob("*.py"))
        for rel in [str(path.relative_to(REPO))]
    )
    entry = tuple(ast.parse(p.read_text(), filename=str(p)) for p in _entry_paths())
    return package, entry


def _entry_paths() -> list[Path]:
    paths = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    paths += sorted((REPO / "scripts").glob("*.py"))
    paths += sorted((REPO / "perfbench").glob("*.py"))
    return paths


def _walk_package():
    """Return ``(defs, root_names)``: every top-level def as
    ``name -> [(relpath, lineno, node)]`` and the names the roots use."""
    defs: dict[str, list[tuple[str, int, ast.AST]]] = {}
    roots: list[ast.AST] = []
    registered: set[str] = set()
    package, entry = _parse()
    for rel, tree in package:
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
    return defs, _names(roots + list(entry)) | registered


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


def test_every_script_def_is_called_from_a_root():
    """A script helper whose callers were deleted (say, a rehearsal leg's
    drain loop) is dead code that the package walk cannot see: every
    top-level def of ``scripts/*.py`` and ``bench.py`` but ``main`` must
    be mentioned by a root statement other than its own definition."""
    _, entry = _parse()
    stmts = [stmt for tree in entry for stmt in tree.body]
    mentions = [_names([stmt]) for stmt in stmts]
    scripts = {REPO / "bench.py", *(REPO / "scripts").glob("*.py")}
    uncalled = [
        f"{path.relative_to(REPO)}:{stmt.lineno} {stmt.name}"
        for path, tree in zip(_entry_paths(), entry)
        if path in scripts
        for stmt in tree.body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and stmt.name != "main"
        and not any(
            stmt.name in names
            for other, names in zip(stmts, mentions)
            if other is not stmt
        )
    ]
    assert not uncalled, (
        f"{len(uncalled)} script defs are called by no root; delete them:\n"
        + "\n".join(f"  {u}" for u in uncalled)
    )


def _unset_switches() -> list[tuple[str, int, str]]:
    """Every ``True``/``False``-default parameter of a package function
    that no call site under the roots passes, as ``func.param``.

    A call matches a def by name (a bare ``f(...)`` or an attribute
    ``x.f(...)``), as in the def walk. It passes a parameter by keyword,
    by position, or through any ``*``/``**`` splat."""
    package, entry = _parse()
    calls: dict[str, list[ast.Call]] = {}
    for tree in [t for _, t in package] + list(entry):
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    unset = []
    for rel, tree in package:
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            defaults = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            defaults += [(x, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for arg, default in defaults:
                if not (isinstance(default, ast.Constant) and isinstance(default.value, bool)):
                    continue
                pos = positional.index(arg) if arg in positional else None
                if not any(
                    any(k.arg in (None, arg.arg) for k in call.keywords)
                    or any(isinstance(x, ast.Starred) for x in call.args)
                    or (pos is not None and len(call.args) > pos)
                    for call in calls.get(fn.name, ())
                ):
                    unset.append((rel, fn.lineno, f"{fn.name}.{arg.arg}"))
    return sorted(unset)


def test_every_switch_is_set_by_a_root():
    """A boolean option that no root ever passes only selects a branch
    that tests reach: fold it into the default every caller gets, or
    allowlist it with a reason."""
    unset = [u for u in _unset_switches() if u[2] not in ALLOWED_SWITCHES]
    assert not unset, (
        f"{len(unset)} boolean switches are set only by tests:\n"
        + "\n".join(f"  {rel}:{lineno} {name}" for rel, lineno, name in unset)
    )


def test_switch_allowlist_names_only_unset_switches():
    unset = {name for _, _, name in _unset_switches()}
    assert set(ALLOWED_SWITCHES) <= unset, sorted(set(ALLOWED_SWITCHES) - unset)
