"""Source checks over the repository's Python files (AST only, no Spark):
every public package function and class is reached from outside the tests,
and no tool or test points at a fixed checkout instead of its own."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

# Reached only by tests today, kept on purpose; one reason each.
KEPT_UNREACHED = {
    "read_tokenized_sequences": "the point-in-time pipeline's Iceberg sequence input",
    "nocb": "backfill, the counterpart of the live LOCF window",
    "fit_quality_model": "the only producer of the model that score_quality consumes",
}


def _referenced_names(node: ast.AST) -> set[str]:
    """Identifiers a node refers to: names, attributes, import aliases and
    identifier-shaped string constants (column and registry keys)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _unreached() -> dict[str, str]:
    """Public top-level package definitions no non-test code reaches, as
    name -> defining module. A package definition's own body counts as
    live code only once something live reaches it, so a name used only by
    unreached code is unreached too."""
    defs: dict[tuple[str, str], set[str]] = {}  # (module, name) -> names its body uses
    live_refs: set[str] = set()  # names used by module-level and non-package code
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if rel.parts[0] == "tests" or any(p.startswith(".") for p in rel.parts):
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            if rel.parts[0] == "taxahfe_spark" and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[(rel.as_posix(), stmt.name)] = _referenced_names(stmt) - {stmt.name}
            else:
                live_refs |= _referenced_names(stmt)
    live: set[tuple[str, str]] = set()
    while True:
        used = live_refs.union(*(defs[k] for k in live))
        reached = {k for k in defs if k[1] in used}
        if reached == live:
            break
        live = reached
    return {
        name: module
        for module, name in defs
        if (module, name) not in live and not name.startswith("_")
    }


def test_every_public_package_name_is_reached_outside_tests():
    unreached = _unreached()
    assert set(KEPT_UNREACHED) <= set(unreached), (
        "kept names that are reached now (drop them from KEPT_UNREACHED): "
        f"{sorted(set(KEPT_UNREACHED) - set(unreached))}"
    )
    dead = {n: m for n, m in unreached.items() if n not in KEPT_UNREACHED}
    assert not dead, (
        "package names that only tests reach (delete them, or call the live "
        f"code they wrap from the test): {sorted(f'{m}::{n}' for n, m in dead.items())}"
    )


def _points_into_a_checkout(value: str) -> bool:
    """An absolute path into this checkout, or into another checkout of
    this repository: a directory holding our entry module, or a path whose
    tail after some directory is a path of ours."""
    if not value.startswith("/"):
        return False
    if value == str(ROOT) or value.startswith(f"{ROOT}/"):
        return True
    if (pathlib.Path(value) / "__spark_entry__.py").is_file():
        return True
    parts = pathlib.PurePosixPath(value).parts[1:]
    return any(ROOT.joinpath(*parts[i:]).exists() for i in range(1, len(parts)))


def test_tools_and_tests_derive_the_checkout_from_their_own_file():
    found = []
    for top in ("tools", "tests"):
        for path in (ROOT / top).rglob("*.py"):
            for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and _points_into_a_checkout(node.value)
                ):
                    found.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.value}")
    assert not found, found


def test_metrics_module_imports_no_spark():
    """dietML scores every model on the driver from collected predictions,
    so the metric module is numpy only: a Spark import here would be a
    second, Spark-side implementation of the same formulas."""
    path = ROOT / "taxahfe_spark" / "functions" / "metrics.py"
    imported = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            imported += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.append(node.module)
    spark = [m for m in imported if m.split(".")[0] == "pyspark"]
    assert not spark, spark


def test_no_per_call_size_parameters():
    """Size gates read named constants (through session.driver_side where
    TAXAHFE_DISTRIBUTED must reach them), never a per-call parameter: no
    package function declares ``small_*``, ``*_broadcast_max``,
    ``prefix_len``, ``checkpoint_every``, ``batch_max`` or ``workers``."""
    found = []
    for path in sorted((ROOT / "taxahfe_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            a = node.args
            for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]:
                name = arg.arg if arg else ""
                if (
                    name.startswith("small_")
                    or name.endswith("_broadcast_max")
                    or name in ("prefix_len", "checkpoint_every", "batch_max", "workers")
                ):
                    found.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not found, found
