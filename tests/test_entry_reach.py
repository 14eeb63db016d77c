"""Every package module is reached from an entry point.

A module is kept because a user can run it. This test walks imports, by
AST and without Spark, from the four entry points: the CLI
(``python -m csv_loader_spark``), the driver contract (``__spark_entry__.py``),
the query bench (``bench.py``) and the ingest/query benchmark
(``perfbench/run.py``). Imports inside function bodies count, since the CLI
and perfbench import lazily. A module under ``csv_loader_spark/`` that no
walk reaches is code only tests run: delete it, or reach it from an entry
point.

It checks modules, not names: a name-level scan would flag
string-registered UDFs and the test seams over reached queries.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "csv_loader_spark"
ENTRY_POINTS = (
    PACKAGE / "__main__.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "perfbench" / "run.py",
)


def _module_file(name: str, roots: tuple[Path, ...]) -> Path | None:
    for root in roots:
        base = root.joinpath(*name.split("."))
        for candidate in (base / "__init__.py", base.with_suffix(".py")):
            if candidate.is_file():
                return candidate
    return None


def _imported_names(path: Path) -> set[str]:
    """Dotted names ``path`` may import, with every parent package."""
    package = path.parent.relative_to(REPO).parts
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = ".".join(package[: len(package) - node.level + 1])
                base = f"{parent}.{base}" if base else parent
            names.add(base)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``.
            names.update(f"{base}.{alias.name}" for alias in node.names)
    for name in list(names):
        parts = name.split(".")
        names.update(".".join(parts[:i]) for i in range(1, len(parts)))
    return names


def reached_files() -> set[Path]:
    seen: set[Path] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        # A script's own directory is on sys.path (perfbench's siblings).
        roots = (REPO, path.parent)
        for name in _imported_names(path):
            found = _module_file(name, roots)
            if found is not None and found not in seen:
                todo.append(found)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = reached_files()
    orphans = sorted(
        str(p.relative_to(REPO)) for p in PACKAGE.rglob("*.py") if p not in reached
    )
    assert not orphans, (
        f"{len(orphans)} package modules are reached by no entry point "
        f"(only tests import them): {orphans}"
    )


def test_walk_follows_lazy_imports():
    # cli.py imports the Kinesis sink and the streaming path inside main().
    reached = reached_files()
    assert PACKAGE / "sinks" / "kinesis.py" in reached
    assert PACKAGE / "streaming" / "pings.py" in reached


def test_ops_modules_do_not_import_queries():
    # ops/ holds the product operators the query surface calls; an import
    # the other way would make the queries' reference rules the product's.
    offenders = sorted(
        f"{path.relative_to(REPO)}: {name}"
        for path in (PACKAGE / "ops").rglob("*.py")
        for name in _imported_names(path)
        if name == "csv_loader_spark.queries"
        or name.startswith("csv_loader_spark.queries.")
    )
    assert not offenders, offenders
