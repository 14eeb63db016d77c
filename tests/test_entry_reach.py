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
import re
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


def _chain_to_queries(start: Path) -> list[Path] | None:
    """The shortest import chain from ``start`` to a module under
    ``csv_loader_spark/queries/``, imports in function bodies included."""
    queries = PACKAGE / "queries"
    came_from: dict[Path, Path | None] = {start: None}
    todo = [start]
    while todo:
        path = todo.pop(0)
        if queries in path.parents:
            chain = []
            while path is not None:
                chain.append(path)
                path = came_from[path]
            return chain[::-1]
        for name in sorted(_imported_names(path)):
            found = _module_file(name, (REPO,))
            if found is not None and found not in came_from:
                came_from[found] = path
                todo.append(found)
    return None


def test_ops_modules_do_not_import_queries():
    # ops/ holds the product operators the query surface calls; an import
    # the other way, by any path, would make the queries' reference rules
    # the product's and load the whole query registry with them.
    offenders = [
        " → ".join(str(p.relative_to(PACKAGE)) for p in chain)
        for path in sorted((PACKAGE / "ops").rglob("*.py"))
        if (chain := _chain_to_queries(path))
    ]
    assert not offenders, offenders


def _top_level_names(path: Path) -> set[str]:
    """Names a module binds at its top level: defs, classes, assignments
    and imports."""
    names: set[str] = set()
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            )
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def test_tool_imports_name_existing_definitions():
    # No test runs the tools, so a moved or deleted package name would
    # only show when someone next runs one.
    broken = []
    for path in sorted((REPO / "tools").glob("*.py")) + [REPO / "bench.py"]:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[0] in ("csv_loader_spark", "tools")
            ):
                continue
            module = _module_file(node.module, (REPO,))
            if module is None:
                broken.append(f"{path.name}:{node.lineno}: no module {node.module}")
                continue
            defined = _top_level_names(module)
            broken.extend(
                f"{path.name}:{node.lineno}: {node.module} has no {alias.name}"
                for alias in node.names
                if alias.name not in defined
                and _module_file(f"{node.module}.{alias.name}", (REPO,)) is None
            )
    assert not broken, broken


#: ``path:line`` of citations of deleted tools that only a change to the
#: benchmark may edit. It may only shrink.
_STALE_TOOL_CITATIONS = {"perfbench/layers.py:59"}


def test_cited_tools_exist():
    # Pure text: a docstring or comment that names a deleted tool sends the
    # reader to a file that is not there.
    cited = re.compile(r"\btools/(\w+)\.py\b")
    missing = {
        f"{path.relative_to(REPO)}:{lineno}"
        for path in REPO.rglob("*.py")
        if ".git" not in path.parts
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for name in cited.findall(line)
        if not (REPO / "tools" / f"{name}.py").is_file()
    }
    assert missing == _STALE_TOOL_CITATIONS, sorted(
        missing ^ _STALE_TOOL_CITATIONS
    )
