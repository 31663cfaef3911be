"""Every package definition is reached from an entry point.

Entry points are the job and tool scripts (``scripts/*.py``), perfbench's
non-test modules, ``bench.py`` and ``__spark_entry__.py``, plus the
package's own module-level statements (they run on import). From those
roots the scan follows names through the bodies of the definitions they
reach until nothing new is reached. A name is a ``Name``, an
``Attribute``'s attribute or an import alias; string literals do not
count, and neither do the re-exports in a package ``__init__``. Methods of
a class with a base class (overrides that a framework calls, such as the
``HTMLParser`` handlers) are reached with their class; other methods must
be named. The scan goes by bare name, so a name shared by two definitions
reaches both: it can miss dead code, never report live code as dead.
Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ocr_parallel_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _entry_files() -> list[Path]:
    perfbench = [
        p
        for p in sorted((ROOT / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    return [
        *sorted((ROOT / "scripts").glob("*.py")),
        *perfbench,
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _names(*nodes: ast.AST) -> set[str]:
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _definitions(tree: ast.Module):
    """Yield ``(name, owner class or None, names its body uses)`` for each
    top-level def, class and assigned name, and each method (dunders
    aside) of a class without a base class. A class's own body names
    leave out those methods; an assignment's value is a root instead."""
    for stmt in tree.body:
        if isinstance(stmt, ast.ClassDef) and not stmt.bases:
            methods = [
                m
                for m in stmt.body
                if isinstance(m, DEFS[:2])
                and not (m.name.startswith("__") and m.name.endswith("__"))
            ]
            rest = [m for m in stmt.body if m not in methods]
            yield stmt.name, None, _names(*stmt.keywords, *stmt.decorator_list, *rest)
            for m in methods:
                yield m.name, stmt.name, _names(m)
        elif isinstance(stmt, DEFS):
            yield stmt.name, None, _names(stmt)
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for n in (n for t in targets for n in ast.walk(t)):
                if isinstance(n, ast.Name) and n.id != "__all__":
                    yield n.id, None, set()


def unreached() -> list[str]:
    used: set[str] = set()
    for path in _entry_files():
        used |= _names(ast.parse(path.read_text()))

    defs = []  # (module, name, owner class or None, names its body uses)
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        module = path.relative_to(ROOT).with_suffix("").as_posix()
        if path.name != "__init__.py":
            for stmt in tree.body:
                if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                    used |= _names(stmt.value) if stmt.value else set()
                elif not isinstance(stmt, DEFS):
                    used |= _names(stmt)
        defs += [(module, *d) for d in _definitions(tree)]

    reached: set[tuple[str, str | None, str]] = set()
    while True:
        new = [
            (module, owner, name, body)
            for module, name, owner, body in defs
            if (module, owner, name) not in reached
            and name in used
            and (owner is None or (module, None, owner) in reached)
        ]
        if not new:
            break
        for module, owner, name, body in new:
            reached.add((module, owner, name))
            used |= body
    return sorted(
        f"{module}.{owner + '.' if owner else ''}{name}"
        for module, name, owner, _ in defs
        if (module, owner, name) not in reached
    )


def test_every_package_definition_is_reached():
    dead = unreached()
    assert not dead, (
        "package definitions no job, query or benchmark reaches "
        "(delete them, or move them to tests/):\n  " + "\n  ".join(dead)
    )
