"""Dead-export guard (no Spark): every public top-level function and
class in the package, outside the ``plans/`` catalog, must be named
somewhere besides its own ``def`` line and the ``__init__.py``
re-exports. A helper only its package re-exports has no caller, and
the next cut should delete it instead of carrying it.

The scan walks the AST of the package, ``tests/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py``: a use is a ``Name``, an
``Attribute`` or an import alias, so a mention in a docstring, comment
or string does not count. A use inside the function's own module
counts. Also pins that every query ``bench.py`` times is still
registered, so a catalog cut cannot silently break the bench."""

from __future__ import annotations

import ast
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "twitch_stream_data_pipeline_spark"


def _uses(tree: ast.Module, reexport: bool) -> list[str]:
    """Names a module uses. An ``__init__.py``'s top-level imports are
    its re-exports, not uses (``__all__`` holds strings, never uses)."""
    skip = (
        {id(n) for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))}
        if reexport
        else set()
    )
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.append(node.id)
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)) and id(node) not in skip:
            names.extend(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def test_every_public_def_is_referenced():
    files = [
        *PKG.rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    counts: Counter[str] = Counter()
    defs = []  # (path, line number, name)
    for path in files:
        tree = ast.parse(path.read_text())
        in_pkg = PKG in path.parents
        counts.update(_uses(tree, in_pkg and path.name == "__init__.py"))
        if in_pkg and "plans" not in path.relative_to(PKG).parts:
            defs.extend(
                (path, node.lineno, node.name)
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not node.name.startswith("_")
            )
    dead = [
        f"{path.relative_to(REPO)}:{lineno} {name}"
        for path, lineno, name in defs
        if counts[name] == 0
    ]
    assert defs
    assert not dead, "public defs nothing references:\n" + "\n".join(dead)


def test_bench_queries_are_registered():
    sys.path.insert(0, str(REPO))
    import bench

    from twitch_stream_data_pipeline_spark.plans import CATALOG

    missing = [name for name in bench.HEADLINE if name not in CATALOG]
    assert not missing, missing
