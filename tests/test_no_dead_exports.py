"""Dead-export guard (no Spark): every public top-level function and
class in the package, outside the ``plans/`` catalog, must be named
somewhere besides its own ``def`` line and the ``__init__.py``
re-exports. A helper only its package re-exports has no caller, and
the next cut should delete it instead of carrying it.

The scan is textual (identifier tokens), over the package, ``tests/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``; a use inside
the function's own module counts. Also pins that every query
``bench.py`` times is still registered, so a catalog cut cannot
silently break the bench."""

from __future__ import annotations

import ast
import re
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "twitch_stream_data_pipeline_spark"
WORD = re.compile(r"\w+")


def _reexport_lines(tree: ast.Module) -> set[int]:
    """Lines of an ``__init__.py``'s imports and ``__all__`` list."""
    lines = set()
    for node in tree.body:
        is_all = isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        )
        if isinstance(node, (ast.Import, ast.ImportFrom)) or is_all:
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def test_every_public_def_is_referenced():
    files = [
        *PKG.rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    counts: Counter[str] = Counter()
    defs = []  # (path, line number, line text, name)
    for path in files:
        text = path.read_text()
        tree = ast.parse(text)
        lines = text.splitlines()
        in_pkg = PKG in path.parents
        reexport = in_pkg and path.name == "__init__.py"
        skip = _reexport_lines(tree) if reexport else set()
        for i, line in enumerate(lines, 1):
            if i not in skip:
                counts.update(WORD.findall(line))
        if in_pkg and "plans" not in path.relative_to(PKG).parts:
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("_"):
                    def_line = lines[node.lineno - 1]
                    defs.append((path, node.lineno, def_line, node.name))
    dead = [
        f"{path.relative_to(REPO)}:{lineno} {name}"
        for path, lineno, def_line, name in defs
        if counts[name] - WORD.findall(def_line).count(name) == 0
    ]
    assert defs
    assert not dead, "public defs nothing references:\n" + "\n".join(dead)


def test_bench_queries_are_registered():
    sys.path.insert(0, str(REPO))
    import bench

    from twitch_stream_data_pipeline_spark.plans import CATALOG

    missing = [name for name in bench.HEADLINE if name not in CATALOG]
    assert not missing, missing
