"""The engine never toggles session conf.

``spark.conf.set`` is session-wide, not thread-local: a step on one
``plans/branches.run_branches`` thread that flips a conf makes its
sibling branches plan under the flipped value. So no package module may
call ``.conf.set(`` / ``.conf.unset(`` or run ``spark.sql("SET ...")``.
A step that needs its own conf builds or derives its own session, and
``session.py`` configures the engine's session through the builder's
``.config(...)``, which this sweep allows.

Pure-filesystem test — no SparkSession needed.
"""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "etl_data_warehouse_spark"

_SET_STATEMENT = re.compile(r"\s*(RE)?SET\b", re.IGNORECASE)


def _leading_text(node: ast.expr) -> str | None:
    """The literal prefix of a string or f-string argument."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr) and node.values:
        return _leading_text(node.values[0])
    return None


def _toggles(tree: ast.AST):
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        ):
            continue
        func = node.func
        if (
            func.attr in ("set", "unset")
            and isinstance(func.value, ast.Attribute)
            and func.value.attr == "conf"
        ):
            yield node.lineno, f".conf.{func.attr}("
        elif func.attr == "sql" and node.args:
            text = _leading_text(node.args[0])
            if text is not None and _SET_STATEMENT.match(text):
                yield node.lineno, f"sql({text.strip()[:40]!r})"


def test_package_never_toggles_session_conf() -> None:
    modules = sorted(PKG.rglob("*.py"))
    assert len(modules) >= 50, f"package walk regressed ({len(modules)})"
    found = [
        f"{path.relative_to(REPO)}:{line}: {what}"
        for path in modules
        for line, what in _toggles(ast.parse(path.read_text()))
    ]
    assert not found, "session conf toggled in the engine:\n" + "\n".join(
        found
    )
